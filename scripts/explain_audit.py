#!/usr/bin/env python3
"""Physical-plan audit: execute each query, inspect the FINAL (post-AQE)
plan and verify the properties the 100-TB design depends on.

Checks per query:
- pushed:  parquet PushedFilters count (predicate pushdown reached the scan)
- codegen: WholeStageCodegen spans present (the `*(n)` markers) — under AQE
           only the executed plan shows them, so the audit runs the query
- bcast:   BroadcastHashJoin used for dimension joins
- NESTED-LOOP!: CartesianProduct / BroadcastNestedLoopJoin outside the
           queries whose algorithm is intentionally all-pairs / 1-row-probe
- unused-allowance: an EXPECT_NESTED name whose plan holds no nested
           loop — a stale allowance would hide a real regression, so the
           run fails until the name leaves the list
- readcols: ReadSchema widths (projection pruning evidence)
- cached:  for every plan-once entry (__spark_entry__.PLAN_ONCE) a second
           row: the entry is built again, which the registry serves from
           its cached analyzed plan, and the normalized physical plan the
           planner made (AQE's initial plan) must equal the fresh build's.
           The final plan is not compared: AQE re-plans from runtime
           statistics in the order query stages finish, so two runs of one
           fresh build can already end in different join strategies

Usage: python scripts/explain_audit.py [sf_dir] [name...]
"""

from __future__ import annotations

import os
import re
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
# Spark's Python workers import the engine too: they inherit PYTHONPATH from
# the JVM, which inherits this process's environment when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [_ROOT, os.environ.get("PYTHONPATH")])
)

import __spark_entry__ as entry_mod
from codecdb_queryengine_spark.session import get_spark

# Queries where a nested-loop/cartesian shape is the intended algorithm:
# scalar-threshold probes broadcast a 1-row aggregate (q11/q22, the
# reference's KeyFinder/TotalAggNode pattern) and verification forms are
# deliberately all-pairs (brute-force sim_topk).
EXPECT_NESTED = {
    "q11",
    "q22",
    "sim_topk",
    # media retrieval composition ends in the brute-force exact top-k
    "mm_ann",
    # N (1-row count) is joined to every profile row by construction
    "docs_tfidf",
    # 1-row broadcast probes: the bloom-filter map (dedup_incremental) and
    # the corpus token total (text_lm_score) join every probe row by design
    "dedup_incremental",
    "text_lm_score",
    # the 1-row (r_tot, t_tot) corpus totals cross the 4096-row bucket
    # table to form the DSIR weight model — model-sized by construction
    "docs_dsir_sample",
    # ranked retrieval joins the 1-row (N, Σdl) corpus-stats aggregate to
    # every pruned posting row (the BM25 normalization constants)
    "docs_search_ranked",
    # same 1-row (N, Σdl) corpus-stats broadcast as docs_search_ranked —
    # the post-purge gate runs the identical BM25 serving plan
    "docs_search_purged",
    # hybrid retrieval composes that BM25 plan with the brute-force cosine
    # leg (broadcast queries × all vectors — sim_topk's cost model; the
    # batch form fans 8 broadcast queries through the same single pass)
    "docs_hybrid_search",
    "docs_hybrid_search_batch",
    # heavy-hitters joins the 1-row total-count aggregate to every candidate
    # count row (the de-collected threshold probe, r4)
    "text_heavy_hitters",
    # PQ ADC scoring streams all codes past the broadcast per-query lookup
    # maps — the linear-scan-over-codes shape that defines IVF-free PQ
    "sim_ann_pq",
    # the recall@k gates each contain the brute-force ground-truth leg
    # (sim_topk's broadcast queries × all vectors) next to their serve
    "sim_ann_recall_ivf",
    "sim_ann_recall_ivfpq",
    "sim_ann_recall_lsh",
    # the two-stage serve's recall gate carries the brute-force leg too
    "sim_ann_recall_ivfpq_reranked",
    # the flat-tier two-stage recall gates add the brute-force
    # ground-truth leg
    "sim_ann_recall_ivf_reranked",
    "sim_ann_recall_lsh_reranked",
    # the operating-curve sweep: the brute-force ground-truth leg + 1-row
    # (hits × rows_read) aggregate crossjoins per operating point
    "sim_ann_ivfpq_curve",
    # trained PQ scores every code past the broadcast lookup maps, as
    # sim_ann_pq does
    "sim_ann_pq_lloyd",
    # the hour grid × type set cross join is bounded by hours·types, not data
    "events_resample",
    "events_interpolate",
    # SQ8 is a compression tier over the same exact-scan cost model as
    # sim_topk: all codes stream past the broadcast query codes
    "sim_ann_sq8",
    # 1-row broadcast of the corpus total (N) joined to every scored row
    "docs_pmi",
    "docs_mixture_weights",
    # the merged-sketch row joins the 1-row exact-total aggregate (the
    # contract's reference value) — a single-row probe by construction
    "events_hll_rollup",
}


# Queries whose scale contract REQUIRES dynamic partition pruning on a
# partitioned index/layout scan: a missing dynamicpruning expression means
# the "read only nprobe/K of the corpus" property silently regressed
# (r4 ADVICE: a cast on the partition column can void DPP on some versions).
EXPECT_DPP = {
    "sim_ann_ivf_indexed",
    "sim_ann_ivf_indexed_split",
    "sim_ann_ivf_indexed_append",
    "sim_ann_ivf_appended_split",
    "sim_ann_ivf_upserted",
    "sim_ann_ivf_cached",
    "sim_ann_ivf_filtered",
    "emb_stream_mutations",
    "sim_ann_ivf_lloyd_indexed",
    "sim_ann_ivfpq_lloyd_indexed",
    "sim_ann_ivfpq_upserted",
    "sim_ann_ivfpq_filtered",
    "emb_stream_pq_mutations",
    "emb_stream_index_ingest",
    "emb_stream_index_compact",
    "emb_stream_ivfpq_ingest",
}


# Queries whose POINT is the pre-bucketed co-located join: the plan must
# contain a SortMergeJoin over bucketed scans and ZERO shuffle Exchanges
# (BroadcastExchange for the dimension side is fine).  A shuffle appearing
# here means the bucketing metadata stopped reaching the planner.
EXPECT_BUCKETED_NOSHUFFLE = {
    "q3_bucketed",
    "q18_bucketed",
}


# Queries allowed a PARTITION-LESS window (Exchange SinglePartition + one
# sorting task).  EMPTY since r9: docs_shuffle_order / ext_equidepth_hist
# moved to operators/ordering's two-pass prefix-offset form, and
# docs_hybrid_search's bounded ≤20-row rank now runs through the batch
# ranker's PARTITIONED window — the invariant is absolute, any plan with
# a partition-less WindowExec fails the audit.
EXPECT_GLOBAL_WINDOW: set[str] = set()


def _walk_jplan(node):
    """Every physical node, descending through AQE wrappers, query stages,
    cached-relation plans and subqueries (best-effort on the last two)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _walk_jplan(node.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _walk_jplan(node.plan())
        return
    yield node
    if cls == "InMemoryTableScanExec":
        try:
            yield from _walk_jplan(node.relation().cachedPlan())
        except Exception:  # noqa: BLE001
            pass
    try:
        subs = node.subqueries()
        for i in range(subs.size()):
            yield from _walk_jplan(subs.apply(i))
    except Exception:  # noqa: BLE001
        pass
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk_jplan(ch.apply(i))


def global_windows(jplan) -> list[str]:
    """Window nodes whose partitionSpec is EMPTY — each one is an
    `Exchange SinglePartition` + a single sorting task in the executed
    plan (Spark's own WindowExec warning), i.e. a non-parallel stage."""
    hits = []
    for n in _walk_jplan(jplan):
        cls = n.getClass().getSimpleName()
        if cls in ("WindowExec", "WindowInPandasExec", "WindowGroupLimitExec"):
            try:
                if n.partitionSpec().isEmpty():
                    hits.append(cls)
            except Exception:  # noqa: BLE001
                pass
    return hits


def audit(name: str, plan: str, gwins: list[str] | None = None) -> tuple[bool, str]:
    notes = []
    ok = True
    pushed = len(re.findall(r"PushedFilters: \[(?!\])", plan))
    notes.append(f"pushed={pushed}")
    if gwins:
        if name in EXPECT_GLOBAL_WINDOW:
            notes.append("gwin(expected)")
        else:
            notes.append(f"GLOBAL-WINDOW!({','.join(gwins)})")
            ok = False
    if name in EXPECT_DPP:
        # The expression must be LIVE (`c_list IN dynamicpruning#N`), not
        # the degraded `dynamicpruningexpression(true)` Spark leaves behind
        # when PlanDynamicPruningFilters fails its broadcast-reuse check —
        # the r8 finding: a window function on the probe side silently
        # degraded every persisted-index serve to a full-layout scan while
        # this audit's plain substring check still read "dpp".  A plan may
        # legitimately print BOTH forms (AQE initial + final subplans), so
        # the live form must be present and a (true) occurrence alone fails.
        live = re.search(r"dynamicpruningexpression\([^)]+#\d+\b", plan)
        degraded = "dynamicpruningexpression(true)" in plan
        if live and not degraded:
            notes.append("dpp")
        elif degraded:
            notes.append("DPP-DEGRADED(true)!")
            ok = False
        else:
            notes.append("NO-DPP!")
            ok = False
    if name in EXPECT_BUCKETED_NOSHUFFLE:
        # word-boundary so BroadcastExchange AND ReusedExchange (a reused
        # broadcast renders as 'ReusedExchange [...]') don't count as
        # shuffles (r5 review)
        shuffles = len(re.findall(r"(?<![A-Za-z])Exchange", plan))
        if "SortMergeJoin" in plan and "Bucketed: true" in plan and shuffles == 0:
            notes.append("bucketed-noshuffle")
        else:
            notes.append(f"BUCKETED-SHUFFLE!({shuffles})")
            ok = False
    if re.search(r"\*\(\d+\)", plan):
        notes.append("codegen")
    else:
        notes.append("NO-CODEGEN")
        ok = False
    if "BroadcastHashJoin" in plan:
        notes.append("bcast")
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        if name in EXPECT_NESTED:
            notes.append("nested(expected)")
        else:
            notes.append("NESTED-LOOP!")
            ok = False
    elif name in EXPECT_NESTED:
        notes.append("unused-allowance")
    # stop at end-of-line: explain truncates long schemas with "..." and
    # drops the closing ">", so an unanchored match would run into the
    # rest of the plan text (q1's 7-col read counted as 81)
    reads = re.findall(r"ReadSchema: struct<([^>\n]*)", plan)
    if reads:
        widths = [
            f"{len(r.split(','))}+" if r.endswith("...") else len(r.split(","))
            for r in reads
            if r
        ]
        notes.append(f"readcols={widths}")
    return ok, " ".join(notes)


def planned(jplan) -> str:
    """The physical plan as planned, before AQE re-planned it at run time,
    without the expression, subquery and exchange ids that differ between
    two builds of one query."""
    if jplan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        jplan = jplan.initialPlan()
    return re.sub(r"#\d+L?\b|plan_id=\d+", "#", jplan.toString())


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark("explain-audit")
    queries = entry_mod.queries()
    bad, unused = [], []
    for name, fn in queries.items():
        if names and name not in names:
            continue
        jplan = None
        try:
            df = fn(spark, sf_dir)
            df.collect()  # drive to completion so AQE finalizes the plan
            jplan = df._jdf.queryExecution().executedPlan()
            ok, notes = audit(name, jplan.toString(), global_windows(jplan))
        except Exception as e:  # noqa: BLE001
            ok, notes = False, f"EXCEPTION {e}"
        print(f"{'OK ' if ok else 'BAD'} {name:22s} {notes}", flush=True)
        if not ok:
            bad.append(name)
        if "unused-allowance" in notes:
            unused.append(name)
        if name not in entry_mod.PLAN_ONCE or jplan is None:
            continue
        try:
            again = fn(spark, sf_dir)  # served from the plan cache
            again.collect()
            same = planned(again._jdf.queryExecution().executedPlan()) == planned(jplan)
            ok, notes = same, "same-plan" if same else "PLAN-DIFFERS!"
        except Exception as e:  # noqa: BLE001
            ok, notes = False, f"EXCEPTION {e}"
        print(f"{'OK ' if ok else 'BAD'} {name + ' [cached]':22s} {notes}", flush=True)
        if not ok:
            bad.append(f"{name} [cached]")
    if bad:
        print("bad:", ", ".join(bad))
    if unused:
        print("unused-allowance:", ", ".join(unused))
    return 1 if bad or unused else 0


if __name__ == "__main__":
    raise SystemExit(main())
