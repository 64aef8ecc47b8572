"""Persisted IVF index: build once, store as a partitioned parquet layout,
query with partition-pruned probes.

The similarity operators (operators/similarity.py) recompute centroid
assignment per query — right for one-shot analytics, wrong for a serving
path that answers many top-k queries against the same corpus.  This module
is the index-as-a-table form:

- `ivf_index_build` runs the SAME expression-form assignment ivf_topk uses
  (dot/|c| ranking, min-c_id tie-break — oracle-compatible) ONCE and writes
  two parquet tables: `centroids/` (K rows) and `lists/` partitioned BY
  THE LIST ID, with each vector's norm precomputed.
- `ivf_index_topk` ranks the nprobe nearest lists per query and joins the
  broadcast probe set against `lists/` ON THE PARTITION COLUMN — Spark's
  dynamic partition pruning turns that into reading only the probed
  partitions, i.e. ~nprobe/K of the index regardless of corpus size.
  That is the scale contract of an inverted-file index expressed in
  storage layout instead of a custom in-memory structure: at 1e10 vectors
  a query touches nprobe partitions, not the corpus.

Results are bit-identical to operators/similarity.ivf_topk: both forms
run the same assignment (similarity._ivf_assign) and the same serve core
(similarity._ivf_cosine_rank; the integer tier _micro_assign /
_ivf_micro_rank), with norms persisted as exact doubles — so the
sim_ann_ivf oracle gates the indexed path too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codecdb_queryengine_spark.operators.similarity import (
    _ivf_assign,
    _ivf_cosine_rank,
    _ivf_micro_rank,
    _ivf_model,
    _micro_assign,
    _mod_centroids,
)
from codecdb_queryengine_spark.session import run_parallel
from codecdb_queryengine_spark.sources.io import (
    invalidate_layout,
    serve_memo,
    write_task_count,
)


def _scan(spark: SparkSession, table_dir: str, cached: bool) -> DataFrame:
    """A layout table's DataFrame handle; cached=True reuses the resolved
    file index across serves (io.serve_memo)."""
    return serve_memo(spark, table_dir, lambda: spark.read.parquet(table_dir), cached)


def ivf_index_build(
    vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_mod: int = 29,
    centroids: DataFrame | None = None,
    max_list_rows: int | None = None,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Assign every vector to its nearest centroid and persist the index.

    Layout: `<path>/centroids` (c_id, c_vec, c_norm) and `<path>/lists`
    (n_id, n_vec, n_norm) partitioned by c_list.

    `meta_cols` rides metadata columns (labels, timestamps, source tags)
    into the lists layout next to each vector, which is what makes
    FILTERED vector search a storage property: a predicate on a metadata
    column reaches the parquet scan of the probed partitions (pushdown
    below the DPP prune — see ivf_index_topk's candidate_filter), instead
    of a post-search join back to the corpus.

    `max_list_rows` caps the rows per physical partition (r6 verdict
    item 6): real embedding distributions are lumpy, and a hot list makes
    one partition the serving bottleneck — with the cap set, any list
    whose row count exceeds it is SPLIT across ceil(n/cap) sub-partitions
    via a secondary `c_slot` partition column (pmod(n_id, n_slots) — no
    per-list window, so the build never funnels a hot list through a
    single task).  Serving joins on `c_list` alone, so dynamic partition
    pruning still skips unprobed lists at the first directory level while
    a probed hot list fans out over its slots as parallel tasks.  The
    split is a two-pass build — a tiny per-list count aggregate, then the
    assignment projection joined to the broadcast counts — which is the
    scale-correct shape: pass 1's result is K' rows however big the
    corpus is.
    """
    if centroids is None:
        centroids = _mod_centroids(vectors, vec_col, id_col, centroid_mod)
    lists = _ivf_assign(vectors, _ivf_model(centroids), vec_col, id_col, meta_cols)

    def _write_cents() -> None:
        centroids.write.mode("overwrite").parquet(os.path.join(path, "centroids"))

    if max_list_rows is not None:
        # Capped layout: the slot plan sizes the write, so the centroid
        # count is never needed — and the centroid-artifact write and the
        # per-list count pass are INDEPENDENT jobs (the assignment folds
        # the centroid DataFrame, not the written artifact): overlap them
        # (guide §2.6; was three sequential actions, now two overlapped +
        # the lists write).
        _, rows = run_parallel(
            vectors.sparkSession,
            [
                _write_cents,
                lambda: lists.groupBy("c_list")
                .agg(F.count(F.lit(1)).alias("_n"))
                .collect(),
            ],
            2,
        )
        counts = {int(r["c_list"]): int(r["_n"]) for r in rows}
        _write_lists(lists, path, max_list_rows, precomputed_counts=counts)
    else:
        _write_cents()
        # K from the just-written centroid artifact (metadata-only count
        # under parquet aggregate pushdown — re-counting the centroid
        # DataFrame would re-run its corpus filter) sizes the uncapped
        # layout write.
        n_lists = vectors.sparkSession.read.parquet(
            os.path.join(path, "centroids")
        ).count()
        _write_lists(lists, path, None, n_dirs_hint=int(n_lists))


def _check_append_schema(assigned: DataFrame, existing: DataFrame) -> None:
    """Fail fast when an append/upsert batch does not carry exactly the
    layout's own data columns (r7 ADVICE): appending without the layout's
    metadata columns writes NULL-metadata rows that silently vanish from
    candidate_filter searches, and extra columns would fork the schema."""
    new_cols = sorted(c for c in assigned.columns if c != "c_list")
    old_cols = sorted(c for c in existing.columns if c not in ("c_list", "c_slot"))
    if new_cols != old_cols:
        raise ValueError(
            f"index batch columns {new_cols} do not match the layout's data "
            f"columns {old_cols} — pass the layout's own meta_cols so "
            "filtered search keeps working on appended/updated rows"
        )


def _list_dir(values) -> list[str]:
    return [f"c_list={int(v)}" for v in sorted(values)]


# Layout writes pay per-TASK overhead, not per-row, at maintenance scale: a
# dynamic-partition write keyed repartition inherits spark.sql.shuffle.
# partitions (64 locally), and 64 tasks writing ~140 tiny partition dirs
# measured 3.2 s vs 1.05 s at 8 tasks for the identical layout (r11
# optimization round).  So every list write sizes its exchange to the
# number of physical partition dirs (io.write_task_count, capped by the
# shuffle parallelism so a 100-TB index still saturates the cluster).
# Hash partitioning on the full partition-column tuple keeps every dir's
# rows in ONE task, so the one-file-per-directory layout is unchanged.


def ivf_index_append(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Incrementally add vectors to an EXISTING persisted index without a
    rebuild: read the layout's own centroid model back (never the
    caller's guess — the index-layout discipline), assign only the new
    batch with the same fold expressions, and land new files only in the
    touched c_list directories — maintenance cost O(batch + touched
    lists), not O(corpus).

    SLOT-AWARE (r8): for a layout built with `max_list_rows` (secondary
    `c_slot` partitioning) the append reads the persisted cap back from
    `lists_meta` and RE-APPLIES it — new rows route into the list's
    existing slots via the same pmod(n_id, n_slots) rule when the list
    still fits, and a list the batch pushes past cap·slots is re-sharded
    across ceil(total/cap) slots (only that list is read back and
    rewritten, through the journaled two-phase swap).  Appending into a
    split layout without the meta artifact raises instead of silently
    writing mixed-depth directories, and a batch whose columns don't
    match the layout's data columns (e.g. missing meta_cols) raises
    instead of planting NULL-metadata rows (r7 ADVICE).  Serving needs no
    change: partition discovery picks up the new files and results are
    identical to a from-scratch build over the union (gated by
    sim_ann_ivf_indexed_append / sim_ann_ivf_appended_split under the
    verbatim sim_ann_ivf oracle)."""
    spark = new_vectors.sparkSession
    centroids = spark.read.parquet(os.path.join(path, "centroids"))
    assigned = _ivf_assign(
        new_vectors, _ivf_model(centroids), vec_col, id_col, meta_cols
    )
    _append_assigned(spark, path, assigned)


def _append_assigned(spark: SparkSession, path: str, assigned: DataFrame) -> None:
    """Layout-agnostic append core shared by the flat-IVF and IVFADC
    indexes: `assigned` is the batch already in the layout's own row form
    (vectors+norms for IVF, PQ codes for IVFADC) with its `c_list`
    routing column; everything from here down is pure partition routing
    (see ivf_index_append's docstring for the slot-aware contract)."""
    from codecdb_queryengine_spark.sources import io as IO

    lists_path = os.path.join(path, "lists")
    existing = spark.read.parquet(lists_path)
    _check_append_schema(assigned, existing)
    if "c_slot" not in existing.columns:
        # Per-list routing plan: batch-sized aggregate; it sizes the
        # pre-write exchange (see io.write_task_count).
        new_counts = {
            int(r["c_list"]): int(r["_n"])
            for r in assigned.groupBy("c_list")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        }
        (
            assigned.repartition(write_task_count(spark, len(new_counts)), "c_list")
            .write.mode("append")
            .partitionBy("c_list")
            .parquet(lists_path)
        )
        invalidate_layout(path)
        return
    cap = _read_layout_meta(spark, path)
    if cap is None:
        raise ValueError(
            f"{path}: lists are c_slot-split but the layout has no "
            "lists_meta artifact (pre-r8 build?) — appending blind would "
            "regrow hot lists past their cap; rebuild the index once with "
            "the current ivf_index_build to persist max_list_rows"
        )
    stats = _append_stats(existing, assigned).collect()
    new_counts = {int(r["c_list"]): int(r["_new"]) for r in stats}
    old_stats = {
        int(r["c_list"]): (
            int(r["_old"]),
            int(r["_slots"]) if r["_slots"] is not None else 0,
        )
        for r in stats
    }
    touched = sorted(new_counts)
    stay: dict[int, int] = {}
    grow: list[int] = []
    for c_list in touched:
        old_n, cur_slots = old_stats.get(c_list, (0, 0))
        need = -(-(old_n + new_counts[c_list]) // cap)
        if 0 < cur_slots >= need:
            stay[c_list] = cur_slots
        else:
            grow.append(c_list)

    # The stay append and the grow re-shard are independent writes over
    # DISJOINT c_list directories (the grow rewrite stages under its own
    # .growing root until the swap) — run them 2-in-flight (guide §2.6).
    def _write_stay() -> None:
        (
            _apply_slots(
                assigned.filter(F.col("c_list").isin(sorted(stay))),
                spark,
                sorted(stay.items()),
            )
            .repartition(
                write_task_count(spark, sum(stay.values())), "c_list", "c_slot"
            )
            .write.mode("append")
            .partitionBy("c_list", "c_slot")
            .parquet(lists_path)
        )

    def _write_grow() -> None:
        old_rows = existing.filter(F.col("c_list").isin(grow)).select(
            *[
                F.col(c).cast("long") if c == "c_list" else F.col(c)
                for c in assigned.columns
            ]
        )
        merged = old_rows.unionByName(assigned.filter(F.col("c_list").isin(grow)))
        # merged per-list counts are already known (old_stats + new_counts),
        # so the slot plan needs no recount pass over the merged frame
        plan = _slot_plan(
            {c: old_stats.get(c, (0, 0))[0] + new_counts[c] for c in grow},
            cap,
        )
        tmp = lists_path.rstrip("/") + ".growing"
        (
            _apply_slots(merged, spark, plan)
            .repartition(
                write_task_count(spark, sum(s for _, s in plan)), "c_list", "c_slot"
            )
            .write.mode("overwrite")
            .partitionBy("c_list", "c_slot")
            .parquet(tmp)
        )
        IO.swap_partition_dirs(lists_path, tmp, promote=_list_dir(grow))

    writes = ([_write_stay] if stay else []) + ([_write_grow] if grow else [])
    run_parallel(spark, writes, 2)
    invalidate_layout(path)


def _append_stats(existing: DataFrame, assigned: DataFrame) -> DataFrame:
    """ONE fused stats pass for a split-layout append: per touched list,
    the batch's new rows (_new), the layout's existing rows (_old) and its
    slot count (_slots).
    The layout side is first semi-joined with the batch's distinct c_list
    values (broadcast, cast to the partition type so the join key stays
    the bare partition column), so the union and the aggregate see only
    the touched lists, and dynamic partition pruning scans only their
    directories rather than all K'.  Spark inserts that pruning only when
    the batch's plan carries a selective filter (a CDC micro-batch's op
    filter, a filtered source); an unfiltered batch, e.g. one made with
    createDataFrame, still scans every list directory.  Still one action."""
    touched = assigned.select(
        F.col("c_list").cast(existing.schema["c_list"].dataType).alias("c_list")
    ).distinct()
    return (
        assigned.select(
            F.col("c_list").cast("long").alias("c_list"),
            F.lit(None).cast(existing.schema["c_slot"].dataType).alias("c_slot"),
            F.lit(1).alias("_b"),
        )
        .unionByName(
            existing.join(F.broadcast(touched), "c_list", "left_semi").select(
                F.col("c_list").cast("long").alias("c_list"),
                "c_slot",
                F.lit(0).alias("_b"),
            )
        )
        .groupBy("c_list")
        .agg(
            F.sum("_b").alias("_new"),
            F.count(F.when(F.col("_b") == 0, 1)).alias("_old"),
            (F.max(F.when(F.col("_b") == 0, F.col("c_slot"))) + 1).alias("_slots"),
        )
    )


def ivf_index_upsert(
    path: str,
    updates: DataFrame | None = None,
    delete_ids: DataFrame | list[int] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
    spark: SparkSession | None = None,
) -> int:
    """Vector UPDATE + DELETE against the persisted index (r7 verdict
    item 1b) — the missing lifecycle piece between append and full
    rebuild.  A 100-TB corpus mutates; this pass applies a mutation batch
    by rewriting ONLY the touched inverted lists:

    - mutated ids (updated ∪ deleted) are located via a column-pruned
      (n_id, c_list) projection of the lists — bytes read proportional to
      two thin columns, not the vectors;
    - update vectors are re-assigned against the layout's OWN persisted
      centroids (the quantizer is fixed at build time — same contract as
      append), so an update may migrate a vector between lists;
    - touched lists = old residences ∪ new assignments; their surviving
      rows (minus every mutated id) union the re-assigned updates, the
      persisted `max_list_rows` cap is RE-APPLIED for split layouts, and
      just those c_list directories are promoted through the journaled
      two-phase swap (a list whose every row was deleted is dropped).

    Untouched lists are never rewritten; serving stays identical to a
    from-scratch build over the mutated corpus with the same centroids
    (gated by sim_ann_ivf_upserted under the sim_ann_ivf oracle over a
    mutated-corpus CTE).  Returns the number of touched lists."""
    if updates is None and delete_ids is None:
        raise ValueError("ivf_index_upsert: nothing to do — no updates, no deletes")
    spark = spark or (updates.sparkSession if updates is not None else None)
    if spark is None:
        raise ValueError("ivf_index_upsert: pass spark= when updates is None")
    if updates is not None:
        centroids = spark.read.parquet(os.path.join(path, "centroids"))
        assigned = _ivf_assign(
            updates, _ivf_model(centroids), vec_col, id_col, meta_cols
        )
    else:
        assigned = None
    return _upsert_assigned(
        spark, path, assigned, delete_ids,
        upd_id_frame=updates.select(id_col) if updates is not None else None,
    )


def _upsert_assigned(
    spark: SparkSession,
    path: str,
    assigned: DataFrame | None,
    delete_ids: DataFrame | list[int] | None,
    upd_id_frame: DataFrame | None = None,
) -> int:
    """Layout-agnostic upsert core shared by the flat-IVF and IVFADC
    indexes: `assigned` is the update batch already in the layout's own
    row form (re-assigned vectors for IVF, re-encoded PQ codes for
    IVFADC) keyed by `n_id` with its new `c_list`; everything from here
    down is locate → touched-list rewrite → journaled swap (see
    ivf_index_upsert's docstring for the contract)."""
    from codecdb_queryengine_spark.sources import io as IO

    lists_path = os.path.join(path, "lists")
    if delete_ids is None:
        del_df = spark.createDataFrame([], "n_id long")
    elif isinstance(delete_ids, DataFrame):
        del_df = delete_ids.select(
            F.col(delete_ids.columns[0]).alias("n_id")
        ).distinct()
    else:
        del_df = spark.createDataFrame(
            sorted({(int(i),) for i in delete_ids}), "n_id long"
        )
    if assigned is not None:
        # the raw update-id frame when the caller has one: the assignment
        # (IVF centroid fold / IVFADC re-encode) is a 1:1 projection of the
        # updates, so the id set is identical — but deriving ids from
        # `assigned` would drag the quantizer-model subtree into every
        # broadcast that only needs ids (the locate join, the anti-join)
        upd_ids = (
            upd_id_frame.select(F.col(upd_id_frame.columns[0]).alias("n_id"))
            if upd_id_frame is not None
            else assigned.select("n_id")
        )
    else:
        upd_ids = spark.createDataFrame([], "n_id long")
    mutated = del_df.unionByName(upd_ids).distinct()
    # TWO actions, the second only for a non-empty batch (an empty, drained
    # CDC tail pays one aggregate over its own events and scans nothing of
    # the layout — not even its schema):
    #
    # 1. ONE rollup aggregate over the batch events answers together the
    #    batch-sanity guard text_index_upsert mirrors (r9 ADVICE items
    #    1+2: NULL ids, duplicate update ids, an id both updated and
    #    deleted — each a silent wrong-answer class for the anti-join +
    #    union below), the per-op presence, AND the per-target-list new
    #    row counts the slot plan needs.  Grand-total/per-op rows come
    #    from grouping_id; collect is bounded by the batch's target lists.
    # 2. ONE pass over the thin (n_id, c_list) projection of the layout
    #    returns per-list totals and mutated counts together.  The filter
    #    keeps the collected rows bounded by the mutation batch PLUS the
    #    batch's target lists (never K'): a list touched only via
    #    `assigned` (vector moved/inserted with no mutated existing row
    #    there) keeps all its existing rows in the rewrite, so its
    #    existing count MUST enter merged_n or the slot plan undersizes
    #    and rows-per-slot silently exceed the persisted cap (r11 ADVICE,
    #    high).  The target-list bound is a broadcast semi-join against
    #    the batch's own distinct lists.
    ev = del_df.select(
        "n_id", F.lit(None).cast("long").alias("c_list"), F.lit(1).alias("_d")
    )
    if assigned is not None:
        ev = ev.unionByName(
            assigned.select(
                "n_id", F.col("c_list").cast("long").alias("c_list"),
                F.lit(0).alias("_d"),
            )
        )
    stats = (
        ev.rollup("_d", "c_list")
        .agg(
            F.grouping_id().alias("_gid"),
            F.count(F.lit(1)).alias("_n"),
            F.countDistinct("n_id").alias("_nd"),
            F.count(F.when(F.col("n_id").isNull(), 1)).alias("_null"),
        )
        .collect()
    )
    g = next((r for r in stats if r["_gid"] == 3), None)
    if g is None or not g["_n"]:
        return 0  # empty mutation batch (e.g. a drained CDC stream's tail)
    if g["_null"]:
        raise ValueError("index upsert: NULL id in the mutation batch")
    sub = {int(r["_d"]): r for r in stats if r["_gid"] == 1}
    u_row, d_row = sub.get(0), sub.get(1)
    nd_u = int(u_row["_nd"]) if u_row else 0
    if u_row and int(u_row["_n"]) != nd_u:
        raise ValueError("index upsert: duplicate id in updates")
    if int(g["_nd"]) != nd_u + (int(d_row["_nd"]) if d_row else 0):
        raise ValueError(
            "index upsert: id in both updates and delete_ids — ambiguous "
            "latest state; pre-reduce the batch to one terminal event per "
            "id (or split into two calls)"
        )

    existing = spark.read.parquet(lists_path)
    split = "c_slot" in existing.columns
    cap = _read_layout_meta(spark, path)
    if split and cap is None:
        raise ValueError(
            f"{path}: c_slot-split lists without a lists_meta artifact — "
            "rebuild once with the current index build"
        )
    if assigned is not None:
        _check_append_schema(assigned, existing)
    base = (
        existing.select("n_id", "c_list")
        .join(F.broadcast(mutated.withColumn("_m", F.lit(1))), "n_id", "left")
        .groupBy("c_list")
        .agg(F.count(F.lit(1)).alias("_n"), F.count("_m").alias("_dead"))
    )
    keep = F.col("_dead") > 0
    if assigned is not None:
        tgt = assigned.select(F.col("c_list").cast("long").alias("c_list")).distinct()
        base = base.join(
            F.broadcast(tgt.withColumn("_t", F.lit(1))), "c_list", "left"
        )
        keep = keep | F.col("_t").isNotNull()
    loc_stats = base.filter(keep).collect()
    new_n = {
        int(r["c_list"]): int(r["_n"])
        for r in stats
        if r["_gid"] == 0 and int(r["_d"]) == 0 and r["c_list"] is not None
    }
    surv_n = {int(r["c_list"]): int(r["_n"]) - int(r["_dead"]) for r in loc_stats}
    touched = set(surv_n) | set(new_n)
    if not touched:
        return 0
    data_cols = [c for c in existing.columns if c != "c_slot"]
    survivors = (
        existing.filter(F.col("c_list").isin(sorted(touched)))
        .join(F.broadcast(mutated), "n_id", "left_anti")
        .select(
            *[
                F.col(c).cast("long") if c == "c_list" else F.col(c)
                for c in data_cols
            ]
        )
    )
    merged = (
        survivors.unionByName(assigned.select(*data_cols))
        if assigned is not None
        else survivors
    )
    merged_n = {
        c: surv_n.get(c, 0) + new_n.get(c, 0) for c in touched
    }
    part_cols = ["c_list"]
    if split:
        plan = _slot_plan({c: n for c, n in merged_n.items() if n > 0}, cap)
        merged = _apply_slots(merged, spark, plan)
        part_cols = ["c_list", "c_slot"]
        n_dirs = sum(s for _, s in plan)
    else:
        n_dirs = sum(1 for n in merged_n.values() if n > 0)
    tmp = lists_path.rstrip("/") + ".upserting"
    (
        merged.repartition(max(1, write_task_count(spark, n_dirs)), *part_cols)
        .write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(tmp)
    )
    staged = {
        int(e.split("=", 1)[1])
        for e in os.listdir(tmp)
        if e.startswith("c_list=")
    }
    IO.swap_partition_dirs(
        lists_path,
        tmp,
        promote=_list_dir(staged),
        drop=_list_dir(touched - staged),
    )
    invalidate_layout(path)
    return len(touched)


def _slot_plan(counts: dict[int, int], cap: int) -> list[tuple[int, int]]:
    """Per-list slot counts from per-list row counts: ceil(n/cap), min 1 —
    the one rule every capped write shares (build, append regrow, upsert
    rewrite), so two paths can never disagree on a list's slot fanout."""
    return sorted(
        (int(c), max(1, -(-int(n) // cap))) for c, n in counts.items()
    )


def _apply_slots(lists: DataFrame, spark: SparkSession, slots) -> DataFrame:
    """Attach the secondary `c_slot` partition column from an ALREADY
    COLLECTED slot plan: pmod(n_id, n_slots) against a broadcast K'-row
    LocalRelation — no per-list window, so a hot list never funnels
    through one task, and the LocalRelation build side keeps Spark from
    planting a dynamic-pruning subquery across a self-join (the
    `IN dynamicpruning#N has not finished` codegen failure on the IVFADC
    upsert plan)."""
    sdf = spark.createDataFrame(sorted(slots), "c_list long, _slots long")
    return (
        lists.join(F.broadcast(sdf), "c_list")
        .withColumn("c_slot", F.pmod(F.col("n_id"), F.col("_slots")))
        .drop("_slots")
    )


def _write_lists(
    lists: DataFrame,
    path: str,
    max_list_rows: int | None,
    n_dirs_hint: int | None = None,
    precomputed_counts: dict[int, int] | None = None,
) -> None:
    """Write the `lists/` layout, splitting oversized lists across a
    secondary `c_slot` partition level when `max_list_rows` is set (see
    ivf_index_build's docstring for the scale rationale).  The cap is
    persisted IN the layout (`lists_meta`, 1 row) so maintenance passes
    re-apply the layout's own setting instead of a caller's guess — the
    index-layout discipline that keeps append/upsert from silently
    regrowing hot lists.

    The pre-write exchange is sized to the number of physical partition
    directories (io.write_task_count): the capped path knows it exactly
    from its own slot plan; the uncapped path uses `n_dirs_hint` (the centroid
    count) and falls back to the keyed default when no hint is given."""
    spark = lists.sparkSession
    part_cols = ["c_list"]
    n_dirs = n_dirs_hint
    if max_list_rows is not None:
        if precomputed_counts is not None:
            counts = precomputed_counts
        else:
            rows = (
                lists.groupBy("c_list").agg(F.count(F.lit(1)).alias("_n")).collect()
            )
            counts = {int(r["c_list"]): int(r["_n"]) for r in rows}
        plan = _slot_plan(counts, max_list_rows)
        n_dirs = sum(s for _, s in plan)
        lists = _apply_slots(lists, spark, plan)
        part_cols = ["c_list", "c_slot"]
    shaped = (
        lists.repartition(write_task_count(spark, n_dirs), *part_cols)
        if n_dirs is not None
        else lists.repartition(*part_cols)
    )
    (
        shaped.write.mode("overwrite")
        .partitionBy(*part_cols)
        .parquet(os.path.join(path, "lists"))
    )
    cap = None if max_list_rows is None else int(max_list_rows)
    import pyarrow as pa

    from codecdb_queryengine_spark.sources import io as IO

    IO.tiny_meta_write(
        spark,
        os.path.join(path, "lists_meta"),
        pa.table({"max_list_rows": pa.array([cap], type=pa.int64())}),
    )
    invalidate_layout(path)


def _read_layout_meta(spark: SparkSession, path: str) -> int | None:
    """The layout's persisted max_list_rows cap, or None when the layout
    predates the meta artifact or was built uncapped."""
    from codecdb_queryengine_spark.sources import io as IO

    t = IO.tiny_meta_read(spark, os.path.join(path, "lists_meta"))
    v = t.column("max_list_rows")[0].as_py() if t is not None and t.num_rows else None
    return None if v is None else int(v)


def ivf_index_topk(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    candidate_filter: str | None = None,
    cached: bool = False,
) -> DataFrame:
    """Top-k over the persisted index: rank nprobe lists per query against
    the (broadcast) centroid table, then score ONLY the probed partitions
    of `lists/` — the c_list equi-join on the partition column lets
    dynamic partition pruning skip every unprobed list's files.

    `candidate_filter` (a SQL predicate over the lists columns, e.g.
    `"label = 1"` when the index was built with meta_cols) restricts the
    CANDIDATE set before scoring — filtered vector search as one scan:
    the predicate lands in the parquet PushedFilters of the probed
    partitions (row-group pruning under the DPP prune), never a
    post-search join back to the corpus.  Lists are assigned before
    filtering, so results equal brute-force-over-the-filtered-subset
    restricted to the probed lists — the same probe semantics as the
    unfiltered path."""
    cents = _scan(spark, os.path.join(path, "centroids"), cached)
    lists = _scan(spark, os.path.join(path, "lists"), cached)
    if candidate_filter is not None:
        lists = lists.filter(candidate_filter)
    # the probe side casts to the partition type discovery inferred; the
    # scan side stays untouched so DPP fires (scripts/explain_audit.py pins
    # the LIVE dynamicpruning subquery on this scan)
    return _ivf_cosine_rank(
        lists, queries, _ivf_model(cents), k, nprobe,
        part_type=dict(lists.dtypes)["c_list"],
    )


# --- exact-integer (Lloyd-trained) index variant ---------------------------


def _write_model_table(
    spark: SparkSession,
    table_dir: str,
    rows: list[tuple],
    fields: tuple[tuple[str, str], ...],
) -> None:
    """Persist a tiny driver-side model artifact ([(ints and [int,...])
    tuples]) through io.tiny_meta_write — pyarrow on local paths (~5 ms vs
    a 0.3-0.5 s Spark job per artifact; a trained build writes several).
    `fields` is ((name, "long"|"array"), ...)."""
    import pyarrow as pa

    from codecdb_queryengine_spark.sources import io as IO

    types = {"long": pa.int64(), "array": pa.list_(pa.int64())}
    schema = pa.schema([(name, types[kind]) for name, kind in fields])
    IO.tiny_meta_write(
        spark,
        table_dir,
        pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows], schema=schema),
    )


def ivf_index_build_micro(
    vectors: DataFrame,
    path: str,
    cents: list[tuple[int, list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_list_rows: int | None = None,
) -> None:
    """Persist an IVF index over the micro-quantized integer space with a
    TRAINED centroid model (operators/similarity.kmeans_lloyd_micro) —
    the trained counterpart of ivf_index_build, with the same layout
    contract (`centroids/` K rows, `lists/` partitioned by c_list,
    optional hot-list splitting via `max_list_rows` — see
    ivf_index_build) but BIGINT vectors and integer-L2 assignment, so the
    whole train→persist→serve loop stays bit-replayable by a SQL
    oracle."""
    spark = vectors.sparkSession
    _write_model_table(
        spark, os.path.join(path, "centroids"), sorted(cents),
        (("c_id", "long"), ("c", "array")),
    )
    # the in-memory tier's own assignment projection (no crossJoin
    # expansion, no groupBy(n_id) shuffle ahead of the repartition write)
    assigned = _micro_assign(vectors, cents, vec_col, id_col)
    _write_lists(assigned, path, max_list_rows, n_dirs_hint=len(cents))


def ivf_index_topk_micro(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    cached: bool = False,
) -> DataFrame:
    """Top-k over the persisted integer index: the in-memory tier's serve
    core (similarity._ivf_micro_rank — window-free probe selection, nprobe
    lists per query, DPP on the c_list equi-join with the scan-side
    partition column untouched) over the scanned lists, every distance
    BIGINT.  Output matches operators/similarity.ivf_topk_micro exactly,
    so one oracle gates both forms."""
    cents = _collect_rows(spark, os.path.join(path, "centroids"), ("c_id", "c"))
    if not cents:
        raise ValueError(f"ivf_index_topk_micro: empty centroid artifact at {path}")
    lists = _scan(spark, os.path.join(path, "lists"), cached)
    return _ivf_micro_rank(
        lists, queries, cents, k, nprobe, part_type=dict(lists.dtypes)["c_list"]
    )


# --- persisted IVFADC (IVF-PQ) index ---------------------------------------


def ivfpq_index_build_micro(
    vectors: DataFrame,
    path: str,
    cents: list,
    cbs: list,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_subspaces: int = 4,
    max_list_rows: int | None = None,
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Persist an IVFADC index for a trained model pair (similarity.
    ivfpq_train_micro): `centroids/` (K rows) + `codebooks/` (M·Kc rows)
    + `lists/` holding ONLY the codes — (n_id, cmap[, meta...]) partitioned
    by the coarse list id.  `meta_cols` rides metadata columns next to the
    codes for FILTERED vector search, exactly like ivf_index_build: the
    predicate reaches the parquet scan of the probed partitions (pushdown
    under the DPP prune), never a post-search join back to the corpus.  This is the storage form of Jégou'11 §IV's memory
    contract: M small codes per vector instead of d floats (here
    map<m,code> next to d·8-byte micro vectors — the full-precision
    corpus is NOT in the index), and serving scans just the probed
    partitions.  Everything stays BIGINT, so the persisted round-trip is
    bit-replayable by the same SQL oracle as the in-memory composition."""
    from codecdb_queryengine_spark.operators.similarity import ivfpq_encode_micro

    spark = vectors.sparkSession
    _write_model_table(
        spark, os.path.join(path, "centroids"), sorted(cents),
        (("c_id", "long"), ("c", "array")),
    )
    _write_model_table(
        spark, os.path.join(path, "codebooks"), sorted(cbs),
        (("m", "long"), ("c_id", "long"), ("c_sub", "array")),
    )
    codes = ivfpq_encode_micro(
        vectors, cents, cbs, dim=dim, vec_col=vec_col, id_col=id_col,
        num_subspaces=num_subspaces, meta_cols=meta_cols,
    )
    _write_lists(codes, path, max_list_rows, n_dirs_hint=len(cents))


def ivfpq_index_topk_micro(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    candidate_filter: str | None = None,
    cached: bool = False,
) -> DataFrame:
    """ADC top-k over the persisted IVFADC index: the tiny models are
    collected back into literal expressions (the similarity.
    ivfpq_rank_micro serve shape) and the codes scan joins the broadcast
    probe set ON THE PARTITION COLUMN — dynamic partition pruning reads
    only the nprobe probed lists per query set (the scan-side partition
    column stays untouched; the probe side casts to the inferred
    partition type, r4 ADVICE).  Output matches ivf_pq_topk_lloyd_micro
    exactly, so one oracle gates both forms.

    dim / num_subspaces / num_codewords are INFERRED from the persisted
    model artifacts (r5 review): the index stores no hyperparameter
    metadata, and serving with stale caller-supplied values would NULL
    the ADC lookups — and NULLs rank FIRST under the ascending score
    window, i.e. plausible-looking garbage instead of an error."""
    from codecdb_queryengine_spark.operators.similarity import ivfpq_rank_micro

    cents, cbs = _read_pq_models(spark, path)
    dim = len(cents[0][1])
    num_subspaces = len({m for m, _, _ in cbs})
    num_codewords = max(c_id for _, c_id, _ in cbs) + 1
    lists = _scan(spark, os.path.join(path, "lists"), cached)
    part_type = dict(lists.dtypes)["c_list"]
    if candidate_filter is not None:
        # filtered vector search as one scan, same contract as
        # ivf_index_topk: the predicate lands in the PushedFilters of the
        # probed partitions (codes were assigned before filtering, so
        # results equal brute-force-over-the-filtered-subset restricted
        # to the probed lists)
        lists = lists.filter(candidate_filter)
    return ivfpq_rank_micro(
        lists,
        queries,
        cents,
        cbs,
        dim=dim,
        k=k,
        nprobe=nprobe,
        num_subspaces=num_subspaces,
        num_codewords=num_codewords,
        probe_list_type=part_type,
    )


def _read_pq_models(spark: SparkSession, path: str) -> tuple[list, list]:
    """The layout's OWN persisted quantizer pair (coarse centroids +
    residual codebooks), collected back into the literal-model form the
    similarity expressions take.  Maintenance passes must re-encode
    against these — never a caller-supplied model — or serving would mix
    codes from two quantizers (the same index-layout discipline as
    ivf_index_append's centroid read-back)."""
    cents = _collect_rows(
        spark, os.path.join(path, "centroids"), ("c_id", "c")
    )
    cbs = _collect_rows(
        spark, os.path.join(path, "codebooks"), ("m", "c_id", "c_sub")
    )
    if not cents or not cbs:
        raise ValueError(f"empty IVFADC model artifacts at {path}")
    return cents, cbs


def _collect_rows(
    spark: SparkSession, table_dir: str, cols: tuple[str, ...]
) -> list[tuple]:
    """Sorted tuples of a (tiny) model artifact's columns through
    io.tiny_meta_read (no Spark job on local paths; a serve/encode pass
    touches several).  Ints stay ints and array cells become [int, ...],
    so the literal-model expressions are bit-identical."""
    from codecdb_queryengine_spark.sources import io as IO

    def _norm(v):
        if isinstance(v, list):
            return [int(x) for x in v]
        return int(v)

    t = IO.tiny_meta_read(spark, table_dir)
    if t is None:
        raise FileNotFoundError(f"{table_dir}: no model table")
    data = [t.column(c).to_pylist() for c in cols]
    return sorted(tuple(_norm(v) for v in row) for row in zip(*data))


def _encode_against_layout(
    new_vectors: DataFrame,
    path: str,
    vec_col: str,
    id_col: str,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode a batch against the layout's persisted quantizers:
    (n_id, c_list, cmap) rows in the lists schema — one shuffle-free
    literal-model projection (similarity.ivfpq_encode_micro), with dim /
    num_subspaces inferred from the artifacts (r5 review: stale
    caller-supplied hyperparameters would NULL the ADC lookups)."""
    from codecdb_queryengine_spark.operators.similarity import ivfpq_encode_micro

    cents, cbs = _read_pq_models(new_vectors.sparkSession, path)
    return ivfpq_encode_micro(
        new_vectors,
        cents,
        cbs,
        dim=len(cents[0][1]),
        vec_col=vec_col,
        id_col=id_col,
        num_subspaces=len({m for m, _, _ in cbs}),
        meta_cols=meta_cols,
    )


def ivfpq_index_append(
    new_vectors: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Incrementally add vectors to a persisted IVFADC index (r8 verdict
    item 2 — the PQ tier previously required a rebuild to grow): the
    batch is re-encoded against the layout's OWN persisted quantizers
    (codes from one model, always), then routed through the same
    slot-aware append core as the flat-IVF layout — new files land only
    in the touched c_list directories, a list pushed past its persisted
    cap is re-sharded alone through the journaled swap.  Maintenance
    cost O(batch + touched lists), not O(corpus)."""
    spark = new_vectors.sparkSession
    _append_assigned(
        spark,
        path,
        _encode_against_layout(new_vectors, path, vec_col, id_col, meta_cols),
    )


def ivfpq_index_upsert(
    path: str,
    updates: DataFrame | None = None,
    delete_ids: DataFrame | list[int] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    meta_cols: tuple[str, ...] = (),
    spark: SparkSession | None = None,
) -> int:
    """Vector UPDATE + DELETE against the persisted IVFADC index (r8
    verdict item 2): update vectors are RE-ENCODED against the layout's
    persisted quantizer pair (an update may migrate between coarse lists
    AND change its subspace codes), deletes drop the id's code row, and
    only the touched inverted lists are rewritten — located via a
    column-pruned (n_id, c_list) projection of the codes, promoted
    through the journaled two-phase swap with the persisted slot cap
    re-applied.  Serving must equal a from-scratch encode of the mutated
    corpus under the same (fixed) quantizers — gated by
    sim_ann_ivfpq_upserted under the verbatim IVFADC-Lloyd oracle over a
    mutated-corpus CTE.  Returns the number of touched lists."""
    if updates is None and delete_ids is None:
        raise ValueError("ivfpq_index_upsert: nothing to do — no updates, no deletes")
    spark = spark or (updates.sparkSession if updates is not None else None)
    if spark is None:
        raise ValueError("ivfpq_index_upsert: pass spark= when updates is None")
    assigned = (
        _encode_against_layout(updates, path, vec_col, id_col, meta_cols)
        if updates is not None
        else None
    )
    return _upsert_assigned(
        spark, path, assigned, delete_ids,
        upd_id_frame=updates.select(id_col) if updates is not None else None,
    )
