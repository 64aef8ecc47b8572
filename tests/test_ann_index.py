"""Persisted IVF index (sources/ann_index): parity with the in-memory
integer operator, partition-pruned probe reads, maintenance passes, and
overwrite idempotency."""

import os
import tempfile

from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.operators import similarity as S
from codecdb_queryengine_spark.sources import ann_index as AI
from codecdb_queryengine_spark.sources import io as IO


def _dpp_live(df) -> bool:
    """True iff the executed plan carries a LIVE dynamicpruning subquery and
    no degraded dynamicpruningexpression(true) — the r8 finding: Spark
    silently drops DPP (leaving the (true) form) when the probe side can't
    reuse its broadcast, and a plain substring check can't tell."""
    import re as _re

    plan = df._jdf.queryExecution().executedPlan().toString()
    return bool(
        _re.search(r"dynamicpruningexpression\([^)]+#\d+", plan)
    ) and "dynamicpruningexpression(true)" not in plan


def _mod_cents(emb):
    """The untrained flat-IVF quantizer: the mod-29 sample, c_id = id // 29."""
    return S.kmeans_lloyd_micro(emb, dim=64, k=None, stride=29, iters=0)


def _queries(emb, n=5):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def test_index_topk_matches_inmemory_ivf_bitexact(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = _mod_cents(emb)
    assert [c for c, _ in cents] == list(range(18))  # ids 0, 29, …, 493
    path = tempfile.mkdtemp(prefix="ivf_idx_test_")
    AI.ivf_index_build(emb, path, cents)
    via_index = AI.ivf_index_topk(spark, path, _queries(emb), k=5, nprobe=2).collect()
    in_memory = S.ivf_topk_micro(emb, _queries(emb), cents, k=5, nprobe=2).collect()
    key = lambda r: (r.q_id, r.rk)  # noqa: E731
    a = {key(r): (r.n_id, r.l2_micro2) for r in via_index}
    b = {key(r): (r.n_id, r.l2_micro2) for r in in_memory}
    assert a == b  # bit-exact: same assignment and serve core, BIGINT
    # the layout persists the micro vectors, no float columns
    lists = spark.read.parquet(os.path.join(path, "lists"))
    assert set(lists.columns) == {"n_id", "v", "c_list"}


def test_index_probe_plan_uses_dynamic_partition_pruning(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_idx_dpp_")
    AI.ivf_index_build(emb, path, _mod_cents(emb))
    df = AI.ivf_index_topk(spark, path, _queries(emb), k=5, nprobe=2)
    df.collect()
    assert _dpp_live(df)
    # the layout really is one directory per list
    dirs = [d for d in os.listdir(os.path.join(path, "lists")) if d.startswith("c_list=")]
    assert len(dirs) > 2


def test_hot_list_split_rebalances_and_preserves_results(spark, sf_dir):
    """max_list_rows (r6 verdict item 6): an oversized list must fan out
    over ceil(n/cap) c_slot sub-partitions — so a skewed list stops being
    one serving-bottleneck partition — while the served top-k stays
    bit-identical to the unsplit index and the probe scan still
    dynamic-partition-prunes on c_list."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cap = 8
    plain = tempfile.mkdtemp(prefix="ivf_idx_plain_")
    split = tempfile.mkdtemp(prefix="ivf_idx_split_")
    AI.ivf_index_build(emb, plain, _mod_cents(emb))
    AI.ivf_index_build(emb, split, _mod_cents(emb), max_list_rows=cap)
    # physical layout: every list dir fans out over its slots, and each
    # oversized list has exactly ceil(n/cap) of them
    members: dict[int, list[int]] = {}
    for r in spark.read.parquet(os.path.join(plain, "lists")).select("c_list", "n_id").collect():
        members.setdefault(r.c_list, []).append(r.n_id)
    assert any(len(ids) > cap for ids in members.values()), (
        "fixture too small to exercise split"
    )
    lists_dir = os.path.join(split, "lists")
    fanned_out = 0
    for c_list, ids in members.items():
        n_slots = -(-len(ids) // cap)
        expected = {i % n_slots for i in ids}
        slots = {
            int(d.split("=", 1)[1])
            for d in os.listdir(os.path.join(lists_dir, f"c_list={c_list}"))
            if d.startswith("c_slot=")
        }
        assert slots == expected, (c_list, len(ids), slots, expected)
        fanned_out += len(slots) > 1
    assert fanned_out >= 1  # at least one hot list really split
    # served results bit-identical to the unsplit layout
    a = AI.ivf_index_topk(spark, plain, _queries(emb), k=5, nprobe=2).collect()
    b_df = AI.ivf_index_topk(spark, split, _queries(emb), k=5, nprobe=2)
    b = b_df.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert _dpp_live(b_df)


def test_index_append_matches_full_build(spark, sf_dir):
    """ivf_index_append (r7): build on the even half, append the odd half
    against the layout's own persisted centroids — the served top-k must
    be bit-identical to a from-scratch build over the full corpus, and
    the appended files must land only under existing c_list dirs."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = _mod_cents(emb)
    full_p = tempfile.mkdtemp(prefix="ivf_idx_full_")
    incr_p = tempfile.mkdtemp(prefix="ivf_idx_incr_")
    AI.ivf_index_build(emb, full_p, cents)
    AI.ivf_index_build(emb.filter(F.col("vec_id") % 2 == 0), incr_p, cents)
    AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), incr_p)
    a = AI.ivf_index_topk(spark, full_p, _queries(emb), k=5, nprobe=2).collect()
    b = AI.ivf_index_topk(spark, incr_p, _queries(emb), k=5, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def _slot_layout(path):
    """{c_list dir -> sorted c_slot dirs} of a split lists layout."""
    out = {}
    ld = os.path.join(path, "lists")
    for d in os.listdir(ld):
        if d.startswith("c_list="):
            out[d] = sorted(
                e
                for e in os.listdir(os.path.join(ld, d))
                if e.startswith("c_slot=")
            )
    return out


def test_append_into_split_layout_reapplies_cap(spark, sf_dir):
    """Slot-aware append (r7 verdict item 1a): appending into a layout
    built with max_list_rows must route into the existing slots and
    RE-SHARD any list the batch pushes past its cap — the final physical
    slot layout and the served results must both equal a from-scratch
    split build over the full corpus."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = _mod_cents(emb)
    full_p = tempfile.mkdtemp(prefix="ivf_split_full_")
    incr_p = tempfile.mkdtemp(prefix="ivf_split_incr_")
    AI.ivf_index_build(emb, full_p, cents, max_list_rows=16)
    AI.ivf_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), incr_p, cents,
        max_list_rows=16,
    )
    before = _slot_layout(incr_p)
    AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), incr_p)
    after = _slot_layout(incr_p)
    assert after == _slot_layout(full_p)  # cap re-applied, slots re-sharded
    assert any(len(after[d]) > len(before.get(d, [])) for d in after), (
        "fixture never exercised the grow path"
    )
    a = AI.ivf_index_topk(spark, full_p, _queries(emb), k=5, nprobe=2).collect()
    b = AI.ivf_index_topk(spark, incr_p, _queries(emb), k=5, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_append_guards_schema_and_missing_meta(spark, sf_dir):
    """r7 ADVICE: a batch without the layout's meta columns must raise
    (NULL-metadata rows silently vanish from filtered search), and a
    c_slot-split layout without its lists_meta artifact must refuse a
    blind append instead of writing mixed-depth directories."""
    import shutil

    import pytest

    emb = load_tables(spark, sf_dir)["embeddings"]
    meta_p = tempfile.mkdtemp(prefix="ivf_guard_meta_")
    AI.ivf_index_build(emb, meta_p, _mod_cents(emb), meta_cols=("label",))
    with pytest.raises(ValueError, match="meta_cols"):
        AI.ivf_index_append(emb.limit(10), meta_p)  # missing label column
    split_p = tempfile.mkdtemp(prefix="ivf_guard_split_")
    AI.ivf_index_build(emb, split_p, _mod_cents(emb), max_list_rows=16)
    shutil.rmtree(os.path.join(split_p, "lists_meta"))
    with pytest.raises(ValueError, match="lists_meta"):
        AI.ivf_index_append(emb.limit(10), split_p)


def test_upsert_matches_fresh_build_over_mutated_corpus(spark, sf_dir):
    """Vector delete/update (r7 verdict item 1b): after deleting one slice
    and updating another (reversed vectors — a pure permutation), the
    upserted index must serve EXACTLY what a from-scratch build over the
    mutated corpus serves (same fixed centroids), on a SPLIT layout so
    the cap re-application path is exercised too."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = _mod_cents(emb)
    mut_pred = (F.col("vec_id") % 29 != 0) & (F.col("vec_id") >= 5)
    del_pred = (F.col("vec_id") % 17 == 3) & mut_pred
    upd_pred = (F.col("vec_id") % 17 == 5) & mut_pred
    up_p = tempfile.mkdtemp(prefix="ivf_upsert_")
    AI.ivf_index_build(emb, up_p, cents, max_list_rows=16)
    dels = [int(r[0]) for r in emb.filter(del_pred).select("vec_id").collect()]
    upds = emb.filter(upd_pred).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    n = AI.ivf_index_upsert(up_p, updates=upds, delete_ids=dels)
    assert n > 0
    mutated = emb.filter(~del_pred).select(
        "vec_id",
        F.when(upd_pred, F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    fresh_p = tempfile.mkdtemp(prefix="ivf_fresh_mut_")
    AI.ivf_index_build(mutated, fresh_p, cents, max_list_rows=16)
    a = AI.ivf_index_topk(spark, up_p, _queries(emb), k=5, nprobe=2).collect()
    b = AI.ivf_index_topk(spark, fresh_p, _queries(emb), k=5, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    # deleted ids really are gone from the layout
    left = {
        r.n_id
        for r in spark.read.parquet(os.path.join(up_p, "lists"))
        .select("n_id")
        .collect()
    }
    assert not (left & set(dels))


def test_upsert_rewrites_only_touched_lists_and_drops_emptied(spark, sf_dir):
    """O(touched) contract: lists untouched by the mutation batch stay
    byte-identical, and a list whose every member is deleted disappears
    from the layout."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_upsert_touch_")
    AI.ivf_index_build(emb, path, _mod_cents(emb))
    lists_dir = os.path.join(path, "lists")
    members: dict[int, list[int]] = {}
    for r in spark.read.parquet(lists_dir).select("c_list", "n_id").collect():
        members.setdefault(int(r.c_list), []).append(int(r.n_id))
    # wipe one whole list; leave every other list untouched
    victim = min(members)
    dels = members[victim]

    def _snap(skip):
        out = {}
        for d in os.listdir(lists_dir):
            if d.startswith("c_list=") and d != f"c_list={skip}":
                full = os.path.join(lists_dir, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if not f.startswith((".", "_"))
                )
        return out

    before = _snap(victim)
    n = AI.ivf_index_upsert(path, delete_ids=dels, spark=spark)
    assert n == 1
    assert not os.path.exists(os.path.join(lists_dir, f"c_list={victim}"))
    assert _snap(victim) == before


def test_cached_serving_sees_maintenance_passes(spark, sf_dir):
    """Opt-in scan cache (r8): repeated cached serves reuse the resolved
    file index (no per-query re-listing), and every in-module maintenance
    pass invalidates it — a cached serve after append/upsert must reflect
    the mutation exactly like an uncached one."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = _mod_cents(emb)
    path = tempfile.mkdtemp(prefix="ivf_idx_cache_")
    AI.ivf_index_build(emb.filter(F.col("vec_id") % 2 == 0), path, cents)
    first = AI.ivf_index_topk(
        spark, path, _queries(emb), k=5, nprobe=2, cached=True
    ).collect()
    # cache holds a handle now; warm serve is consistent
    again = AI.ivf_index_topk(
        spark, path, _queries(emb), k=5, nprobe=2, cached=True
    ).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, again))
    # maintenance invalidates: the cached serve must see the appended half
    AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)
    after = AI.ivf_index_topk(
        spark, path, _queries(emb), k=5, nprobe=2, cached=True
    ).collect()
    full_p = tempfile.mkdtemp(prefix="ivf_idx_cache_full_")
    AI.ivf_index_build(emb, full_p, cents)
    expected = AI.ivf_index_topk(spark, full_p, _queries(emb), k=5, nprobe=2).collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, expected))
    # out-of-band mutations have an explicit hook
    AI.invalidate_layout(path)
    assert all(
        not key.startswith(path) for d in IO._SERVE_CACHE.values() for key in d
    )


def test_filtered_search_restricts_candidates_and_pushes_predicate(spark, sf_dir):
    """candidate_filter (r7): every returned neighbor satisfies the
    predicate, and the predicate reaches the lists scan's PushedFilters
    (filtered vector search as one scan, not a post-search join)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_idx_meta_")
    AI.ivf_index_build(emb, path, _mod_cents(emb), meta_cols=("label",))
    df = AI.ivf_index_topk(spark, path, _queries(emb), k=5, nprobe=2,
                           candidate_filter="label = 1")
    rows = df.collect()
    assert rows
    labels = {
        r.label
        for r in df.join(
            emb.select(F.col("vec_id").alias("n_id"), "label"), "n_id"
        ).collect()
    }
    assert labels == {1}
    assert _dpp_live(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re

    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("label" in p for p in pushed), pushed


def test_index_rebuild_overwrites_cleanly(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_idx_rebuild_")
    AI.ivf_index_build(emb, path, _mod_cents(emb))
    first = AI.ivf_index_topk(spark, path, _queries(emb), k=3).collect()
    AI.ivf_index_build(emb, path, _mod_cents(emb))  # overwrite, same data
    second = AI.ivf_index_topk(spark, path, _queries(emb), k=3).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_micro_index_matches_inmemory_lloyd_exact(spark, sf_dir):
    """The persisted integer index (trained Lloyd centroids) must return
    EXACTLY what the in-memory operator returns — same BIGINT distances,
    same pairs — and its probe scan must dynamic-partition-prune."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = S.kmeans_lloyd_micro(emb, dim=64, k=8, stride=37, iters=2)
    path = tempfile.mkdtemp(prefix="ivf_lloyd_idx_test_")
    AI.ivf_index_build(emb, path, cents)
    df = AI.ivf_index_topk(spark, path, _queries(emb), k=5, nprobe=2)
    via_index = df.collect()
    in_memory = S.ivf_topk_micro(emb, _queries(emb), cents, k=5, nprobe=2).collect()
    key = lambda r: (r.q_id, r.rk)  # noqa: E731
    a = {key(r): (r.n_id, r.l2_micro2) for r in via_index}
    b = {key(r): (r.n_id, r.l2_micro2) for r in in_memory}
    assert a == b
    assert _dpp_live(df)


def test_ivfpq_index_matches_inmemory_exact(spark, sf_dir):
    """The persisted IVFADC index (codes-only lists + both trained
    models) must return EXACTLY what ivf_pq_topk_lloyd_micro returns —
    same BIGINT ADC scores, same pairs — and its codes scan must
    dynamic-partition-prune."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    path = tempfile.mkdtemp(prefix="ivfpq_idx_test_")
    AI.ivfpq_index_build_micro(emb, path, cents, cbs)
    df = AI.ivfpq_index_topk_micro(spark, path, _queries(emb), k=5, nprobe=2)
    via_index = df.collect()
    in_memory = S.ivf_pq_topk_lloyd_micro(emb, _queries(emb), dim=64, k=5).collect()
    key = lambda r: (r.q_id, r.rk)  # noqa: E731
    a = {key(r): (r.n_id, r.adc_q) for r in via_index}
    b = {key(r): (r.n_id, r.adc_q) for r in in_memory}
    assert a == b
    assert _dpp_live(df)
    # the lists layout really is codes-only: no vector column persisted
    lists = spark.read.parquet(os.path.join(path, "lists"))
    assert set(lists.columns) == {"n_id", "cmap", "c_list"}


def test_ivfpq_append_matches_full_build(spark, sf_dir):
    """IVFADC incremental append (r8 verdict item 2): appending the odd
    half into a split codes layout built from the even half must serve
    EXACTLY what a from-scratch encode of the full corpus serves under
    the same persisted quantizers — the appended codes came off the
    layout's own model artifacts, never the caller's."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    path = tempfile.mkdtemp(prefix="ivfpq_append_")
    AI.ivfpq_index_build_micro(
        emb.filter(F.col("vec_id") % 2 == 0), path, cents, cbs, max_list_rows=16
    )
    AI.ivfpq_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)
    full_p = tempfile.mkdtemp(prefix="ivfpq_append_full_")
    AI.ivfpq_index_build_micro(emb, full_p, cents, cbs, max_list_rows=16)
    a = AI.ivfpq_index_topk_micro(spark, path, _queries(emb), k=5, nprobe=2).collect()
    b = AI.ivfpq_index_topk_micro(spark, full_p, _queries(emb), k=5, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivfpq_upsert_matches_fresh_encode_over_mutated_corpus(spark, sf_dir):
    """IVFADC delete/update (r8 verdict item 2): after deleting one slice
    and updating another (reversed vectors), the upserted codes layout
    must serve exactly what a fresh encode of the mutated corpus serves
    under the same fixed quantizer pair, on a SPLIT layout so the cap
    re-application path runs; deleted ids must be gone from the codes."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    mut_pred = F.col("vec_id") >= 5  # never a query vector
    del_pred = (F.col("vec_id") % 17 == 3) & mut_pred
    upd_pred = (F.col("vec_id") % 17 == 5) & mut_pred
    path = tempfile.mkdtemp(prefix="ivfpq_upsert_")
    AI.ivfpq_index_build_micro(emb, path, cents, cbs, max_list_rows=16)
    dels = [int(r[0]) for r in emb.filter(del_pred).select("vec_id").collect()]
    upds = emb.filter(upd_pred).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    n = AI.ivfpq_index_upsert(path, updates=upds, delete_ids=dels)
    assert n > 0
    mutated = emb.filter(~del_pred).select(
        "vec_id",
        F.when(upd_pred, F.reverse("embedding"))
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    fresh_p = tempfile.mkdtemp(prefix="ivfpq_fresh_mut_")
    AI.ivfpq_index_build_micro(mutated, fresh_p, cents, cbs, max_list_rows=16)
    a = AI.ivfpq_index_topk_micro(spark, path, _queries(emb), k=5, nprobe=2).collect()
    b = AI.ivfpq_index_topk_micro(spark, fresh_p, _queries(emb), k=5, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    lists = spark.read.parquet(os.path.join(path, "lists"))
    assert set(lists.columns) == {"n_id", "cmap", "c_list", "c_slot"}
    left = {r.n_id for r in lists.select("n_id").collect()}
    assert not (left & set(dels))


def test_micro_serves_fold_path_matches_literal_at_large_k(spark, sf_dir, monkeypatch):
    """Corpus-grain quantizers (r9): past _ENCODE_LITERAL_MAX centroids the
    micro serves switch from literal probe expressions to the broadcast-
    model fold — the probe order and every served (q_id, n_id, score, rk)
    must be identical to the literal form on the same layouts."""
    import codecdb_queryengine_spark.operators.similarity as SIM
    from codecdb_queryengine_spark.operators.similarity import quantize_micro

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = sorted(
        (int(r["c_id"]), [int(x) for x in r["c"]])
        for r in emb.filter(F.col("vec_id") % 8 == 0)
        .select(
            F.col("vec_id").alias("c_id"), quantize_micro(F.col("embedding")).alias("c")
        )
        .collect()
    )
    assert len(cents) > SIM._ENCODE_LITERAL_MAX  # the fold regime
    qs = _queries(emb)
    # flat micro tier
    p1 = tempfile.mkdtemp(prefix="ivf_micro_bigk_")
    AI.ivf_index_build(emb, p1, cents)
    fold = AI.ivf_index_topk(spark, p1, qs, k=5, nprobe=2).collect()
    # the in-memory serve shares the assignment and serve core, so it takes
    # the same size switch: both of its forms must equal the persisted serve
    mem_fold = S.ivf_topk_micro(emb, qs, cents, k=5, nprobe=2).collect()
    monkeypatch.setattr(SIM, "_ENCODE_LITERAL_MAX", 10_000)
    lit = AI.ivf_index_topk(spark, p1, qs, k=5, nprobe=2).collect()
    mem_lit = S.ivf_topk_micro(emb, qs, cents, k=5, nprobe=2).collect()
    assert sorted(map(tuple, fold)) == sorted(map(tuple, lit))
    assert sorted(map(tuple, mem_fold)) == sorted(map(tuple, fold))
    assert sorted(map(tuple, mem_lit)) == sorted(map(tuple, fold))
    monkeypatch.undo()
    # IVFADC tier (build encode takes the fold path too at this K)
    sub = 64 // 4
    seeds = sorted(
        (int(r["j"]), [int(x) for x in r["c"]])
        for r in emb.filter((F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 37 * 8))
        .select(
            (F.col("vec_id") / 37).cast("long").alias("j"),
            quantize_micro(F.col("embedding")).alias("c"),
        )
        .collect()
    )
    cbs = [(m, j, q[m * sub : (m + 1) * sub]) for j, q in seeds for m in range(4)]
    p2 = tempfile.mkdtemp(prefix="ivfpq_bigk_")
    AI.ivfpq_index_build_micro(emb, p2, cents, cbs)
    fold2 = AI.ivfpq_index_topk_micro(spark, p2, qs, k=5, nprobe=2).collect()
    monkeypatch.setattr(SIM, "_ENCODE_LITERAL_MAX", 10_000)
    lit2 = AI.ivfpq_index_topk_micro(spark, p2, qs, k=5, nprobe=2).collect()
    assert sorted(map(tuple, fold2)) == sorted(map(tuple, lit2))


def test_ivf_upsert_replay_idempotent(spark, sf_dir):
    """The CDC stream's at-least-once contract (streaming/sinks.
    stream_apply_vector_mutations): re-running the SAME mutation batch
    against an already-mutated index must leave the layout bit-identical
    — updates re-assign to the same lists with the same rows, deletes of
    already-deleted ids locate nothing."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_replay_")
    AI.ivf_index_build(emb, path, _mod_cents(emb), max_list_rows=16)
    upds = emb.filter((F.col("vec_id") % 17 == 5) & (F.col("vec_id") >= 5)).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    dels = [
        int(r[0])
        for r in emb.filter(
            (F.col("vec_id") % 17 == 3) & (F.col("vec_id") >= 5)
        ).select("vec_id").collect()
    ]
    AI.ivf_index_upsert(path, updates=upds, delete_ids=dels)
    first = sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "lists")).collect())
    )
    served1 = AI.ivf_index_topk(spark, path, _queries(emb), k=5, nprobe=2).collect()
    AI.ivf_index_upsert(path, updates=upds, delete_ids=dels)  # the replay
    second = sorted(
        map(tuple, spark.read.parquet(os.path.join(path, "lists")).collect())
    )
    served2 = AI.ivf_index_topk(spark, path, _queries(emb), k=5, nprobe=2).collect()
    assert first == second
    assert sorted(map(tuple, served1)) == sorted(map(tuple, served2))


def test_upsert_batch_guards_conflicts_duplicates_and_nulls(spark, sf_dir):
    """r9 ADVICE items 1+2: _upsert_assigned enforces the same batch
    contract text_index_upsert has — an id updated AND deleted in one
    batch raises (no silent update-wins resurrection), duplicate update
    ids raise (no multiplied candidate rows), NULL ids raise (an
    anti-join can never match NULL), while duplicate DELETE ids stay
    legal (idempotent) and dedupe."""
    import pytest

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_guard_")
    AI.ivf_index_build(emb, path, _mod_cents(emb))
    upd = emb.filter(F.col("vec_id") == 7).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    with pytest.raises(ValueError, match="both updates and delete_ids"):
        AI.ivf_index_upsert(path, updates=upd, delete_ids=[7])
    with pytest.raises(ValueError, match="duplicate id in updates"):
        AI.ivf_index_upsert(path, updates=upd.unionByName(upd))
    null_del = emb.sparkSession.createDataFrame([(None,)], "vec_id long")
    with pytest.raises(ValueError, match="NULL id"):
        AI.ivf_index_upsert(path, delete_ids=null_del, spark=spark)
    # duplicate deletes are idempotent, not an error
    n = AI.ivf_index_upsert(path, delete_ids=[11, 11], spark=spark)
    assert n >= 1
    left = {
        r.n_id
        for r in spark.read.parquet(os.path.join(path, "lists"))
        .select("n_id").collect()
    }
    assert 11 not in left and 7 in left


def test_vector_cdc_intra_batch_conflict_fails_batch(spark, sf_dir):
    """r9 ADVICE item 1 end-to-end: a CDC micro-batch carrying the same
    vec_id as both 'u' and 'd' must FAIL the stream (the event schema has
    no ordering metadata — silently resolving update-wins would resurrect
    a deleted vector), mirroring the text twin's behavior."""
    import time as _time

    import pytest
    from pyspark.sql import types as PT
    from pyspark.sql.utils import StreamingQueryException

    from codecdb_queryengine_spark.streaming import sinks as SK

    emb = load_tables(spark, sf_dir)["embeddings"]
    base = tempfile.mkdtemp(prefix="ivf_cdc_conflict_")
    path = os.path.join(base, "index")
    AI.ivf_index_build(emb, path, _mod_cents(emb))
    events = emb.filter(F.col("vec_id") == 9).select(
        F.lit("u").alias("op"), "vec_id", F.reverse("embedding").alias("embedding")
    ).unionByName(
        emb.filter(F.col("vec_id") == 9).select(
            F.lit("d").alias("op"),
            "vec_id",
            F.lit(None).cast("array<float>").alias("embedding"),
        )
    )
    src = os.path.join(base, "mutations")
    events.coalesce(1).write.mode("overwrite").parquet(src)
    schema = PT.StructType(
        [
            PT.StructField("op", PT.StringType()),
            PT.StructField("vec_id", PT.LongType()),
            PT.StructField("embedding", PT.ArrayType(PT.FloatType())),
        ]
    )
    stream = spark.readStream.schema(schema).parquet(src)
    q = SK.stream_apply_vector_mutations(stream, path, os.path.join(base, "ckpt"))
    with pytest.raises(StreamingQueryException, match="both updates and delete_ids"):
        q.awaitTermination()


def _one_action(spark, group, fn):
    """Run fn under job group `group`; return (result, the SQL executions
    it started).  Each Spark action is one SQL execution; under AQE its
    shuffle stages show up as several status-tracker jobs of that one
    execution, so "one job" is counted as one execution here, with every
    tracker job of the group belonging to it."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    n0 = store.executionsCount()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    execs = store.executionsList(n0, store.executionsCount() - n0)
    execs = [execs.apply(i) for i in range(execs.size())]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert sum(e.jobs().size() for e in execs) == len(jobs)  # no job outside an action
    return out, execs


def test_empty_upsert_runs_one_job_and_never_reads_the_layout(spark, sf_dir):
    """An empty, drained CDC tail pays only the guard aggregate over its
    own events; the locate pass (and even the layout's schema read) waits
    for a non-empty batch."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = tempfile.mkdtemp(prefix="ivf_empty_upsert_")
    AI.ivf_index_build(emb, path, _mod_cents(emb))
    lists = os.path.join(path, "lists")
    before = sorted(os.listdir(lists))
    drained = spark.range(10).filter(F.col("id") < 0).select(F.col("id").alias("vec_id"))
    for i, dels in enumerate(([], drained)):
        n, execs = _one_action(
            spark, f"empty-upsert-{i}",
            lambda: AI.ivf_index_upsert(path, delete_ids=dels, spark=spark),
        )
        assert n == 0
        assert len(execs) == 1
        assert lists not in execs[0].physicalPlanDescription()
    assert sorted(os.listdir(lists)) == before


def test_append_stats_scan_only_touched_lists(spark, sf_dir):
    """The fused append stats pass semi-joins the layout with the batch's
    distinct lists, so dynamic partition pruning scans only the touched
    list directories — still one action."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = _mod_cents(emb)
    path = tempfile.mkdtemp(prefix="ivf_append_stats_")
    AI.ivf_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), path, cents, max_list_rows=16
    )
    existing = spark.read.parquet(os.path.join(path, "lists"))
    batch = emb.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 40))
    assigned = S._micro_assign(batch, AI._read_centroids(spark, path), "embedding", "vec_id")
    stats_df = AI._append_stats(existing, assigned)
    stats, execs = _one_action(spark, "append-stats", stats_df.collect)
    assert len(execs) == 1
    touched = {r.c_list for r in assigned.select("c_list").distinct().collect()}
    assert {r.c_list for r in stats} == touched
    n_dirs = len([d for d in os.listdir(os.path.join(path, "lists")) if d.startswith("c_list=")])
    assert len(touched) < n_dirs  # the fixture leaves lists untouched
    assert _dpp_live(stats_df)
    plan = stats_df._jdf.queryExecution().executedPlan()

    def scans(node):
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            yield from scans(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            yield from scans(node.plan())
            return
        if cls == "FileSourceScanExec" and node.relation().partitionSchema().nonEmpty():
            yield node  # the lists layout is the only partitioned scan
        ch = node.children()
        for i in range(ch.size()):
            yield from scans(ch.apply(i))

    (lists_scan,) = list(scans(plan))
    assert lists_scan.metrics().get("numPartitions").get().value() == len(touched)


def test_vector_cdc_sink_refuses_a_path_without_centroids(spark, tmp_path):
    """stream_apply_vector_mutations picks its upsert from the layout's own
    artifacts (`codebooks/` → IVFADC, else flat IVF); a path with no
    `centroids/` is no vector index and raises before any stream starts."""
    import pytest

    from codecdb_queryengine_spark.streaming import sinks as SK

    src = tmp_path / "mutations"
    src.mkdir()
    stream = spark.readStream.schema(
        "op string, vec_id long, embedding array<float>"
    ).parquet(str(src))
    with pytest.raises(ValueError, match="centroids"):
        SK.stream_apply_vector_mutations(
            stream, str(tmp_path / "not_an_index"), str(tmp_path / "ckpt")
        )
    assert not spark.streams.active
