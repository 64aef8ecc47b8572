"""Regression guards for the r5 shuffle-free model-fold plans
(operators/similarity: the integer-L2 _micro_nearest forms, _spread) and
for the integer PQ encode, ADC and codebook guards.

The load-bearing claims pinned here:
- the IVF assignment and probe ranking are ORDER-FREE (collect_list gives
  no order guarantee to the broadcast-model form, so the (d, c_id)
  lexicographic argmin must make any center order produce the same
  winner);
- `_spread` adds an exchange only for under-partitioned inputs and is a
  no-op once the input has enough splits.
"""

import math

import pytest

from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.operators import similarity as S


def _queries(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def test_ivf_topk_invariant_under_centroid_order(spark, sf_dir, monkeypatch):
    """Reversing the center list must not change one row of the integer
    IVF serve — the per-row argmin and the probe sort both compare
    (distance, c_id), so center order is irrelevant — in the literal
    form and in the broadcast-model form whose collect_list order Spark
    does not guarantee."""
    import codecdb_queryengine_spark.operators.similarity as SIM

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = S.kmeans_lloyd_micro(emb, dim=64, k=None, stride=29, iters=0)

    def serve(cs):
        return sorted(map(tuple, S.ivf_topk_micro(emb, _queries(emb), cs, k=5).collect()))

    fwd = serve(cents)
    assert serve(cents[::-1]) == fwd
    monkeypatch.setattr(SIM, "_ENCODE_LITERAL_MAX", 0)  # broadcast-model form
    assert serve(cents[::-1]) == fwd


def test_pq_encode_matches_python_argmin(spark, sf_dir):
    """The integer PQ serve (sim_ann_pq's: the stride-37 codebook,
    pq_codebooks_lloyd_micro at iters=0, then pq_topk_micro) must equal a
    plain-Python replay of encode + ADC over the same micro-quantized
    codebook: encode is the per-subspace argmin of Σ(a−b)² with ties to
    the smaller id, ADC the sum of the query's per-subspace distances to
    the candidate's codewords — all exact integers."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    sub, M, K, stride = 16, 4, 8, 37

    def micro(vec):
        return [math.floor(float(x) * 1e6 + 0.5) for x in vec]

    def l2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    vecs = {int(r["vec_id"]): micro(r["embedding"]) for r in emb.collect()}
    books = {
        (m, i // stride): v[m * sub : (m + 1) * sub]
        for i, v in vecs.items()
        if i % stride == 0 and i < stride * K
        for m in range(M)
    }
    cbs = S.pq_codebooks_lloyd_micro(emb, dim=64, stride=stride, iters=0)
    assert cbs == sorted((m, c, v) for (m, c), v in books.items())
    got = S.pq_topk_micro(emb, _queries(emb), cbs, dim=64, k=3)
    codes = {
        nid: [
            min(range(K), key=lambda c: (l2(v[m * sub : (m + 1) * sub], books[(m, c)]), c))
            for m in range(M)
        ]
        for nid, v in vecs.items()
    }
    expect = {}
    for q in range(3):
        qv = vecs[q]
        adc = {
            nid: sum(
                l2(qv[m * sub : (m + 1) * sub], books[(m, c)]) for m, c in enumerate(cs)
            )
            for nid, cs in codes.items()
            if nid != q
        }
        expect[q] = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[:3]
    for r in got.collect():
        nid, score = expect[int(r["q_id"])][int(r["rk"]) - 1]
        assert (int(r["n_id"]), int(r["adc_q"])) == (nid, score), r


def test_pq_codebook_guards(spark, sf_dir):
    """The PQ codebook guards fail loudly at build time instead of
    scoring with aliased or missing ADC keys: a codebook c_id >=
    num_codewords, and a codebook missing a subspace, each raise a
    ValueError from the ADC map, and the missing subspace also from the
    encode map, naming it."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    M, K, sub = 4, 8, 16
    too_big = [(m, c, [c] * sub) for m in range(M) for c in range(K + 1)]
    with pytest.raises(ValueError, match="alias adjacent subspaces"):
        S.pq_topk_micro(emb, _queries(emb), too_big, dim=64, k=3)
    no_m3 = [(m, c, [c] * sub) for m in range(M - 1) for c in range(K)]
    missing = r"no codewords for subspace\(s\) \[3\]"
    with pytest.raises(ValueError, match=missing):
        S.pq_topk_micro(emb, _queries(emb), no_m3, dim=64, k=3)
    with pytest.raises(ValueError, match=missing):
        S._micro_code_map("v", no_m3, sub, M)
    with pytest.raises(ValueError, match=missing):
        S._micro_adc_map("v", no_m3, sub, M, K)


def test_spread_noop_when_partitioned(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = emb.repartition(p)
    assert S._spread(wide) is wide  # already adequate: no wrapper, no exchange
    narrow = emb.coalesce(1)
    assert S._spread(narrow).rdd.getNumPartitions() == p
