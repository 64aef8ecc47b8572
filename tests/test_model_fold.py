"""Regression guards for the r5 shuffle-free model-fold plans
(operators/similarity: _model_1row + _fold_argmax_sim/_fold_argmin_d,
_spread, ivf_assign_sql).

The load-bearing claims pinned here:
- the argmin/argmax folds are ORDER-FREE (collect_list gives no order
  guarantee, so the fold's total tie-break must make any order produce
  the same winner);
- `_spread` adds an exchange only for under-partitioned inputs and is a
  no-op once the input has enough splits;
- `ivf_assign_sql` pre-folds |c| driver-side with the exact IEEE op
  sequence the Spark expression fold produces (left-assoc Σx², correctly
  rounded sqrt) — the bit-exactness argument behind embedding the norm
  as a literal.
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


def test_ivf_topk_invariant_under_centroid_order(spark, sf_dir):
    """Reversing the centroid frame's row order must not change one row of
    the result — the per-row argmax fold and the probe sort both tie-break
    on c_id, so collect_list order is irrelevant.  Runs ivf_topk's own
    model / assign / serve core over both centroid orders."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = S._mod_centroids(emb, "embedding", "vec_id", 29)

    def serve(cents):
        cmodel = S._ivf_model(cents)
        lists = S._ivf_assign(emb, cmodel, "embedding", "vec_id")
        return S._ivf_cosine_rank(lists, _queries(emb), cmodel, k=5, nprobe=2)

    fwd = serve(cents)
    rev = serve(cents.orderBy(F.col("c_id").desc()))
    assert sorted(map(tuple, fwd.collect())) == sorted(map(tuple, rev.collect()))
    assert sorted(map(tuple, fwd.collect())) == sorted(
        map(tuple, S.ivf_topk(emb, _queries(emb), k=5, nprobe=2).collect())
    )


def test_pq_encode_matches_python_argmin(spark, sf_dir):
    """The per-subspace fold encode must equal a plain-Python argmin over
    the same codebook (d = left-assoc Σ(a−b)², ties to the smaller id) —
    guards the HOF lambda-arity trap (a defaulted lambda parameter
    silently becomes the array INDEX) that produced wrong subspace
    bindings during development."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    sub, M, K, stride = 16, 4, 8, 37
    cb_rows = (
        emb.filter((F.col("vec_id") % stride == 0) & (F.col("vec_id") < stride * K))
        .select((F.col("vec_id") / stride).cast("long").alias("c_id"), "embedding")
        .collect()
    )
    books = {
        (m, int(r["c_id"])): [float(x) for x in r["embedding"]][m * sub : (m + 1) * sub]
        for r in cb_rows
        for m in range(M)
    }

    def py_l2(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += (x - y) * (x - y)
        return s

    got = S.pq_topk(emb, _queries(emb), dim=64, k=3)
    # pull the encode maps straight out of the plan's intermediate: rebuild
    # them via the public query instead — compare the ADC winner per query
    # against a full Python replay of encode + ADC over the small corpus
    emb_rows = emb.select("vec_id", "embedding").collect()
    q_rows = _queries(emb).collect()
    codes = {}
    for r in emb_rows:
        v = [float(x) for x in r["embedding"]]
        codes[int(r["vec_id"])] = [
            min(
                range(K),
                key=lambda c: (py_l2(v[m * sub : (m + 1) * sub], books[(m, c)]), c),
            )
            for m in range(M)
        ]
    expect = {}
    for q in q_rows:
        qv = [float(x) for x in q["q_vec"]]
        adc = {}
        for nid, cs in codes.items():
            if nid == int(q["q_id"]):
                continue
            tot = 0
            for m, c in enumerate(cs):
                tot += int(
                    math.floor(py_l2(qv[m * sub : (m + 1) * sub], books[(m, c)]) * 1e6 + 0.5)
                )
            adc[nid] = tot
        expect[int(q["q_id"])] = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[:3]
    for r in got.collect():
        nid, score = expect[int(r["q_id"])][int(r["rk"]) - 1]
        assert (int(r["n_id"]), int(r["adc_micro"])) == (nid, score), r


def test_pq_codebook_guards(spark, sf_dir):
    """The three PQ codebook guards fail loudly instead of scoring with
    aliased ADC keys: a float codebook c_id >= num_codewords raises when
    the ADC map is built, a codebook missing a subspace trips the model's
    coverage assert, and the integer serve rejects a bad c_id at build.
    The float guards sit in the model and ADC-map internals every float PQ
    serve (pq_topk, the IVFADC residual tier) reads."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    M, K, sub = 4, 8, 16

    def books(rows):
        return spark.createDataFrame(rows, "m long, c_id long, c_sub array<double>")

    def adc_maps(codebooks):
        cb1 = S._pq_model_1row(codebooks, M)
        return _queries(emb).crossJoin(cb1).select(S._pq_adc_map("q_vec", sub, K))

    too_big = books([(m, c, [float(c)] * sub) for m in range(M) for c in range(K + 1)])
    aliased = r">= num_codewords 8 — ADC keys would alias adjacent subspaces"
    with pytest.raises(Exception, match=aliased):
        adc_maps(too_big).collect()
    no_m3 = books([(m, c, [float(c)] * sub) for m in range(M - 1) for c in range(K)])
    with pytest.raises(Exception, match="no entries for some subspace"):
        adc_maps(no_m3).collect()
    micro = [(m, c, [c] * sub) for m in range(M) for c in range(K + 1)]
    with pytest.raises(ValueError, match="alias adjacent subspaces"):
        S.pq_topk_micro(emb, _queries(emb), micro, dim=64, k=3)


def test_spread_noop_when_partitioned(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    wide = emb.repartition(p)
    assert S._spread(wide) is wide  # already adequate: no wrapper, no exchange
    narrow = emb.coalesce(1)
    assert S._spread(narrow).rdd.getNumPartitions() == p


def test_assign_sql_norm_literal_is_ieee_identical(spark, sf_dir):
    """The driver-side Σx²/sqrt pre-fold in ivf_assign_sql must equal the
    Spark expression fold bit-for-bit (same op sequence, both IEEE
    doubles) — checked over every real centroid vector in the fixture."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec")
    )
    spark_norms = {
        int(r["c_id"]): r["n"]
        for r in cents.select("c_id", S.norm(F.col("c_vec")).alias("n")).collect()
    }
    for r in cents.collect():
        s = 0.0
        for x in r["c_vec"]:
            fx = float(x)
            s += fx * fx
        assert math.sqrt(s) == spark_norms[int(r["c_id"])]
