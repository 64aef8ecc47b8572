"""Exact-integer Lloyd k-means (operators/similarity.kmeans_lloyd_micro
and pq_codebooks_lloyd_micro): the one trainer per quantizer, and
value-gateable.  The DuckDB oracle
replays the whole training in the gate (oracle/ann._ivf_lloyd_sql); here an
independent numpy mirror pins the Spark implementation a third way and the
classic Lloyd property (within-cluster SS never increases) is asserted on
the real corpus.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.operators import similarity as S

K, STRIDE, DIM = 8, 37, 64


def _half_away(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _numpy_lloyd(V: np.ndarray, iters: int) -> list[tuple[int, list[int]]]:
    ids = np.arange(len(V))
    init = ids[(ids % STRIDE == 0) & (ids < STRIDE * K)]
    C = V[init].copy()
    for _ in range(iters):
        # int64 distances; argmin takes the FIRST minimum = smallest c_id
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = np.argmin(d, axis=1)
        for c in range(K):
            members = V[a == c]
            if len(members):
                s = members.sum(axis=0)
                C[c] = [_half_away(float(x) / len(members)) for x in s]
    return [(c, [int(x) for x in C[c]]) for c in range(K)]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_tables(spark, sf_dir)["embeddings"]


def test_lloyd_micro_matches_numpy_mirror(spark, emb):
    spark_cents = S.kmeans_lloyd_micro(
        emb, dim=DIM, k=K, stride=STRIDE, iters=2
    )
    rows = sorted(
        (int(r["vec_id"]), r["embedding"]) for r in emb.collect()
    )
    V = np.array(
        [
            [math.floor(float(np.float64(x)) * 1e6 + 0.5) for x in vec]
            for _, vec in rows
        ],
        dtype=np.int64,
    )
    assert spark_cents == _numpy_lloyd(V, iters=2)


def test_lloyd_micro_improves_quantization(spark, emb):
    """Within-cluster SS after 2 Lloyd rounds must not exceed the init
    (stride-sample) quantizer's — training has to actually help."""
    rows = sorted((int(r["vec_id"]), r["embedding"]) for r in emb.collect())
    V = np.array(
        [
            [math.floor(float(np.float64(x)) * 1e6 + 0.5) for x in vec]
            for _, vec in rows
        ],
        dtype=np.int64,
    )

    def wss(cents):
        C = np.array([c for _, c in cents], dtype=np.int64)
        d = ((V[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        return int(d.min(axis=1).sum())

    init = S.kmeans_lloyd_micro(emb, dim=DIM, k=K, stride=STRIDE, iters=0)
    trained = S.kmeans_lloyd_micro(emb, dim=DIM, k=K, stride=STRIDE, iters=2)
    assert wss(trained) < wss(init)


def test_pq_lloyd_codebooks_cut_quantization_error(spark, emb):
    """The trained PQ codebooks (pq_codebooks_lloyd_micro) must beat their
    stride-sampled init on the objective Lloyd optimizes: mean squared
    per-subspace quantization error in micro² units (measured 1.20e12 at
    the init vs 0.83e12 after 2 rounds at sf0.001).  The trained query
    path (pq_topk_micro) is pinned structurally: k distinct non-self
    neighbors per query in ascending ADC order."""
    rows = sorted((int(r["vec_id"]), r["embedding"]) for r in emb.collect())
    V = np.array(
        [
            [math.floor(float(np.float64(x)) * 1e6 + 0.5) for x in vec]
            for _, vec in rows
        ],
        dtype=np.int64,
    )
    sub = DIM // 4

    def mse(cbs):
        total = 0.0
        for m in range(4):
            C = np.array([c for mm, _, c in sorted(cbs) if mm == m], dtype=np.int64)
            sl = V[:, m * sub : (m + 1) * sub]
            total += ((sl[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).min(axis=1).mean()
        return total

    init = S.pq_codebooks_lloyd_micro(emb, dim=DIM, stride=STRIDE, iters=0)
    trained = S.pq_codebooks_lloyd_micro(emb, dim=DIM, stride=STRIDE, iters=2)
    assert mse(trained) < mse(init)

    queries = emb.filter(emb.vec_id < 5).selectExpr("vec_id AS q_id", "embedding AS q_vec")
    by_q: dict[int, list] = {}
    for r in sorted(
        S.pq_topk_micro(emb, queries, trained, dim=DIM, k=5).collect(),
        key=lambda r: (r.q_id, r.rk),
    ):
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        assert len(rs) == 5 and len({r.n_id for r in rs}) == 5
        assert all(r.n_id != q for r in rs)
        assert [r.adc_q for r in rs] == sorted(r.adc_q for r in rs)


def test_lloyd_inits_raise_on_short_stride_sample(spark, emb):
    """sf0.001 has 500 vectors, so stride 37 reaches ids 0..481: 14 ids.
    Asking any Lloyd trainer for more centroids or codewords than the
    sample holds raises (it used to train 14 and return them silently),
    naming k, the stride and the ids found."""
    with pytest.raises(ValueError, match=r"k=17 .*stride=37 found 14"):
        S.kmeans_lloyd_micro(emb, dim=DIM, k=17, stride=STRIDE, iters=0)
    short = [(c, [0] * DIM) for c in range(5)]
    with pytest.raises(ValueError, match=r"k=8 .*stride=37 found 5: \[0, 37, 74, 111, 148\]"):
        S.kmeans_lloyd_micro(emb, dim=DIM, k=K, stride=STRIDE, iters=0, init_cents=short)
    with pytest.raises(ValueError, match=r"k=17 .*stride=37 found 14"):
        S.pq_codebooks_lloyd_micro(emb, dim=DIM, num_codewords=17, stride=STRIDE, iters=0)
    with pytest.raises(ValueError, match=r"k=17 .*stride=37 found 14"):
        S.ivfpq_train_micro(emb, dim=DIM, k_coarse=8, num_codewords=17, stride=STRIDE)
    assert len(S.kmeans_lloyd_micro(emb, dim=DIM, k=14, stride=STRIDE, iters=0)) == 14


def test_ivf_topk_micro_structure(spark, emb):
    cents = S.kmeans_lloyd_micro(emb, dim=DIM, k=K, stride=STRIDE, iters=2)
    queries = emb.filter(emb.vec_id < 3).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )
    out = S.ivf_topk_micro(emb, queries, cents, k=5, nprobe=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        assert sorted(r["rk"] for r in rs) == [1, 2, 3, 4, 5]
        assert all(r["n_id"] != q for r in rs)
        scores = [r["l2_micro2"] for r in sorted(rs, key=lambda r: r["rk"])]
        assert scores == sorted(scores)


def test_quantize_micro_matches_python_mirror_on_edge_values(spark):
    """quantize_micro (floor(x·1e6 + 0.5) on the float32→double cast) must
    agree with the driver-side mirror used by the trainers for adversarial
    values: rounding-boundary neighborhoods, negatives, denormal-ish."""
    import struct

    edge = [
        0.0, -0.0, 0.5e-6, -0.5e-6, 1.5e-6, -1.5e-6,
        0.4999999, 0.5000001, -0.4999999, -0.5000001,
        0.123456789, -0.98765432, 1.0, -1.0,
    ]
    # plus a deterministic pseudo-random sweep of float32 bit patterns
    for i in range(200):
        bits = (i * 2654435761) & 0x3F7FFFFF  # positive, finite, < 2.0
        edge.append(struct.unpack("f", struct.pack("I", bits))[0])
        edge.append(-edge[-1])
    rows = [(i, [v]) for i, v in enumerate(edge)]
    df = spark.createDataFrame(rows, "i long, v array<float>")
    got = {
        r["i"]: r["q"][0]
        for r in df.select("i", S.quantize_micro(F.col("v")).alias("q")).collect()
    }
    for i, v in enumerate(edge):
        expect = math.floor(float(np.float32(v)) * 1e6 + 0.5)
        assert got[i] == expect, (i, v, got[i], expect)


def test_lloyd_ivf_recall_not_below_init(spark, emb):
    """Retrieval check: recall@5 of the IVF search under the TRAINED
    centroids must not fall below the untrained stride-init quantizer on
    the same corpus (the test_ann_recall discipline for the exact tier).
    Ground truth = exact integer-L2 top-5."""
    rows = sorted((int(r["vec_id"]), r["embedding"]) for r in emb.collect())
    V = np.array(
        [
            [math.floor(float(np.float64(x)) * 1e6 + 0.5) for x in vec]
            for _, vec in rows
        ],
        dtype=np.int64,
    )
    qids = [0, 1, 2, 3, 4]
    truth = {}
    for q in qids:
        d = ((V - V[q]) ** 2).sum(axis=1)
        order = [i for i in np.argsort(d, kind="stable") if i != q]
        truth[q] = set(order[:5])
    queries = emb.filter(emb.vec_id < 5).selectExpr(
        "vec_id AS q_id", "embedding AS q_vec"
    )

    def recall(cents):
        got = S.ivf_topk_micro(emb, queries, cents, k=5, nprobe=2).collect()
        hit = sum(1 for r in got if r["n_id"] in truth[r["q_id"]])
        return hit / (5 * len(qids))

    trained = S.kmeans_lloyd_micro(emb, dim=64, k=K, stride=STRIDE, iters=2)
    init = S.kmeans_lloyd_micro(emb, dim=64, k=K, stride=STRIDE, iters=0)
    r_trained, r_init = recall(trained), recall(init)
    assert r_trained >= r_init, (r_trained, r_init)
    assert r_trained >= 0.5, r_trained  # sane absolute floor on this corpus


def test_round_half_away_is_exact_on_rational_boundaries():
    """The float form floor(s/n + 0.5) rounds UP on the double just below
    one half (0.49999999999999994 + 0.5 == 1.0 in IEEE); the integer form
    rounds the exact rational (r5 ADVICE)."""
    from codecdb_queryengine_spark.operators.similarity import _round_half_away

    assert _round_half_away(1, 2) == 1
    assert _round_half_away(-1, 2) == -1
    assert _round_half_away(1, 3) == 0
    assert _round_half_away(2, 3) == 1
    assert _round_half_away(-2, 3) == -1
    assert _round_half_away(0, 7) == 0
    # the advisor's boundary: 49999999999999994/1e17 < 1/2 exactly,
    # but its double quotient plus 0.5 rounds to 1.0
    assert _round_half_away(49999999999999994, 100000000000000000) == 0


def test_pca_power_micro_finds_the_dominant_direction(spark):
    """Points spread widely along axis 3 with small off-axis jitter: the
    trained component must put its dominant weight on dim 3 and be exactly
    reproducible run to run (pure integer recurrence)."""
    from codecdb_queryengine_spark.operators.similarity import pca_power_micro

    rows = []
    for i in range(40):
        v = [0.001 * ((i * 7 + j) % 5) for j in range(8)]  # jitter ≤ 0.004
        v[3] = 0.5 if i % 2 == 0 else -0.5  # dominant axis
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    means, comp = pca_power_micro(df, dim=8, iters=6)
    assert len(means) == 8 and len(comp) == 8
    dom = max(range(8), key=lambda j: abs(comp[j]))
    assert dom == 3
    assert abs(comp[3]) >= 900_000  # rescale puts max |component| near 1e6
    # pure integer arithmetic: bit-identical on re-run
    assert (means, comp) == pca_power_micro(df, dim=8, iters=6)


def test_ivfpq_encode_fold_matches_literal(spark, emb, monkeypatch):
    """ivfpq_encode_micro's two coarse-assignment forms (r9): the literal
    array_min expression and the broadcast-model integer fold must
    produce IDENTICAL (c_list, cmap) codes — the fold is what lets the
    persisted-IVFADC maintenance passes run at corpus-grain quantizers,
    and it may not perturb a single assignment or tiebreak."""
    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    lit = S.ivfpq_encode_micro(emb, cents, cbs, dim=64).collect()
    monkeypatch.setattr(S, "_ENCODE_LITERAL_MAX", 0)
    fold = S.ivfpq_encode_micro(emb, cents, cbs, dim=64).collect()
    key = lambda r: (r.n_id, r.c_list, tuple(sorted(r.cmap.items())))  # noqa: E731
    assert sorted(map(key, lit)) == sorted(map(key, fold))
