"""LSH-bucketed ANN quality gate: recall vs exact brute force.

A single 6-plane signature partitions the space into 64 buckets; same-bucket
candidates only.  Random 64-d embeddings make this adversarial (neighbors
are not strongly clustered), so the gate is intentionally loose — it pins
that bucketing returns sane, non-empty, correctly-ranked results, not SOTA
recall."""

from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.operators import similarity as S


def test_lsh_topk_subset_of_bruteforce_order(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = S.brute_force_topk(emb, queries, k=10).collect()
    approx = S.lsh_bucket_topk(emb, queries, dim=64, k=10, num_planes=6).collect()
    assert len(approx) > 0
    # every approx hit must carry the same cosine the exact search computed
    exact_scores = {(r.q_id, r.n_id): r.cosine for r in exact}
    all_pairs_exact = {
        (r.q_id, r.n_id)
        for r in S.brute_force_topk(emb, queries, k=10_000).collect()
    }
    for r in approx:
        assert (r.q_id, r.n_id) in all_pairs_exact
    # rank ordering within each query must be by descending cosine
    by_q: dict[int, list] = {}
    for r in sorted(approx, key=lambda r: (r.q_id, r.rk)):
        by_q.setdefault(r.q_id, []).append(r.cosine)
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)
    # recall floor: bucketed search finds at least one true top-10 neighbor
    top_exact = {(r.q_id, r.n_id) for r in exact}
    hits = sum(1 for r in approx if (r.q_id, r.n_id) in top_exact)
    assert hits >= 1


def test_ivf_lloyd_centroids_recall_at_least_mod(spark, sf_dir):
    """The trained IVF tier (exact-integer Lloyd centroids, ivf_topk_micro)
    must match-or-beat the deterministic mod-id stand-in on recall@5 vs
    brute force (deterministic; measured 0.48 vs 0.32 at sf0.001 with
    k=14, nprobe=2; the stride init alone reaches 0.38, and
    tests/test_lloyd.py pins trained >= init)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.n_id) for r in S.brute_force_topk(emb, queries, k=5).collect()}

    def recall(df):
        hits = {(r.q_id, r.n_id) for r in df.collect()}
        return len(hits & exact) / len(exact)

    mod_cents = S.kmeans_lloyd_micro(emb, dim=64, k=None, stride=29, iters=0)
    r_mod = recall(S.ivf_topk_micro(emb, queries, mod_cents, k=5, nprobe=2))
    cents = S.kmeans_lloyd_micro(emb, dim=64, k=14, stride=37, iters=2)
    # one centroid per stride-init id (ids 0, 37, …, 13·37)
    init_ids = emb.filter((F.col("vec_id") % 37 == 0) & (F.col("vec_id") < 37 * 14))
    assert [c for c, _ in cents] == list(range(init_ids.count()))
    r_trained = recall(S.ivf_topk_micro(emb, queries, cents, k=5, nprobe=2))
    assert r_trained >= r_mod > 0


def test_ivf_topk_ranked_and_within_corpus(spark, sf_dir):
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents = S.kmeans_lloyd_micro(emb, dim=64, k=None, stride=29, iters=0)
    approx = S.ivf_topk_micro(emb, queries, cents, k=10, nprobe=2).collect()
    assert len(approx) > 0
    # every query returns results and ranks are dense from 1
    by_q: dict[int, list] = {}
    for r in sorted(approx, key=lambda r: (r.q_id, r.rk)):
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for rows in by_q.values():
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        scores = [r.l2_micro2 for r in rows]
        assert scores == sorted(scores)
    # probing more lists can only widen the candidate set
    wide = S.ivf_topk_micro(emb, queries, cents, k=10, nprobe=4).collect()
    assert len(wide) >= len(approx)


def _micro(vec):
    """floor(x·1e6 + 0.5) of a float32 vector — quantize_micro in Python."""
    import math

    return [math.floor(float(x) * 1e6 + 0.5) for x in vec]


def _hits(df, exact):
    return len({(r.q_id, r.n_id) for r in df.collect()} & exact)


def test_pq_adc_ranks_sanely_vs_bruteforce(spark, sf_dir):
    """PQ compresses 64 floats to 4 codes, so ADC ranking is coarse by
    design; the gate pins structure (k results per query, dedup'd ids,
    ascending ADC) and loose recall floors vs exact top-20 and top-10, on
    sim_ann_pq's serve: the stride-37 codebook (pq_codebooks_lloyd_micro
    at iters=0) under exact-integer encode and ADC."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cbs = S.pq_codebooks_lloyd_micro(emb, dim=64, stride=37, iters=0)
    pq = S.pq_topk_micro(emb, queries, cbs, dim=64, k=5).collect()
    by_q: dict[int, list] = {}
    for r in sorted(pq, key=lambda r: (r.q_id, r.rk)):
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for rows in by_q.values():
        assert len(rows) == 5
        assert len({r.n_id for r in rows}) == 5
        adcs = [r.adc_q for r in rows]
        assert adcs == sorted(adcs)
        assert all(r.n_id != r.q_id for r in rows)
    exact20 = {
        (r.q_id, r.n_id) for r in S.brute_force_topk(emb, queries, k=20).collect()
    }
    hits = sum(1 for r in pq if (r.q_id, r.n_id) in exact20)
    # random 64-d embeddings are adversarial for 4x8 PQ; require evidence of
    # signal, not SOTA recall (measured: 7/25 at sf0.001)
    assert hits >= 2, hits
    # recall@10 floor: the retired double-precision PQ serve over the same
    # codebook sample measured 6/50 = 0.12 here (the integer serve: 0.12)
    exact10 = {
        (r.q_id, r.n_id) for r in S.brute_force_topk(emb, queries, k=10).collect()
    }
    assert _hits(S.pq_topk_micro(emb, queries, cbs, dim=64, k=10), exact10) >= 6


def test_ivfpq_structure_and_candidates_come_from_probed_lists(spark, sf_dir):
    """IVF-PQ output structure on sim_ann_ivfpq's serve (mod-29 coarse
    lists, stride-37 residual codebooks, ivfpq_train_micro at iters=0): k
    dedup'd neighbors per query in ascending ADC order, every returned
    neighbor belongs to one of the query's nprobe probed inverted lists
    (the scan-cut invariant, replayed here in Python integer L2), and a
    recall@10 floor."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents, cbs = S.ivfpq_train_micro(emb, dim=64, centroid_mod=29, iters=0)
    codes = S.ivfpq_encode_micro(emb, cents, cbs, dim=64)
    out = S.ivfpq_rank_micro(codes, queries, cents, cbs, dim=64, k=5, nprobe=2).collect()
    by_q: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.q_id, r.rk)):
        by_q.setdefault(r.q_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for rows in by_q.values():
        assert len(rows) == 5 and len({r.n_id for r in rows}) == 5
        assert [r.adc_q for r in rows] == sorted(r.adc_q for r in rows)
    # the coarse quantizer is the mod-29 sample, c_id = id // 29
    vecs = {int(r.vec_id): _micro(r.embedding) for r in emb.collect()}
    assert cents == sorted((i // 29, v) for i, v in vecs.items() if i % 29 == 0)

    def ranked(v):  # (integer L2, c_id) ascending — the serve's order
        return sorted(
            (sum((a - b) * (a - b) for a, b in zip(v, c)), cid) for cid, c in cents
        )

    assigned = {i: ranked(v)[0][1] for i, v in vecs.items()}
    probed = {q: {cid for _, cid in ranked(vecs[q])[:2]} for q in range(5)}
    for r in out:
        assert assigned[r.n_id] in probed[r.q_id], (r.q_id, r.n_id)
    # recall@10 floor: the retired double-precision IVFADC serve over the
    # same quantizer samples measured 5/50 = 0.1 here (the integer: 0.1)
    exact10 = {
        (r.q_id, r.n_id) for r in S.brute_force_topk(emb, queries, k=10).collect()
    }
    top10 = S.ivfpq_rank_micro(codes, queries, cents, cbs, dim=64, k=10, nprobe=2)
    assert _hits(top10, exact10) >= 5


def _clustered_fixture(spark, n_clusters=16, n=400, dim=64, sigma=0.15):
    """Mixture-of-gaussians embeddings (vec_id i belongs to cluster i % C):
    a non-vacuous recall fixture — the sf* synthetic embeddings are
    near-isotropic, where ANN recall is uninformative (r3 verdict item 4).
    Seeded numpy -> deterministic across runs."""
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(0, 1.0, (n_clusters, dim))
    rows = []
    for i in range(n):
        v = centers[i % n_clusters] + rng.normal(0, sigma, dim)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_clustered_recall_all_ann_tiers(spark):
    """recall@5 vs brute force on clustered data, per ANN tier.

    Measured on this fixture (seed 7): lsh 0.72; mod-IVF (the mod-29
    sample) and trained IVF (Lloyd centroids) through ivf_topk_micro 1.0
    each against the integer-L2 top-5 they rank by (0.87 each against the
    cosine top-5: the fixture is not unit-norm, so L2 and cosine
    neighbours differ), untrained IVFADC
    (ivfpq_rank_micro over the mod-29 / stride-37 samples) exact-recall
    0.25 and cluster-recall 1.0, trained PQ (Lloyd
    codebooks, pq_topk_micro) exact-recall 0.17 but cluster-recall 1.0 —
    PQ collapses same-cluster near-twins to identical codes, so it
    retrieves the right CLUSTER while tie-breaking arbitrarily inside it;
    that is the designed coarse-quantization behavior, hence the
    cluster-level assertion.  Stride 17 seeds the Lloyd inits with one
    vector of every cluster (17 ≡ 1 mod 16).  Thresholds carry slack
    below the measured values."""
    import math

    import numpy as np

    n_clusters = 16
    emb = _clustered_fixture(spark, n_clusters=n_clusters)
    queries = emb.filter(F.col("vec_id") < 12).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.n_id) for r in S.brute_force_topk(emb, queries, k=5).collect()}

    def recall(df):
        hits = {(r.q_id, r.n_id) for r in df.collect()}
        return len(hits & exact) / len(exact)

    def cluster_recall(df):
        rows = df.collect()
        same = sum(1 for r in rows if r.n_id % n_clusters == r.q_id % n_clusters)
        return same / len(rows)

    # the integer tier ranks by micro-unit L2, so its truth is the exact
    # integer-L2 top-5 (ties to the smaller id)
    rows = sorted((int(r["vec_id"]), r["embedding"]) for r in emb.collect())
    V = np.array(
        [[math.floor(float(np.float32(x)) * 1e6 + 0.5) for x in vec] for _, vec in rows],
        dtype=np.int64,
    )
    exact_l2 = set()
    for q in range(12):
        d = ((V - V[q]) ** 2).sum(axis=1)
        order = [int(i) for i in np.argsort(d, kind="stable") if i != q]
        exact_l2 |= {(q, i) for i in order[:5]}

    assert recall(S.lsh_bucket_topk(emb, queries, dim=64, k=5, num_planes=6)) >= 0.5
    cents = S.kmeans_lloyd_micro(emb, dim=64, k=n_clusters, stride=17, iters=2)
    ivf_lloyd = S.ivf_topk_micro(emb, queries, cents, k=5, nprobe=2).collect()
    assert len({(r.q_id, r.n_id) for r in ivf_lloyd} & exact_l2) / len(exact_l2) >= 0.9
    mod_cents = S.kmeans_lloyd_micro(emb, dim=64, k=None, stride=29, iters=0)
    ivf_mod = S.ivf_topk_micro(emb, queries, mod_cents, k=5, nprobe=2).collect()
    assert len({(r.q_id, r.n_id) for r in ivf_mod} & exact_l2) / len(exact_l2) >= 0.9
    cbs = S.pq_codebooks_lloyd_micro(emb, dim=64, num_codewords=16, stride=17, iters=2)
    pq = S.pq_topk_micro(emb, queries, cbs, dim=64, k=5, num_codewords=16)
    assert cluster_recall(pq) >= 0.8
    # IVFADC over the mod-29 coarse sample and stride-37 residual codebooks
    pq_cents, pq_cbs = S.ivfpq_train_micro(emb, dim=64, centroid_mod=29, iters=0)
    codes = S.ivfpq_encode_micro(emb, pq_cents, pq_cbs, dim=64)
    ivfpq = S.ivfpq_rank_micro(codes, queries, pq_cents, pq_cbs, dim=64, k=5, nprobe=2)
    assert cluster_recall(ivfpq) >= 0.8
    # every tier must beat the random-guess baseline on exact recall too
    # (5 correct of 399 candidates ~ 0.0125)
    assert recall(pq) >= 0.1
    assert recall(ivfpq) >= 0.1
    # IVFADC recall@10 floor: the retired double-precision serve over the
    # same quantizer samples measured 50/120 here (the integer serve: 50)
    exact10 = {(r.q_id, r.n_id) for r in S.brute_force_topk(emb, queries, k=10).collect()}
    ivfpq10 = S.ivfpq_rank_micro(codes, queries, pq_cents, pq_cbs, dim=64, k=10, nprobe=2)
    assert _hits(ivfpq10, exact10) >= 50


def test_ivf_assign_arrow_matches_expression_assignment(spark, sf_dir):
    """The vectorized Arrow assignment must equal the expression-form
    assignment (similarity._micro_assign, the oracle-gated face) row for
    row — both are integer L2 over the same micro-quantized values, so
    they agree by arithmetic, not by a tie margin: on the real corpus with
    the mod-29 sample, and on the clustered fixture with near-twin
    centers."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    # stride 8 on the fixture: every 8th vector, two centers per cluster
    for vecs, stride in ((emb, 29), (_clustered_fixture(spark), 8)):
        cents = S.kmeans_lloyd_micro(vecs, dim=64, k=None, stride=stride, iters=0)
        fast = {r.n_id: r.c_list for r in S.ivf_assign_arrow(vecs, cents).collect()}
        slow = {
            r.n_id: r.c_list
            for r in S._micro_assign(vecs, cents, "embedding", "vec_id").collect()
        }
        assert fast == slow
        assert len(fast) == vecs.count()


def test_recall_gates_pin_quality_values(spark, sf_dir):
    """The r10 recall@10 gates (sim_ann_recall_{ivf,ivfpq,lsh}) put the
    retrieval-quality number itself in the value-hashed output; this pins
    the measured values on the deterministic sf0.001 fixture so a silent
    quality regression (changed assignment exprs, broken probe pruning,
    codebook drift) fails HERE with the number, not just as an opaque
    hash mismatch in the driver gate.  Random embeddings are adversarial
    for ANN, hence the honest low absolutes; the relative order
    (full-precision IVF above the code-quantized and bucket-cut tiers)
    is the substantive invariant."""
    from codecdb_queryengine_spark.queries import ann

    expected = {
        "sim_ann_recall_ivf": {0: (10, 1.0), 1: (0, 0.0), 2: (4, 0.4),
                               3: (4, 0.4), 4: (2, 0.2)},
        "sim_ann_recall_ivfpq": {0: (3, 0.3), 1: (0, 0.0), 2: (1, 0.1),
                                 3: (1, 0.1), 4: (0, 0.0)},
        "sim_ann_recall_lsh": {0: (0, 0.0), 1: (2, 0.2), 2: (1, 0.1),
                               3: (1, 0.1), 4: (0, 0.0)},
        "sim_ann_recall_ivfpq_reranked": {0: (6, 0.6), 1: (0, 0.0),
                                          2: (2, 0.2), 3: (2, 0.2),
                                          4: (1, 0.1)},
    }
    means = {}
    per_q = {}
    for name, want in expected.items():
        rows = ann.QUERIES[name](spark, sf_dir).collect()
        got = {r.q_id: (r.hits, r.recall_at_10) for r in rows}
        assert got == want, f"{name}: {got}"
        means[name] = sum(v[1] for v in got.values()) / len(got)
        per_q[name] = got
    assert means["sim_ann_recall_ivf"] >= means["sim_ann_recall_ivfpq"]
    # the exact second stage can only keep or improve recall PER QUERY at
    # the same candidate budget: within the R-shortlist the re-rank
    # retains the truly nearest k, a superset-ordering argument that a
    # broken rerank join/window would violate immediately
    for q, (hits, _) in per_q["sim_ann_recall_ivfpq"].items():
        assert per_q["sim_ann_recall_ivfpq_reranked"][q][0] >= hits


def test_two_stage_rerank_flat_tiers(spark, sf_dir):
    """r11: two-stage retrieval composed onto the FLAT tiers, each with a
    genuinely cheap stage 1 (re-ranking an exact-cosine-scored shortlist
    would be the identity): coarse-quantizer rank for IVF, multi-band
    collision count for LSH.  Pins (a) the measured recall@10 values at
    sf0.001, (b) the aggregate lift over the single-stage gates, and (c)
    the PER-QUERY monotone-lift invariant against the stage-1-ordered
    top-10 of the SAME shortlist — the guarantee the rerank provides by
    construction (it keeps the truly nearest 10 of the R candidates, so
    no stage-1 order over those candidates can beat it)."""
    from codecdb_queryengine_spark.queries import ann

    expected = {
        "sim_ann_recall_ivf_reranked": {0: (10, 1.0), 1: (2, 0.2),
                                        2: (4, 0.4), 3: (5, 0.5),
                                        4: (5, 0.5)},
        "sim_ann_recall_lsh_reranked": {0: (0, 0.0), 1: (1, 0.1),
                                        2: (0, 0.0), 3: (3, 0.3),
                                        4: (3, 0.3)},
    }
    got = {}
    for name, want in expected.items():
        rows = ann.QUERIES[name](spark, sf_dir).collect()
        got[name] = {r.q_id: (r.hits, r.recall_at_10) for r in rows}
        assert got[name] == want, f"{name}: {got[name]}"

    # aggregate lift over the single-stage serves (measured: ivf 20->26
    # hits, lsh 4->7 at sf0.001)
    single = {}
    for name in ("sim_ann_recall_ivf", "sim_ann_recall_lsh"):
        rows = ann.QUERIES[name](spark, sf_dir).collect()
        single[name] = sum(r.hits for r in rows)
    assert sum(h for h, _ in got["sim_ann_recall_ivf_reranked"].values()) > \
        single["sim_ann_recall_ivf"]
    assert sum(h for h, _ in got["sim_ann_recall_lsh_reranked"].values()) > \
        single["sim_ann_recall_lsh"]

    # per-query monotone lift vs the stage-1 order of the SAME shortlist
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact10 = {}
    for r in S.brute_force_topk(emb, queries, k=10).collect():
        exact10.setdefault(r.q_id, set()).add(r.n_id)
    shortlists = {
        "sim_ann_recall_ivf_reranked": S.ivf_coarse_shortlist(
            emb, queries, S.kmeans_lloyd_micro(emb, dim=64, k=None, stride=29, iters=0),
            r=100, nprobe=4,
        ),
        "sim_ann_recall_lsh_reranked": S.lsh_collision_shortlist(
            emb, queries, dim=64, r=20, bands=4, planes_per_band=4
        ),
    }
    for name, short in shortlists.items():
        stage1 = {}
        for r in short.filter(F.col("rk") <= 10).collect():
            stage1.setdefault(r.q_id, set()).add(r.n_id)
        for q, (hits, _) in got[name].items():
            stage1_hits = len(stage1.get(q, set()) & exact10[q])
            assert hits >= stage1_hits, (name, q, hits, stage1_hits)


def test_ivfpq_operating_curve_pinned(spark, sf_dir):
    """r11: the recall-vs-cost operating curve gate (nprobe x R sweep over
    ONE all-lists ADC relation).  Pins the sf0.001 points and the curve's
    structural laws: rows_read grows with nprobe and is R-independent
    (it's the ADC scan cost), and recall at FIXED nprobe is non-decreasing
    in R (a larger shortlist is a superset, and the exact re-rank of a
    superset can only keep or improve recall@10).  Recall is NOT asserted
    monotone in nprobe at fixed R: more lists means more quantization-
    noise impostors competing for the R ADC slots — visible in the pinned
    values (nprobe 18, R=20 scores 0.20 under nprobe 1's 0.24), the
    honest ADC artifact the curve exists to expose."""
    from codecdb_queryengine_spark.queries import ann

    rows = ann.QUERIES["sim_ann_ivfpq_curve"](spark, sf_dir).collect()
    got = {(r.nprobe, r.r_shortlist): (r.hits, r.recall_at_10, r.rows_read)
           for r in rows}
    assert got == {
        (1, 20): (12, 0.24, 139),
        (1, 100): (17, 0.34, 139),
        (4, 20): (12, 0.24, 571),
        (4, 100): (26, 0.52, 571),
        (18, 20): (10, 0.2, 2495),
        (18, 100): (24, 0.48, 2495),
    }, got
    for np_ in (1, 4, 18):
        assert got[(np_, 20)][2] == got[(np_, 100)][2]  # cost is R-free
        assert got[(np_, 100)][0] >= got[(np_, 20)][0]  # recall mono in R
    assert got[(1, 20)][2] < got[(4, 20)][2] < got[(18, 20)][2]
