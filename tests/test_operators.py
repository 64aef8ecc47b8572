"""Operator unit tests in the reference's style: tiny inline fixtures,
exact assertions (reference: cpp/src/lqf/join_test.cc:11-44,
cpp/src/lqf/agg_test.cc:15-45)."""

import hashlib

from pyspark.sql import functions as F

from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import dedup as D
from codecdb_queryengine_spark.operators import similarity as S
from codecdb_queryengine_spark.plans.builder import Plan


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa"), (4, "aaa")], ["id", "txt"]
    )
    out = {r.digest: (r.keep_id, r.n_copies) for r in D.exact_dedup(df, "txt", "id").collect()}
    aaa = hashlib.md5(b"aaa").hexdigest()
    bbb = hashlib.md5(b"bbb").hexdigest()
    assert out[aaa] == (1, 3)
    assert out[bbb] == (2, 1)


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "x y")], ["id", "txt"])
    rows = {
        r.id: r.sh
        for r in df.select("id", T.word_shingles("txt", 3).alias("sh")).collect()
    }
    assert rows[1] == ["a b c", "b c d"]
    assert rows[2] == []  # shorter than k -> empty, not descending-sequence garbage


def test_minhash_identical_docs_always_candidates(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"), (3, "zz yy xx ww vv")],
        ["id", "txt"],
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in D.minhash_candidate_pairs(df, "txt", "id", num_hashes=8, bands=2).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_jaccard_exact_values(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], ["id", "txt"])
    # shingles k=2: doc1 {a b, b c, c d}, doc2 {a b, b c, c e}: common 2, union 4
    rows = D.ngram_jaccard_pairs(df, "txt", "id", shingle_words=2, threshold=0.0).collect()
    assert len(rows) == 1
    assert abs(rows[0].jaccard - 0.5) < 1e-12


def test_simhash_identical_and_hamming(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "zebra quokka")],
        ["id", "txt"],
    )
    sims = D.simhash(df, "txt", "id")
    vals = {r.sh_id: r.simhash for r in sims.collect()}
    assert vals[1] == vals[2]
    dups = {(r.id_a, r.id_b) for r in D.simhash_near_dups(sims, max_hamming=0).collect()}
    assert dups == {(1, 2)}


def test_simhash_banding_equals_all_pairs(spark):
    """Band-blocked near-dups must equal the brute-force answer (pigeonhole:
    hamming ≤ bands-1 ⇒ ≥1 exact shared band) and must not plan an
    all-pairs join (no cartesian/non-equi self-join in the physical plan)."""
    import random

    rng = random.Random(7)
    base = rng.getrandbits(32)

    def flip(h, k, seed):
        r = random.Random(seed)
        for bit in r.sample(range(32), k):
            h ^= 1 << bit
        return h

    rows = [(i, flip(base, i % 6, i)) for i in range(40)] + [
        (100 + i, rng.getrandbits(32)) for i in range(40)
    ]
    sims = spark.createDataFrame(rows, ["sh_id", "simhash"])
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_dups(sims, max_hamming=3, bands=4).collect()
    }
    import pyspark.sql.functions as F

    a = sims.select(F.col("sh_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = sims.select(F.col("sh_id").alias("id_b"), F.col("simhash").alias("h_b"))
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long"))
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == want and len(want) > 0
    plan = D.simhash_near_dups(sims, max_hamming=3, bands=4)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    import pytest

    with pytest.raises(ValueError):
        D.simhash_near_dups(sims, max_hamming=4, bands=4)


def test_simhash_wide_60bit_scale_path(spark):
    """The corpus-scale recipe (wider hash -> wider band keys): 60-bit
    simhash with 5 bands must stay unsigned-safe through the band div/mod
    and match brute-force hamming at max_hamming=4."""
    import random

    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "zebra quokka wombat numbat"),
        ],
        ["id", "txt"],
    )
    sims = D.simhash(df, "txt", "id", bits=60)
    vals = {r.sh_id: r.simhash for r in sims.collect()}
    assert vals[1] == vals[2] and all(0 <= v < 2**60 for v in vals.values())

    rng = random.Random(11)
    base = rng.getrandbits(60)

    def flip(h, k, seed):
        r = random.Random(seed)
        for bit in r.sample(range(60), k):
            h ^= 1 << bit
        return h

    rows = [(i, flip(base, i % 7, i)) for i in range(30)] + [
        (100 + i, rng.getrandbits(60)) for i in range(30)
    ]
    wide = spark.createDataFrame(rows, "sh_id long, simhash long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in D.simhash_near_dups(wide, max_hamming=4, bands=5, bits=60).collect()
    }
    a = wide.select(F.col("sh_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = wide.select(F.col("sh_id").alias("id_b"), F.col("simhash").alias("h_b"))
    want = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).cast("long")
        )
        .filter(F.col("hamming") <= 4)
        .collect()
    }
    assert got == want and len(want) > 0

    import pytest

    with pytest.raises(ValueError):
        D.simhash(df, "txt", "id", bits=64)  # > 60: signed-long overflow zone


def test_cosine_and_topk(spark):
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.9, 0.1]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    q = spark.createDataFrame([(1, [1.0, 0.0])], ["q_id", "q_vec"])
    rows = S.brute_force_topk(vecs, q, k=2).orderBy("rk").collect()
    assert [r.n_id for r in rows] == [2, 3]
    assert abs(rows[0].cosine - 0.9 / (0.9**2 + 0.1**2) ** 0.5) < 1e-9


def test_fingerprint_matches_python(spark):
    df = spark.createDataFrame([(1, "abc")], ["id", "txt"])
    fp = df.select(T.fingerprint("txt").alias("fp")).collect()[0].fp
    h = 0
    for ch in "abc":
        h = (h * T.FP_BASE + ord(ch)) % T.FP_MOD
    assert fp == h


def test_plan_builder_q3_shape(spark, sf_dir):
    """Plan-builder parity: reproduce TPC-H Q3's reference plan shape
    (filter -> join -> join -> agg -> topk, cpp/src/lqf/tpch/query3.cc:33-99)
    and pin it against the declarative q3."""
    from codecdb_queryengine_spark.catalog import load_tables
    from codecdb_queryengine_spark.queries.sums import unit_sum
    from codecdb_queryengine_spark.queries.tpch import q3

    t = load_tables(spark, sf_dir)
    ts = F.lit("1998-03-15").cast("timestamp")
    built = (
        Plan.scan(t["lineitem"])
        .filter(F.col("l_shipdate") > ts)
        .join(
            Plan.scan(t["orders"]).filter(F.col("o_orderdate") < ts),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            Plan.scan(t["customer"]).filter(F.col("c_mktsegment") == "BUILDING"),
            F.col("o_custkey") == F.col("c_custkey"),
            broadcast=True,
        )
        .agg(
            # same integer-unit sum as tpch.q3, so the two plans agree
            # bit-for-bit
            unit_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue"),
            by=["l_orderkey", "o_orderdate", "o_orderpriority"],
        )
        .topk(10, F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .done()
    )
    expected = q3(spark, sf_dir).collect()
    got = built.collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in expected]


def test_multimodal_feature_plumbing(spark):
    from codecdb_queryengine_spark.operators import multimodal as M

    df = spark.createDataFrame([(7, "hello")], ["doc_id", "text"]).withColumn(
        "n_chars", F.length("text").cast("long")
    )
    out = M.extract_features(M.documents_as_media(df)).collect()
    assert len(out) == 1
    r = out[0]
    assert r.media_id == 7
    assert r.n_bytes == 5
    assert r.digest == hashlib.md5(b"hello").hexdigest()
    assert len(r.feature) == M.FEATURE_DIM
    assert r.feature == [hashlib.md5(b"hello").digest()[i] / 256.0 for i in range(M.FEATURE_DIM)]


def test_builder_arg_max_keeps_ties(spark):
    df = spark.createDataFrame(
        [("g1", 1, 10.0), ("g1", 2, 10.0), ("g1", 3, 5.0), ("g2", 4, 1.0)],
        ["g", "id", "v"],
    )
    rows = sorted(
        (r.g, r.id) for r in Plan(df).arg_max(["g"], F.col("v")).done().collect()
    )
    # RecordingMax keeps the full tie set (cpp/src/lqf/agg.h:346-427)
    assert rows == [("g1", 1), ("g1", 2), ("g2", 4)]


def test_builder_exist_joins_and_key_find(spark):
    build = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "s"])
    probe = spark.createDataFrame([(2,), (2,), (9,)], ["k"])
    p = Plan(build)
    assert [r.k for r in p.exist_join(probe, "k").done().collect()] == [2]
    assert sorted(r.k for r in p.not_exist_join(probe, "k").done().collect()) == [1, 3]
    assert p.key_find(F.col("s") == "b", "k") == 2
    assert p.key_find(F.col("s") == "zzz", "k") is None


def test_multimodal_resize_and_frame_sample(spark):
    from codecdb_queryengine_spark.operators import multimodal as M

    media = spark.createDataFrame(
        [(1, "image", bytearray(b"x" * 100), 10, 10), (2, "video", bytearray(b"y" * 300), 0, 0)],
        M.MEDIA_SCHEMA,
    )
    resized = {r.media_id: r for r in M.resize(media, 4, 4).collect()}
    assert len(resized[1].payload) == 16 and resized[1].meta_width == 4
    assert len(resized[2].payload) == 16

    frames = M.frame_sample(media, every_n_bytes=64, max_frames=8).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    # 100 bytes // 64 -> 1 frame; 300 // 64 -> 4 frames
    assert len(by_id[1]) == 1 and len(by_id[2]) == 4
    assert sorted(r.frame_idx for r in by_id[2]) == [0, 1, 2, 3]
    assert bytes(by_id[2][0].frame_payload) == b"y" * 64


def test_bpe_pieces_classes(spark):
    df = spark.createDataFrame([(1, "Hello, world42! x3")], ["id", "txt"])
    pieces = df.select(T.bpe_pieces("txt").alias("p")).collect()[0].p
    assert pieces == ["Hello", ",", "world", "42", "!", "x", "3"]


def test_minhash_matches_the_oracle_mirror(spark):
    """The Arrow signature path equals DuckDB running the oracle's own
    shingle and signature mirror, edge inputs included."""
    import duckdb

    from codecdb_queryengine_spark.oracle.fragments import _sql_minhash_mins, _sql_word_shingles

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "pack my box with five dozen liquor jugs"),
        (3, "x y"),  # too short -> no shingles, dropped
        (4, ""),
        (5, "  spaced   out   tokens   here   now "),
        (6, "a b c a b c a b c"),  # repeated shingles count once
    ]
    df = spark.createDataFrame(rows, ["id", "txt"])
    got = {
        r.mh_id: (sorted(r.shingles), list(r.sig))
        for r in D.minhash_signatures(df, "txt", "id", 8, 3).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    sigs = con.execute(
        f"""
        WITH sh AS (
            SELECT doc_id AS mh_id, shingles FROM (
                SELECT doc_id, {_sql_word_shingles(3)} AS shingles FROM documents)
            WHERE len(shingles) > 0)
        SELECT mh_id, shingles, {_sql_minhash_mins(8)} FROM sh
        """
    ).fetchall()
    want = {r[0]: (sorted(r[1]), list(r[2:])) for r in sigs}
    assert got == want
    assert set(got) == {1, 2, 5, 6}


def test_lsh_band_keys_arrow_matches_expression_signature(spark):
    import random

    random.seed(7)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(50)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    arrow = {
        (r.bid, r.band): r.band_key
        for r in S.lsh_band_keys_arrow(df, 16, "embedding", "vec_id", 2, 4).collect()
    }
    for b in range(2):
        expr = {
            (r.bid, b): r.key
            for r in df.select(
                F.col("vec_id").alias("bid"),
                S.hyperplane_signature(F.col("embedding"), 16, 4, base_plane=b * 4).alias("key"),
            ).collect()
        }
        for k, v in expr.items():
            assert arrow[k] == v, k


def test_embdup_planes_policy():
    # planes-per-corpus-doubling (r10 verdict item 2): 4 below 2·n0, +1 per
    # doubling past n0=2000, capped at +8 — exact-integer, oracle-mirrored
    assert D.embdup_planes(1) == 4
    assert D.embdup_planes(500) == 4
    assert D.embdup_planes(2000) == 4
    assert D.embdup_planes(3999) == 4
    assert D.embdup_planes(4000) == 5
    assert D.embdup_planes(7999) == 5
    assert D.embdup_planes(8000) == 6
    assert D.embdup_planes(20000) == 7  # the sf1 staging: 10x of 2k
    assert D.embdup_planes(10**9) == 12  # cap: base 4 + max extra 8


def test_lsh_stride_plane_growth_refines_buckets(spark):
    # The stride-16 plane identities make signatures REFINEMENT-STABLE:
    # growing planes_per_band only SPLITS buckets (key at p+1 planes ≡ key
    # at p planes mod 2^p), so the auto policy's plane growth can never
    # rejoin a separated pair — the property the scaled-banding default
    # relies on for monotone candidate shrinkage.
    import random

    random.seed(11)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    keys = {}
    for ppb in (4, 5, 6):
        keys[ppb] = {
            (r.bid, r.band): r.band_key
            for r in S.lsh_band_keys_arrow(
                df, 16, "embedding", "vec_id", 3, ppb, plane_stride=16
            ).collect()
        }
    for ppb in (4, 5):
        for k, v in keys[ppb].items():
            assert keys[ppb + 1][k] % (2**ppb) == v, (k, ppb)


def test_embedding_near_dups_auto_policy(spark):
    # auto (planes_per_band=None) must pick embdup_planes(count) with the
    # stride-16 layout: identical output to the explicit stride-16 call,
    # and every returned pair is a true cosine>=threshold pair
    import random

    random.seed(23)
    rows = [(i, [random.uniform(-1, 1) for _ in range(16)]) for i in range(60)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    auto = {
        (r.id_a, r.id_b): r.cosine
        for r in D.embedding_near_dups(
            df, "embedding", "vec_id", threshold=0.5, dim=16, bands=3
        ).collect()
    }
    brute = {
        (r.id_a, r.id_b): r.cosine
        for r in D.embedding_near_dups(
            df, "embedding", "vec_id", threshold=0.5
        ).collect()
    }
    assert set(auto) <= set(brute)
    for k, v in auto.items():
        assert v == brute[k] and v >= 0.5


def test_cosine_arrow_matches_expression(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0, 2.0], [0.5, 1.0, -2.0]), (2, [0.1, 0.2, 0.3], [0.1, 0.2, 0.3])],
        ["id", "va", "vb"],
    )
    got = {
        r.id: (r.a, r.e)
        for r in df.select(
            "id",
            S.cosine_arrow(F.col("va"), F.col("vb")).alias("a"),
            S.cosine(F.col("va"), F.col("vb")).alias("e"),
        ).collect()
    }
    for a, e in got.values():
        assert abs(a - e) < 1e-12


def test_cross_minhash_pairs_match_bruteforce_jaccard(spark):
    """Cross-corpus LSH candidates + verify must find every cross-frame
    pair whose full Jaccard >= threshold AND whose signatures collide in
    >= 1 band (planted near-identical docs collide with overwhelming
    probability), and never report a pair below threshold."""
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "pack my box with five dozen liquor jugs for the long trip home",
        "sphinx of black quartz judge my vow before the winter comes",
    ]
    corpus = spark.createDataFrame(
        [(i, t) for i, t in enumerate(base)]
        + [(10, "completely unrelated words about spark shuffles and joins")],
        ["doc_id", "text"],
    )
    # probe: near-identical copy of base[0] (one word changed) + fresh text
    probe = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy cat again and again"),
            (101, "nothing in common with anything at all here truly"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.cross_minhash_pairs(
            corpus, probe, "text", "doc_id", threshold=0.3
        ).collect()
    }
    assert (0, 100) in got  # the planted near-dup crosses the frames
    assert all(j >= 0.3 for j in got.values())
    assert all(b in (100, 101) for (_, b) in got)  # id_b always probe-side
    assert (0, 101) not in got


def test_canonical_dedup_merges_formatting_variants(spark):
    df = spark.createDataFrame(
        [
            (1, "Hello,   World!"),
            (2, "hello world"),
            (3, "HELLO ... world"),
            (4, "a different document"),
        ],
        ["doc_id", "text"],
    )
    got = {r.keep_id: r.n_copies for r in D.canonical_dedup(df, "text", "doc_id").collect()}
    assert got == {1: 3, 4: 1}


def test_exact_substring_dedup_consistent_with_dup_spans(spark, sf_dir):
    """Measurement/surgery coupling (r11): a document whose 5-span dup
    fraction is ZERO (docs_dup_spans) cannot lose a token to ExactSubstr
    removal (docs_dedup_substrings) — removal only ever targets positions
    covered by a span occurring >= 2 times.  Also pins the sf0.001
    surgery totals (1470 tokens removed across 30 touched docs of 500)."""
    from codecdb_queryengine_spark.queries import dedup

    spans = {
        r.doc_id: r.dup_frac_micro
        for r in dedup.QUERIES["docs_dup_spans"](spark, sf_dir).collect()
    }
    sub = dedup.QUERIES["docs_dedup_substrings"](spark, sf_dir).collect()
    assert len(sub) == 500
    for r in sub:
        assert 0 <= r.n_removed <= r.n_tokens
        assert r.clean_ntok == r.n_tokens - r.n_removed
        if spans.get(r.doc_id, 0) == 0:
            assert r.n_removed == 0, r.doc_id
    assert sum(r.n_removed for r in sub) == 1470
    assert sum(1 for r in sub if r.n_removed > 0) == 30
