"""Corpus-preparation operator tests (decontaminate / pack / quality /
redact) in the reference's unit style: tiny inline fixtures, exact
assertions (reference: cpp/src/lqf/agg_test.cc:15-45)."""

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from codecdb_queryengine_spark.operators import corpus as C


def test_decontaminate_counts_shared_shingles(spark):
    train = spark.createDataFrame(
        [
            (1, "a b c d e"),          # shares "a b c" + "b c d" with eval
            (2, "x y z w"),            # shares nothing
            (3, "q r s a b c"),        # shares "a b c"
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, "a b c d")], ["doc_id", "text"])
    out = {
        r.doc_id: r.n_contaminated
        for r in C.decontaminate(train, ev, "text", "doc_id", k=3).collect()
    }
    assert out == {1: 2, 3: 1}  # doc 2 absent: decontaminated output only


def test_pack_offsets_concat_and_chunk(spark):
    # one bucket so the running offset is a single deterministic stream
    df = spark.createDataFrame(
        [(0, 100), (8, 200), (16, 100)], ["doc_id", "ntok"]
    )
    rows = {
        r.doc_id: (r.bucket, r.tok_offset, r.seq_first, r.seq_last)
        for r in C.pack_offsets(
            df, F.col("ntok"), "doc_id", budget=128, n_buckets=8
        ).collect()
    }
    assert rows[0] == (0, 0, 0, 0)       # tokens [0,100) -> seq 0
    assert rows[8] == (0, 100, 0, 2)     # [100,300) straddles seqs 0..2
    assert rows[16] == (0, 300, 2, 3)    # [300,400) straddles 2..3


def test_pack_offsets_zero_token_doc_stays_in_place(spark):
    df = spark.createDataFrame([(0, 0), (8, 5)], ["doc_id", "ntok"])
    rows = {
        r.doc_id: (r.tok_offset, r.seq_first, r.seq_last)
        for r in C.pack_offsets(
            df, F.col("ntok"), "doc_id", budget=4, n_buckets=1
        ).collect()
    }
    assert rows[0] == (0, 0, 0)  # empty doc occupies its offset's seq only
    assert rows[8] == (0, 0, 1)


def test_decontaminate_matches_the_oracle_mirror(spark):
    """The Arrow shingle path equals DuckDB running docs_decontaminate's
    own oracle text (eval docs are those with doc_id % 23 = 0), edge
    inputs included."""
    import duckdb

    from codecdb_queryengine_spark.oracle.text import _DECONTAM_SQL

    rows = [(i, f"w{i} common a b c tail{i % 3}") for i in range(1, 9)] + [
        (9, "a b"),  # too short: no shingles
        (10, ""),
        (11, "  common   a   b   c  "),
        (23, "common a b c"),
        (46, "x y"),  # a too-short eval doc adds nothing
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        tuple(r)
        for r in C.decontaminate(
            docs.filter(F.col("doc_id") % 23 != 0), docs.filter(F.col("doc_id") % 23 == 0)
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(con.execute(_DECONTAM_SQL).fetchall())
    assert got == want and (11, 2) in got


def test_stream_tmpdir_reaps_dead_and_own_dirs(tmp_path, monkeypatch):
    """_scratch_dir reaps only dead processes' directories and wipes its
    own on every fresh call."""
    import os
    import tempfile

    from codecdb_queryengine_spark.queries import scenario

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(scenario, "_SCRATCH", {})
    dead = tmp_path / "codecdb_test_kind_sf_abcd1234_999999999"  # no such pid
    dead.mkdir()
    (dead / "junk").write_text("x")
    # A live directory of a kind that EXTENDS ours matches our glob and
    # must never be touched: only the pid decides.
    sibling = tmp_path / f"codecdb_test_kind_v2_sf_cafe0000_{os.getpid()}"
    sibling.mkdir()
    alive = tmp_path / f"codecdb_test_kind_other_deadbeef_{os.getpid()}"  # other sf_dir,
    alive.mkdir()  # same live pid -> must survive
    base = scenario._scratch_dir("test_kind", "/some/sf", fresh=True)
    assert not dead.exists()
    assert sibling.exists()
    assert alive.exists()
    assert base.startswith(str(tmp_path))
    # our own dir is wiped on every fresh call, not resumed
    with open(os.path.join(base, "junk"), "w") as fh:
        fh.write("x")
    assert scenario._scratch_dir("test_kind", "/some/sf", fresh=True) == base
    assert os.listdir(base) == []


def test_pack_chunks_conserve_tokens(spark, sf_dir):
    """Chunk occupancy must conserve tokens: per bucket, the clipped
    contributions sum back to the bucket's total token count."""
    from codecdb_queryengine_spark.queries.text import (
        docs_pack_chunks,
        docs_pack_sequences,
    )

    chunks = docs_pack_chunks(spark, sf_dir)
    per_bucket_chunks = {
        r.bucket: r.s
        for r in chunks.groupBy("bucket").agg(F.sum("chunk_tokens").alias("s")).collect()
    }
    packed = docs_pack_sequences(spark, sf_dir)
    per_bucket_docs = {
        r.bucket: r.s
        for r in packed.groupBy("bucket").agg(F.sum("n_tokens").alias("s")).collect()
    }
    assert per_bucket_chunks == per_bucket_docs and per_bucket_chunks


def test_quality_filter_rules_fire_individually(spark):
    df = spark.createDataFrame(
        [
            (1, "the " + " ".join(f"w{i}" for i in range(30))),  # keep
            (2, "tiny doc"),  # too_short
            (3, ("the dog " * 60).strip()),  # too_long + low_uniq
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in C.quality_filter(df).collect()}
    assert out[1].keep and not out[1].too_short
    assert out[2].too_short and not out[2].keep
    assert out[3].too_long and out[3].low_uniq and not out[3].keep


def test_repetition_stats_counts_duplicate_shingles(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c"),  # shingles: abc bca cab abc -> 4 total, 3 uniq
            (2, "x y"),          # shorter than k -> 0 shingles, ratio 0.0
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in C.repetition_stats(df, k=3).collect()}
    assert (out[1].n_shingles, out[1].n_uniq_shingles) == (4, 3)
    assert abs(out[1].dup_ratio - 0.25) < 1e-12
    assert (out[2].n_shingles, out[2].dup_ratio) == (0, 0.0)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    ntoks=st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=20),
    budget=st.integers(min_value=1, max_value=32),
    n_buckets=st.integers(min_value=1, max_value=4),
)
def test_pack_offsets_properties(spark, ntoks, budget, n_buckets):
    """Within every bucket: offsets are the exact running sum in id order,
    and each doc's seq range is floor-consistent with its offset."""
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(ntoks)], ["doc_id", "ntok"]
    )
    rows = C.pack_offsets(
        df, F.col("ntok"), "doc_id", budget=budget, n_buckets=n_buckets
    ).collect()
    assert len(rows) == len(ntoks)
    by_bucket = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        expect = by_bucket.get(r.bucket, 0)
        assert r.tok_offset == expect
        by_bucket[r.bucket] = expect + r.n_tokens
        assert r.seq_first == r.tok_offset // budget
        assert r.seq_last == (r.tok_offset + max(r.n_tokens, 1) - 1) // budget
        assert r.seq_first <= r.seq_last


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=12,
    )
)
def test_repetition_ratio_bounds_and_exactness(spark, texts):
    df = spark.createDataFrame(list(enumerate(texts)), ["doc_id", "text"])
    rows = {r.doc_id: r for r in C.repetition_stats(df, k=3).collect()}
    for i, txt in enumerate(texts):
        toks = [t for t in txt.split(" ") if t]
        sh = [" ".join(toks[j : j + 3]) for j in range(len(toks) - 2)]
        r = rows[i]
        assert r.n_shingles == len(sh)
        assert r.n_uniq_shingles == len(set(sh))
        assert 0.0 <= r.dup_ratio < 1.0 or (r.dup_ratio == 0.0 and not sh)
        if sh:
            assert abs(r.dup_ratio - (1 - len(set(sh)) / len(sh))) < 1e-12


def test_redact_masks_lexicon_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "customer data for spark row"), (2, "no entities here")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in C.redact(df).collect()}
    masked = "<MASK> data for <MASK> row"
    assert out[1].n_masked == 2
    assert out[1].red_len == len(masked)
    assert out[1].red_md5 == hashlib.md5(masked.encode()).hexdigest()
    assert out[2].n_masked == 0
    assert out[2].red_md5 == hashlib.md5(b"no entities here").hexdigest()


def test_chunk_sliding_windows_and_null_text(spark):
    from codecdb_queryengine_spark.operators.corpus import chunk_sliding

    docs = spark.createDataFrame(
        [(0, "a b c d e f g"), (1, "x"), (2, None)],
        "doc_id long, text string",
    )
    rows = sorted(
        (r["doc_id"], r["chunk_id"], r["start"], r["end"], r["chunk_text"])
        for r in chunk_sliding(docs, chunk_tokens=4, stride=3).collect()
    )
    assert rows == [
        (0, 0, 0, 4, "a b c d"),
        (0, 1, 3, 7, "d e f g"),
        (0, 2, 6, 7, "g"),
        (1, 0, 0, 1, "x"),
    ]  # doc 2 (NULL text) dropped; final chunks short; overlap of 1 token
    import pytest

    with pytest.raises(ValueError, match="must be positive"):
        chunk_sliding(docs, chunk_tokens=0)


def test_chunk_overlap_oracle_pair_drops_null_text(spark):
    """The gated oracle pair (docs_chunk_overlap) on a corpus that DOES
    contain a NULL-text doc (r8 advice: the shipped testdata has none, so
    the stated drop-NULL semantics was never exercised oracle-side —
    DuckDB's range(0, greatest(NULL, 1)) would emit a phantom chunk row
    without the WHERE text IS NOT NULL guard)."""
    import duckdb
    import pandas as pd

    from codecdb_queryengine_spark.operators.corpus import chunk_sliding
    from codecdb_queryengine_spark.oracle.text import _chunk_overlap_sql

    rows = [(0, "a b c d e f g"), (1, None), (2, "x y")]
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text"])
    )
    oracle = sorted(
        tuple(r)
        for r in con.execute(_chunk_overlap_sql(chunk_tokens=4, stride=3)).fetchall()
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    eng = sorted(
        (r.doc_id, r.chunk_id, r.start, r.end, r.n_chunk_tokens,
         hashlib.md5(r.chunk_text.encode()).hexdigest())
        for r in chunk_sliding(docs, chunk_tokens=4, stride=3).collect()
    )
    assert eng == oracle
    assert not any(t[0] == 1 for t in eng)  # the NULL-text doc emits nothing


def _md5_bucket(prefix: str, s: str, mod: int) -> int:
    return int(hashlib.md5((prefix + s).encode()).hexdigest()[:8], 16) % mod


def _half_up(x: float) -> int:
    import math

    return math.floor(x + 0.5) if x >= 0 else math.ceil(x - 0.5)


def test_dsir_weights_match_python_reference(spark):
    """DSIR hashed-bigram importance log-weights (r11): per-bucket
    micro-nat quantization mirrored in python (same md5 bucketing, same
    HALF_UP rounding), per-doc sums exact."""
    import math

    rows = [
        (0, "the cat sat on the mat", True),
        (1, "the dog sat on the log", True),
        (2, "alpha beta gamma delta beta", False),
        (3, "the cat ran to the mat", False),
    ]
    B = 64
    df = spark.createDataFrame(rows, "doc_id long, text string, tgt boolean")
    got = {
        r.doc_id: (r.is_target, r.n_bigrams, r.logw_micro)
        for r in C.dsir_weights(
            df, F.col("tgt"), "text", "doc_id", buckets=B
        ).collect()
    }

    bigrams = {
        i: [" ".join(t.split()[j : j + 2]) for j in range(len(t.split()) - 1)]
        for i, t, _ in rows
    }
    r_cnt: dict = {}
    t_cnt: dict = {}
    for i, _, tgt in rows:
        for bgm in bigrams[i]:
            b = _md5_bucket("dsir|", bgm, B)
            r_cnt[b] = r_cnt.get(b, 0) + 1
            if tgt:
                t_cnt[b] = t_cnt.get(b, 0) + 1
    r_tot, t_tot = sum(r_cnt.values()), sum(t_cnt.values())
    w = {
        b: _half_up(
            1e6
            * math.log(
                ((t_cnt.get(b, 0) + 1) * (r_tot + B))
                / ((r_cnt[b] + 1) * (t_tot + B))
            )
        )
        for b in r_cnt
    }
    for i, _, tgt in rows:
        exp = (
            tgt,
            len(bigrams[i]),
            sum(w[_md5_bucket("dsir|", bgm, B)] for bgm in bigrams[i]),
        )
        assert got[i] == exp, (i, got[i], exp)


def test_gumbel_topk_deterministic_without_replacement(spark):
    """The Gumbel draw is content-stable: identical inputs produce the
    identical sample (order included), and k >= n returns every row in
    total (score desc, id) order with distinct ids."""
    df = spark.createDataFrame(
        [(i, (i * 37) % 11 * 1000) for i in range(20)],
        "doc_id long, logw_micro long",
    )
    a = C.gumbel_topk(df, "logw_micro", "doc_id", k=5).collect()
    b = C.gumbel_topk(df, "logw_micro", "doc_id", k=5).collect()
    assert [r.doc_id for r in a] == [r.doc_id for r in b]
    assert len({r.doc_id for r in a}) == 5
    full = C.gumbel_topk(df, "logw_micro", "doc_id", k=99).collect()
    assert len(full) == 20
    scores = [(r.score_micro, -r.doc_id) for r in full]
    assert scores == sorted(scores, reverse=True)
    for r in full:
        assert r.score_micro == r.logw_micro + r.gumbel_micro


def test_dsir_gate_enriches_target_domain(spark, sf_dir):
    """The gated end-to-end selection (sf0.001, pinned): the 50-doc
    sample is 34/50 target-language vs the corpus' 38.6% base rate —
    importance resampling measurably pulls the sample toward the target
    domain even through the Gumbel noise."""
    from codecdb_queryengine_spark.queries import text

    rows = text.QUERIES["docs_dsir_sample"](spark, sf_dir).collect()
    assert len(rows) == 50
    n_target = sum(1 for r in rows if r.is_target)
    assert n_target == 34
    assert n_target / 50 > 0.386  # corpus target fraction at sf0.001
    assert rows[0].doc_id == 263 and rows[0].score_micro == 2383595
