"""SemDeDup (dedup.semantic_dedup) + linear classifier (text.classifier_logit).

The gated queries (dedup_semantic, docs_classify) are oracle-checked by
scripts/check_correctness.py; these tests pin the operator SEMANTICS on
hand-built inputs where the right answer is known by construction.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import dedup as D


def _mk_vectors(spark):
    # k=2, stride=3 -> Lloyd init centers are ids 0 and 3.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.99, 0.01, 0.0, 0.0]),  # near-dup of 0 (cos ~ 0.99995)
        (2, [0.5, 0.5, 0.0, 0.0]),    # cos 0.707 to both axes: kept
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.01, 0.99, 0.0, 0.0]),  # near-dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),    # orthogonal to everything: kept
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semantic_dedup_drops_known_near_dups(spark):
    out = D.semantic_dedup(
        _mk_vectors(spark), "embedding", "vec_id",
        dim=4, k=2, stride=3, iters=2, tau_num=95, tau_den=100,
    ).collect()
    assert len(out) == 6
    kept = {r["vec_id"] for r in out if r["kept"]}
    assert kept == {0, 2, 3, 5}
    # near-dup pairs must share a cluster for the prune to have fired
    cl = {r["vec_id"]: r["c_id"] for r in out}
    assert cl[0] == cl[1] and cl[3] == cl[4]


def test_semantic_dedup_keep_first_is_deterministic(spark):
    # identical vectors: only the smallest id survives
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(4)] + [
        (4, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = D.semantic_dedup(
        df, "embedding", "vec_id", dim=4, k=2, stride=4, iters=1,
        tau_num=99, tau_den=100,
    ).collect()
    kept = sorted(r["vec_id"] for r in out if r["kept"])
    assert kept == [0, 4]


def _py_weight(tok: str) -> int:
    return int(hashlib.md5(f"w|{tok}".encode()).hexdigest()[:8], 16) % 2001 - 1000


@pytest.mark.parametrize(
    "text", ["the quick brown fox", "a a a", "one-token", "7 numbers 42"]
)
def test_classifier_logit_matches_python_mirror(spark, text):
    row = (
        spark.createDataFrame([(text,)], "text string")
        .select(
            T.token_count("text").alias("n"),
            T.classifier_logit("text").alias("logit"),
        )
        .first()
    )
    toks = text.strip().split()
    expect = sum(_py_weight(t) for t in toks) / len(toks)
    assert row["n"] == len(toks)
    assert row["logit"] == expect  # exact: integer sum / exact division


def test_hash_weight_range(spark):
    out = (
        spark.range(200)
        .select(T.hash_weight(F.col("id").cast("string")).alias("w"))
        .agg(F.min("w"), F.max("w"))
        .first()
    )
    assert -1000 <= out[0] and out[1] <= 1000


def test_segment_dedup_keep_first_and_rebuild(spark):
    # doc 0: two identical 2-token segments -> second occurrence dropped;
    # doc 1 repeats doc 0's first segment -> dropped corpus-wide;
    # doc 2 is unique and survives whole.
    rows = [
        (0, "a b a b c d"),
        (1, "a b x y"),
        (2, "p q r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.segment_dedup(df, "text", "doc_id", seg_tokens=2).collect()
    }
    assert (out[0]["n_segs"], out[0]["n_kept"]) == (3, 2)
    assert out[0]["text_dedup"] == "a b c d"
    assert (out[1]["n_segs"], out[1]["n_kept"]) == (2, 1)
    assert out[1]["text_dedup"] == "x y"
    assert (out[2]["n_segs"], out[2]["n_kept"]) == (2, 2)
    assert out[2]["text_dedup"] == "p q r"


def test_segment_dedup_short_doc_single_segment(spark):
    df = spark.createDataFrame([(0, "only"), (1, "only")], "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.segment_dedup(df, "text", "doc_id", seg_tokens=8).collect()
    }
    assert out[0]["n_kept"] == 1
    assert out[0]["text_dedup"] == "only"
    assert out[1]["n_kept"] == 0 and out[1]["text_dedup"] == ""


def test_semantic_dedup_guard_rejects_overflow_range_vectors(spark):
    """Vectors whose milli-quantized components exceed the provable int64
    bound of the rational cosine must fail LOUDLY (assert_true), not wrap
    silently in non-ANSI Spark (r5 ADVICE)."""
    import pytest

    rows = [(i, [100.0] * 64) for i in range(8)]  # milli comps 100000 >> ~3096
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="overflow"):
        # stride 1: the Lloyd init needs ids 0..k-1, which these 8 rows hold
        D.semantic_dedup(df, stride=1).collect()
