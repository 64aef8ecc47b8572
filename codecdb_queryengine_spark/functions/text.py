"""Text-analysis column functions for large-scale corpus pipelines.

The reference engine has no scalar function library — its expressions are
inline C++ lambdas (reference: cpp/src/lqf/tpch/query1.cc:29-41, util
strnstr cpp/src/lqf/util.h:12).  This module is the extension surface the
100-TB training-data mandate needs: language-ID, quality scoring, token
counting, shingling, fingerprinting.

Design rule: every function here returns a *Column expression* built from
pyspark.sql.functions only — JVM-side, whole-stage-codegen friendly, zero
Python row-at-a-time UDFs.  Each has an exact DuckDB-SQL mirror used by the
correctness oracle (oracle/fragments.py), so the implementations are pinned
cross-engine.

All hashing is md5-based: md5 is bit-identical across Spark, DuckDB and
Python's hashlib, which makes MinHash/LSH results reproducible across the
engine and the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small English stopword list used by the language/quality heuristics.
# Kept tiny and explicit so the oracle SQL regex stays identical.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")

# Polynomial rolling-hash parameters (Rabin-Karp style): h = h*B + c mod P.
FP_BASE = 131
FP_MOD = 1_000_000_007


def tokens(c: str) -> Column:
    """Whitespace tokenization. Mirror SQL: string_split_regex(trim(c), '\\s+')."""
    return F.split(F.trim(F.col(c)), r"\s+")


def token_count(c: str) -> Column:
    return F.size(tokens(c)).cast("long")


def distinct_token_count(c: str) -> Column:
    return F.size(F.array_distinct(tokens(c))).cast("long")


def avg_token_length(c: str) -> Column:
    """Mean token length in characters (0.0 for empty text)."""
    t = tokens(c)
    return (
        F.aggregate(t, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x))
        / F.greatest(F.size(t), F.lit(1))
    ).cast("double")


def stopword_count(c: str) -> Column:
    r"""Occurrences of STOPWORDS as whole words.

    Mirror SQL: length(regexp_extract_all(c, '\b(the|a|...)\b')).
    """
    # Spark SQL string literals consume one level of backslash escaping, so
    # \b must be written \\b inside the expr text.
    pat = r"\\b(" + "|".join(STOPWORDS) + r")\\b"
    return F.size(F.expr(f"regexp_extract_all({c}, '{pat}', 0)")).cast("long")


def stopword_ratio(c: str) -> Column:
    return (stopword_count(c) / F.greatest(token_count(c), F.lit(1))).cast("double")


def punct_ratio(c: str) -> Column:
    """Fraction of characters that are not [a-z0-9 ] (lower-cased text)."""
    lc = F.lower(F.col(c))
    stripped = F.regexp_replace(lc, "[a-z0-9 ]", "")
    return (F.length(stripped) / F.greatest(F.length(lc), F.lit(1))).cast("double")


def quality_score(c: str) -> Column:
    """Composite document quality in [0,1]: length, lexical diversity,
    stopword presence, low punctuation noise.  Weights are arbitrary but
    fixed; the oracle recomputes the identical formula.
    """
    n_tok = token_count(c)
    length_term = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    diversity = distinct_token_count(c) / F.greatest(n_tok, F.lit(1))
    stop_term = F.least(stopword_ratio(c) * 4.0, F.lit(1.0))
    noise_term = F.lit(1.0) - F.least(punct_ratio(c) * 4.0, F.lit(1.0))
    return (
        0.3 * length_term + 0.3 * diversity + 0.2 * stop_term + 0.2 * noise_term
    ).cast("double")


def lang_guess(c: str) -> Column:
    """N-gram/stopword language heuristic.

    Real corpora: score per-language marker sets and argmax.  The testdata
    corpus shares one vocabulary across its `lang` labels, so only the
    English marker set fires; the operator still demonstrates the
    scoring-argmax shape and is pinned by the oracle recomputing it.
    """
    return (
        F.when(stopword_ratio(c) >= 0.05, F.lit("en_like"))
        .when(punct_ratio(c) > 0.2, F.lit("symbolic"))
        .otherwise(F.lit("unknown"))
    )


def word_shingles(c: str, k: int = 3) -> Column:
    """Distinct word k-gram shingles joined by single spaces.

    NOTE: re-evaluates the regex split for every shingle index inside the
    interpreted transform lambda — O(tokens²) per doc.  Hot paths use the
    Arrow shingler of operators/dedup.py (identical output).
    """
    return F.expr(
        f"CASE WHEN size(split(trim({c}), '\\\\s+')) >= {k} THEN "
        f"array_distinct(transform("
        f"  sequence(0, size(split(trim({c}), '\\\\s+')) - {k}),"
        f"  i -> array_join(slice(split(trim({c}), '\\\\s+'), i + 1, {k}), ' ')))"
        f"ELSE array() END"
    )


def word_shingles_all_from_tokens(toks: Column, k: int = 3) -> Column:
    """ALL word k-gram shingles (duplicates kept) over a pre-bound token
    array — the input to repetition measurement, where the duplicate count
    IS the signal."""
    return F.when(
        F.size(toks) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - k),
            lambda i: F.array_join(F.slice(toks, i + F.lit(1), k), " "),
        ),
    ).otherwise(F.expr("array()").cast("array<string>"))


# Each md5 digest yields four independent 8-hex-char (32-bit) hash slices;
# a num_hashes MinHash needs only ceil(num_hashes/4) digests per shingle.
HASHES_PER_DIGEST = 4


def minhash_digest_prefix(j: int) -> str:
    """Salt prefix for digest family j (j=0 unsalted, matching plain md5(s))."""
    return "" if j == 0 else f"{j}~"


def fingerprint(c: str) -> Column:
    """Rabin-Karp polynomial rolling hash of the full text (mod 1e9+7).

    Mirror SQL: list_reduce over ascii codes.  Value fits in 32 bits so
    h*131+c never overflows int64 cross-engine.
    """
    codes = F.expr(f"transform(split({c}, ''), ch -> ascii(ch))")
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda h, code: (h * FP_BASE + code) % FP_MOD,
    )


def md5_slice32(prefix: str, c: Column) -> Column:
    """First 32 md5 bits of prefix||value, as a non-negative long — THE
    engine-portable hash this codebase keys sketches, LSH salts, and
    split buckets on.  Keep every Spark-side use on this helper so its
    shape can never drift from the oracle mirror:
        ('0x' || substring(md5(concat('<prefix>', value)), 1, 8))::BIGINT
    """
    return F.conv(F.substring(F.md5(F.concat(F.lit(prefix), c)), 1, 8), 16, 10).cast("long")


def hash_weight(tok: Column, prefix: str = "w|", buckets: int = 2001) -> Column:
    """Per-token weight of a hashed-feature linear model: the token's
    md5_slice32 bucket mapped to an integer weight in
    [-(buckets//2), buckets//2].  Stands in for a released fasttext-style
    quality classifier's weight table — deterministic and engine-portable,
    so inference is value-gateable; swapping in real trained weights is a
    broadcast-join (or literal-map) drop-in with the same plan shape.
    Mirror SQL: ('0x' || substring(md5('w|' || tok), 1, 8))::BIGINT
    % buckets - buckets//2."""
    return md5_slice32(prefix, tok) % buckets - buckets // 2


def classifier_logit(c: str) -> Column:
    """Linear text-classifier inference: mean hashed-feature weight over the
    document's tokens (the fasttext sentence representation with bag-of-words
    features — Joulin et al. 2016, arXiv:1607.01759 — reduced to engine
    expressions).  Integer weight sum (exact BIGINT fold, order-free) over
    token count — one exact-input IEEE division, so the double logit is
    bit-identical cross-engine.  The sigmoid is monotone, so thresholding
    the logit IS thresholding the probability; consumers that need the
    probability apply it downstream (float exp differs per-libm at the last
    ulp, so the gated surface stays on the logit)."""
    toks = tokens(c)
    wsum = F.aggregate(
        F.transform(toks, lambda t: hash_weight(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (wsum / F.size(toks)).cast("double")


# BPE-ish pre-tokenizer: the GPT-2-style split classes reduced to a
# Java+RE2-portable pattern — contraction-free: letter runs, digit runs,
# single non-alnum-non-space marks.  The real byte-pair merge table is a
# model artifact; for corpus accounting the pre-tokenizer piece count is
# the standard proxy.
BPE_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"


def bpe_pieces(c: str) -> Column:
    """All BPE-ish pieces of a text column (regexp_extract_all, JVM-side;
    pattern passed as a Column literal to dodge SQL-string escaping)."""
    return F.regexp_extract_all(F.col(c), F.lit(BPE_PATTERN), F.lit(0))


def bpe_piece_count(c: str) -> Column:
    return F.size(bpe_pieces(c)).cast("long")
