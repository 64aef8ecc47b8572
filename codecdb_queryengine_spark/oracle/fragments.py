"""SQL fragments shared by the DuckDB oracles.  Each mirrors an engine
expression exactly: the tokenizer and shingles of functions/text.py, the
unrolled left-associative dot products and hyperplane projections of
operators/similarity.py, and Spark's rounding of integer ratios.
"""

from __future__ import annotations

from codecdb_queryengine_spark.functions import text as T


_SQL_TOKENS = "string_split_regex(trim(text), '\\s+')"
_SQL_NTOK = f"len({_SQL_TOKENS})"
_SQL_STOP = (
    r"len(regexp_extract_all(text, '\b(the|a|of|and|to|in|is|that|it|for)\b'))"
)
_SQL_PUNCT = (
    "CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)"
    " / greatest(length(lower(text)), 1)"
)


def _sql_word_shingles_all(k: int = 3) -> str:
    """ALL word k-gram shingles, duplicates kept — single source of the
    shingle construction (mirrors text.word_shingles_all_from_tokens)."""
    toks = _SQL_TOKENS
    return (
        f"CASE WHEN len({toks}) >= {k} THEN "
        f"list_transform(range(0, len({toks}) - {k} + 1), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {k}), ' ')) "
        f"ELSE [] END"
    )


def _sql_word_shingles(k: int = 3) -> str:
    return f"list_distinct({_sql_word_shingles_all(k)})"


def _sql_minhash_mins(num_hashes: int = 8) -> str:
    """Mirror of dedup.minhash_signatures: element i = min of an
    8-hex-char slice of md5(prefix_{i//4} || s).  (DuckDB re-derives the
    digest per slice; the oracle is correctness-only.)"""
    parts = []
    for i in range(num_hashes):
        j, slot = divmod(i, T.HASHES_PER_DIGEST)
        p = T.minhash_digest_prefix(j)
        digest = f"md5('{p}' || s)" if p else "md5(s)"
        parts.append(
            f"list_min(list_transform(shingles, "
            f"s -> substring({digest}, {slot * 8 + 1}, 8))) AS m{i}"
        )
    return ", ".join(parts)


def _sql_comp(p: int, d: int) -> str:
    """Hyperplane component p,d — must equal similarity.hyperplane_component."""
    return f"(('0x' || substring(md5('{p}|{d}'), 1, 8))::BIGINT / 4294967296.0 - 0.5)"


def _sql_proj(p: int, col: str, dim: int) -> str:
    return " + ".join(f"CAST({col}[{d + 1}] AS DOUBLE) * {_sql_comp(p, d)}" for d in range(dim))


def _sql_band_sig(col: str, base_plane: int, planes: int, dim: int) -> str:
    return " + ".join(
        f"CASE WHEN ({_sql_proj(base_plane + p, col, dim)}) >= 0 THEN {2**p} ELSE 0 END"
        for p in range(planes)
    )


def _sql_dot(ca: str, cb: str, dim: int) -> str:
    """Unrolled Σ CAST(ca[i] AS DOUBLE)*CAST(cb[i] AS DOUBLE) — SQL's
    left-deep `+` parse tree reproduces the engine's zip_with/aggregate
    left fold addition-for-addition, so both IEEE paths agree bit-exactly
    (same trick as _sql_proj for the hyperplane signatures)."""
    return " + ".join(
        f"CAST({ca}[{d + 1}] AS DOUBLE) * CAST({cb}[{d + 1}] AS DOUBLE)" for d in range(dim)
    )


def _sql_round_ratio(num: str, den: str) -> str:
    """SQL mirror of operators/similarity._round_half_away: half-away-from-
    zero rounding of the EXACT rational num/den (den > 0) in pure BIGINT
    arithmetic — (2s + n) // (2n), floor division on non-negative operands.
    Replaces round(CAST(s AS DOUBLE)/n), whose double quotient could round
    the other way on boundary values (r5 ADVICE)."""
    return (
        f"CAST(CASE WHEN {num} >= 0 THEN (2*{num} + {den}) // (2*{den}) "
        f"ELSE -((-2*{num} + {den}) // (2*{den})) END AS BIGINT)"
    )
