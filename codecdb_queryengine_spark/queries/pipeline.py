"""Training-data pipeline query surface: dedup, similarity, text analysis,
multimodal plumbing, event windows — each with a DuckDB oracle that
recomputes the identical algorithm (md5-anchored, so hashes agree
bit-for-bit across engines).

These have no reference counterpart (SURVEY.md §2.8: the reference has no
streaming, no text/vector functions); they are the driver-mandated
extensions for the 100-TB corpus use case.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import corpus as C
from codecdb_queryengine_spark.operators import dedup as D
from codecdb_queryengine_spark.operators import multimodal as M
from codecdb_queryengine_spark.operators import similarity as S
from codecdb_queryengine_spark.queries.sums import unit_sum, unit_sum_sql
from codecdb_queryengine_spark.session import run_parallel

# ---------------------------------------------------------------------------
# SQL fragments shared by the oracles (must mirror functions/text.py exactly)

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


# --- text analysis ---------------------------------------------------------


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (token counting surface)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.distinct_token_count("text").alias("n_uniq_tokens"),
        T.avg_token_length("text").alias("avg_tok_len"),
        T.stopword_count("text").alias("n_stopwords"),
    )


_TEXT_STATS_SQL = f"""
    SELECT doc_id,
           CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_SQL_TOKENS})) AS BIGINT) AS n_uniq_tokens,
           CAST(list_reduce([0] + list_transform({_SQL_TOKENS}, t -> length(t)),
                            (a, b) -> a + b) AS DOUBLE)
             / greatest({_SQL_NTOK}, 1) AS avg_tok_len,
           CAST({_SQL_STOP} AS BIGINT) AS n_stopwords
    FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score per document."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", T.quality_score("text").alias("quality"))


_TEXT_QUALITY_SQL = f"""
    SELECT doc_id,
           0.3 * least({_SQL_NTOK} / 64.0, 1.0)
         + 0.3 * (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE) / greatest({_SQL_NTOK}, 1))
         + 0.2 * least((CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1)) * 4.0, 1.0)
         + 0.2 * (1.0 - least(({_SQL_PUNCT}) * 4.0, 1.0)) AS quality
    FROM documents
"""


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column (confusion counts)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("lang", T.lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guess")
    )


_TEXT_LANGID_SQL = f"""
    SELECT lang, guess, count(*) AS n FROM (
        SELECT lang,
               CASE WHEN CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1) >= 0.05
                    THEN 'en_like'
                    WHEN {_SQL_PUNCT} > 0.2 THEN 'symbolic'
                    ELSE 'unknown' END AS guess
        FROM documents)
    GROUP BY lang, guess ORDER BY lang, guess
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", T.fingerprint("text").alias("fp"))


_TEXT_FP_SQL = f"""
    SELECT doc_id,
           list_reduce([CAST(0 AS BIGINT)] + list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)),
                       (h, c) -> (h * {T.FP_BASE} + c) % {T.FP_MOD}) AS fp
    FROM documents
"""


def text_bpe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish piece counts per document (tokenizer-style corpus accounting:
    letter runs / digit runs / punctuation marks, the GPT-2 pre-tokenizer
    classes without the merge table)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        T.bpe_piece_count("text").alias("n_pieces"),
        F.size(F.array_distinct(T.bpe_pieces("text"))).cast("long").alias("n_uniq_pieces"),
    )


_TEXT_BPE_SQL = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS BIGINT) AS n_pieces,
           CAST(len(list_distinct(regexp_extract_all(text, '{T.BPE_PATTERN}'))) AS BIGINT)
             AS n_uniq_pieces
    FROM documents
"""


# --- dedup -----------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return D.exact_dedup(docs, "text", "doc_id")


_DEDUP_EXACT_SQL = """
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
"""


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (8 hashes, 2 bands of 4, 3-word shingles)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.minhash_candidate_pairs(docs, "text", "doc_id", num_hashes=8, bands=2)


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


def _minhash_sql(num_hashes: int = 8, bands: int = 2, k: int = 3) -> str:
    r = num_hashes // bands
    mins = _sql_minhash_mins(num_hashes)
    band_keys = ", ".join(
        "concat_ws('_', " + ", ".join(f"m{b * r + j}" for j in range(r)) + f") AS bk{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT mh_id, {b} AS band, bk{b} AS band_key FROM sigs" for b in range(bands)
    )
    return f"""
        WITH sh AS (
            SELECT mh_id, shingles FROM (
                SELECT doc_id AS mh_id, {_sql_word_shingles(k)} AS shingles FROM documents)
            WHERE len(shingles) > 0),
        sig0 AS (SELECT mh_id, {mins} FROM sh),
        sigs AS (SELECT *, {band_keys} FROM sig0),
        bk AS ({band_union})
        SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.mh_id < b.mh_id
    """


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.simhash(docs, "text", "doc_id")


def _simhash_sql(bits: int = 32) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h // {2**j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fold = " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(bits))
    return f"""
        WITH tok AS (
            SELECT doc_id AS sh_id,
                   ('0x' || substring(md5(t.tok), 1, {bits // 4}))::BIGINT AS h
            FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(tok)),
        votes AS (SELECT sh_id, {votes} FROM tok GROUP BY sh_id)
        SELECT sh_id, CAST({fold} AS BIGINT) AS simhash FROM votes
    """


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (hamming ≤ 3) via pigeonhole band
    blocking — candidates share ≥1 exact band, verified with
    bit_count(xor); never the all-pairs join.  Runs the CORPUS-SCALE
    banding (bits=60, bands=5 → 12-bit band keys) since r7:
    SCALE_MEASURED.md measured the toy 32/4 config's 8-bit band space
    saturating at 16× data (44.6× shuffle bytes, random band collisions
    re-growing a quadratic term) while 60/5 stays ~linear on the same
    corpora — the gated surface now runs the configuration that
    survives 100 TB."""
    docs = load_tables(spark, sf_dir)["documents"]
    sim = D.simhash(docs, "text", "doc_id", bits=60)
    return D.simhash_near_dups(sim, max_hamming=3, bands=5, bits=60)


def _simhash_pairs_sql(max_hamming: int = 3, bands: int = 4, bits: int = 32) -> str:
    band_bits = bits // bands
    band_union = " UNION ALL ".join(
        f"SELECT sh_id, {b} AS band, (simhash // {2 ** (b * band_bits)}) % {2 ** band_bits}"
        f" AS band_key FROM sim"
        for b in range(bands)
    )
    return f"""
        WITH sim AS ({_simhash_sql(bits)}),
        bk AS ({band_union}),
        cand AS (
            SELECT DISTINCT a.sh_id AS id_a, b.sh_id AS id_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.sh_id < b.sh_id)
        SELECT id_a, id_b,
               CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        FROM cand
        JOIN sim sa ON sa.sh_id = id_a
        JOIN sim sb ON sb.sh_id = id_b
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
    """


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs above threshold (verification primitive)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_words=3, threshold=0.12)


_JACCARD_SQL = f"""
    WITH sh AS (
        SELECT doc_id AS jid, unnest({_sql_word_shingles(3)}) AS shingle FROM documents),
    sizes AS (SELECT jid, count(*) AS n_shingles FROM sh GROUP BY jid),
    common AS (
        SELECT a.jid AS id_a, b.jid AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.jid < b.jid
        GROUP BY a.jid, b.jid)
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.jid = id_a
    JOIN sizes sb ON sb.jid = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.12
"""


def dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-exact dedup: exact grouping on the CANONICAL text digest
    (lowercase, punctuation stripped, whitespace collapsed) so trivial
    formatting variants collapse; the re-ingest union plants such
    variants (upper-cased copies of even-id docs) that plain exact_dedup
    would keep."""
    docs = load_tables(spark, sf_dir)["documents"]
    with_variants = docs.select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.upper(F.col("text")).alias("text"),
        )
    )
    return D.canonical_dedup(with_variants, "text", "doc_id").orderBy("keep_id")


# must mirror operators/dedup.canonical_text exactly (single source for
# every oracle that canonicalizes)
_SQL_CANONICAL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)

_DEDUP_CANONICAL_SQL = f"""
    WITH with_variants AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id % 10 = 0)
    SELECT md5({_SQL_CANONICAL}) AS digest,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM with_variants
    GROUP BY digest ORDER BY keep_id
"""


def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy near-dup pairs: first-token blocking + fused
    Levenshtein verification on the 40-char prefix (dedup.fuzzy_pairs)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.fuzzy_pairs(docs, "text", "doc_id", prefix_len=40, max_edits=8).orderBy(
        "id_a", "id_b"
    )


_DEDUP_FUZZY_SQL = f"""
    WITH base AS (
        SELECT doc_id AS fz_id,
               substring(text, 1, 40) AS prefix,
               {_SQL_TOKENS}[1] AS block
        FROM documents
        WHERE {_SQL_TOKENS}[1] IS NOT NULL AND {_SQL_TOKENS}[1] <> '')
    SELECT DISTINCT a.fz_id AS id_a, b.fz_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edits
    FROM base a JOIN base b ON a.block = b.block AND a.fz_id < b.fz_id
    WHERE levenshtein(a.prefix, b.prefix) <= 8
    ORDER BY id_a, id_b
"""


def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end scale-path dedup: LSH candidates -> exact Jaccard verify
    on candidates only (per-pair array intersect, no inverted-index join)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.minhash_verified_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=2, shingle_words=3, threshold=0.12
    )


def _minhash_verified_sql(num_hashes: int = 8, bands: int = 2, k: int = 3, thr: float = 0.12) -> str:
    r = num_hashes // bands
    mins = _sql_minhash_mins(num_hashes)
    band_keys = ", ".join(
        "concat_ws('_', " + ", ".join(f"m{b * r + j}" for j in range(r)) + f") AS bk{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT mh_id, {b} AS band, bk{b} AS band_key FROM sigs" for b in range(bands)
    )
    return f"""
        WITH sh AS (
            SELECT mh_id, shingles FROM (
                SELECT doc_id AS mh_id, {_sql_word_shingles(k)} AS shingles FROM documents)
            WHERE len(shingles) > 0),
        sig0 AS (SELECT mh_id, shingles, {mins} FROM sh),
        sigs AS (SELECT *, {band_keys} FROM sig0),
        bk AS ({band_union}),
        cand AS (
            SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.mh_id < b.mh_id)
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   CAST(len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))) AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))))
                     AS jaccard
            FROM cand
            JOIN sh sa ON sa.mh_id = id_a
            JOIN sh sb ON sb.mh_id = id_b)
        WHERE jaccard >= {thr}
    """


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via hyperplane-LSH banding
    (the scale path: candidates = same band signature, then cosine-verify).

    Since r11 the gate runs the operator's planes-per-corpus-doubling
    DEFAULT (planes_per_band=None → dedup.embdup_planes(count), stride-16
    plane identities): the fixed 4-plane config it used to pin was the
    last measured scale-killer in a default path (the `embdup_fixed` 42×
    law at 10× corpus, SCALING.md).  The oracle replays the same policy
    from count(*), so the gate stays bit-exact at every sf while the
    key-space sizing now grows with the corpus."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return D.embedding_near_dups(
        emb, "embedding", "vec_id", threshold=0.4, dim=64, bands=4
    )


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


def _emb_dup_auto_sql(dim: int = 64, bands: int = 4, threshold: float = 0.4) -> str:
    """Mirror of embedding_near_dups' planes-per-doubling DEFAULT:

    - pol replays dedup.embdup_planes exactly — planes = 4 + min(8,
      floor(log2(n // 2000))) via an integer threshold ladder on n//2000
      (n//n0 >= 2^k ⟺ bit_length(n//n0)−1 >= k, so the ladder IS
      bit_length−1), from the same count(*) the operator's one count
      action reads.
    - band signatures use the stride-16 plane identities (global plane
      b·16+p) with a runtime-bounded bit sum, so ONE generated SQL text
      serves every corpus size.  Signature projections may sum in any
      order here (list_sum vs the engine's numpy matmul): only the SIGN
      reaches the key, and a flip needs |proj| ≲ 1e-15 — the documented,
      accepted risk class of the arrow banding path.  The verification
      cosine below stays the unrolled left-assoc mirror of
      cosine_pre (bit-exact; r2's hash flake came from DuckDB's FLOAT32
      list_cosine_similarity summing in a different order).
    """
    comp = (
        "(('0x' || substring(md5(CAST(b.band * 16 + p AS VARCHAR) || '|' || "
        "CAST(d - 1 AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 - 0.5)"
    )
    return f"""
        WITH pol AS (
            SELECT 4 + LEAST(8, CASE
                       WHEN n // 2000 >= 256 THEN 8
                       WHEN n // 2000 >= 128 THEN 7
                       WHEN n // 2000 >= 64 THEN 6
                       WHEN n // 2000 >= 32 THEN 5
                       WHEN n // 2000 >= 16 THEN 4
                       WHEN n // 2000 >= 8 THEN 3
                       WHEN n // 2000 >= 4 THEN 2
                       WHEN n // 2000 >= 2 THEN 1
                       ELSE 0 END) AS planes
            FROM (SELECT count(*) AS n FROM embeddings)),
        bk AS (
            SELECT vec_id AS bid, b.band,
                   CAST(list_sum(list_transform(range(0, planes), p ->
                       CASE WHEN list_sum(list_transform(range(1, {dim + 1}), d ->
                                CAST(embedding[d] AS DOUBLE) * {comp})) >= 0
                            THEN (CAST(1 AS BIGINT) << p)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS band_key
            FROM embeddings
            CROSS JOIN pol
            CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) b),
        cand AS (
            SELECT DISTINCT a.bid AS id_a, b.bid AS id_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.bid < b.bid),
        nv AS (SELECT vec_id, embedding,
                      sqrt({_sql_dot('embedding', 'embedding', dim)}) AS nrm
               FROM embeddings)
        SELECT id_a, id_b, cosine FROM (
            SELECT id_a, id_b,
                   ({_sql_dot('va.embedding', 'vb.embedding', dim)})
                     / (va.nrm * vb.nrm) AS cosine
            FROM cand
            JOIN nv va ON va.vec_id = id_a
            JOIN nv vb ON vb.vec_id = id_b)
        WHERE cosine >= {threshold}
    """


# --- similarity search -----------------------------------------------------

_N_QUERIES = 5
_TOP_K = 5

_SCRATCH: dict[str, str] = {}


def _scratch_dir(kind: str, sf_dir: str, fresh: bool = False) -> str:
    """Per-(kind, sf, pid) scratch path for persisted index layouts, created
    once per process and removed at interpreter exit — every repeated
    gate/bench invocation reuses (overwrites) the same directory instead of
    leaking a full index copy per run (r4 ADVICE).  `fresh=True` wipes the
    content first, for callers whose exactly-once commit logs must not see
    a previous invocation's state."""
    key = f"{kind}:{sf_dir}"
    path = _SCRATCH.get(key)
    if path is None:
        import hashlib

        # the tag must distinguish the FULL sf_dir, not just its basename:
        # /data/a/sf0.01 and /data/b/sf0.01 sharing a path would let one
        # dataset's lazy plan scan the other's index (r5 review)
        digest = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        tag = f"{os.path.basename(sf_dir.rstrip('/'))}_{digest}"
        path = os.path.join(tempfile.gettempdir(), f"codecdb_{kind}_{tag}_{os.getpid()}")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        _SCRATCH[key] = path
    if fresh and os.path.exists(path):
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


_PREBUILT_ENV = "SPARK_GRAFT_PREBUILT_LAYOUTS"


def _ensure_layout(
    kind: str,
    sf_dir: str,
    key: str,
    build,
    fresh: bool = False,
) -> str:
    """Base-layout fixture for PURE-SERVE gates (r9 verdict item 3): when
    $SPARK_GRAFT_PREBUILT_LAYOUTS=1 — set ONLY by bench.py — the closure
    `build(path)` runs once per (kind, key) per process and later
    invocations reuse the persisted layout, so the timed number is the
    SERVE instead of N identical rebuilds of the same base (bench.py's
    median over N_RUNS discards the one building run).  Unset (the
    correctness gate, tests, perfbench), every invocation builds fresh
    exactly as before — correctness timing stays
    fixture-free and the build protocol stays value-gated.

    The marker lives inside the per-(kind, sf, pid) scratch dir, so there
    is no cross-corpus or cross-process staleness to manage (the dir is
    wiped at interpreter exit).  Gates whose ORACLE reflects base
    mutations may use this only by putting the full build→mutate sequence
    in the closure (terminal state is what repeat serves read); gates
    whose CONTRACT is the mutation/crash/replay protocol itself must not
    use this at all — their rebuild is the thing being timed."""
    if os.environ.get(_PREBUILT_ENV) != "1":
        path = _scratch_dir(kind, sf_dir, fresh=fresh)
        build(path)
        return path
    path = _scratch_dir(kind, sf_dir)
    marker = os.path.join(path, f"_prebuilt_{key}.ok")
    if not os.path.exists(marker):
        if fresh:
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path, exist_ok=True)
        build(path)
        with open(marker, "w") as fh:
            fh.write(key)
    return path


def _query_vectors(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k for the first N vectors as queries."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.brute_force_topk(emb, _query_vectors(emb), k=_TOP_K)


# The cosine mirrors operators/similarity.cosine_pre bit-for-bit: unrolled
# left-assoc double dot + sqrt-of-dot norms, dot / (q_nrm * n_nrm).  DuckDB's
# list_cosine_similarity computes in FLOAT32 (~1e-8 off the engine's double
# fold — measured r3 driver red); the expression mirror is the same cure
# that fixed dedup_embedding in r3.
def _sim_topk_sql(k: int = _TOP_K) -> str:
    return f"""
    WITH nv AS (
        SELECT vec_id, embedding,
               sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
        FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ({_sql_dot('q.embedding', 'n.embedding', 64)}) / (q.nrm * n.nrm)
                 AS cosine
        FROM nv q JOIN nv n ON q.vec_id <> n.vec_id
        WHERE q.vec_id < {_N_QUERIES})
    SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
               CAST(row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
        FROM pairs)
    WHERE rk <= {k}
"""


_SIM_TOPK_SQL = _sim_topk_sql()


def sim_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized (int8) similarity scan: trained symmetric scale,
    exact BIGINT dot products over the codes (similarity.sq8_topk) — the
    compression tier between the double-precision brute force (sim_topk)
    and the PQ codebook tiers."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.sq8_topk(emb, _query_vectors(emb), k=_TOP_K)


def _sq8_sql(dim: int = 64) -> str:
    q8 = (
        "list_transform({col}, x -> greatest(-127, least(127, "
        "CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))))"
    )
    return f"""
    WITH mx AS MATERIALIZED (
        SELECT 127.0 / max(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))))) AS scale
        FROM embeddings),
    codes AS MATERIALIZED (
        SELECT vec_id, {q8.format(col="embedding")} AS nq
        FROM embeddings CROSS JOIN mx),
    scored AS MATERIALIZED (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                    i -> q.nq[i] * n.nq[i])) AS BIGINT) AS dot_q
        FROM codes q JOIN codes n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES})
    SELECT q_id, n_id, dot_q, rk FROM (
        SELECT q_id, n_id, dot_q,
               CAST(row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY dot_q DESC, n_id ASC) AS BIGINT) AS rk
        FROM scored)
    WHERE rk <= {_TOP_K}
"""


def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus, trained by
    EXACT-integer power iteration (similarity.pca_power_micro): milli
    quantization, round-half-away integer means, 6 two-pass rounds with
    DECIMAL-exact z sums and integer rescaling — the whole TRAINING
    replays bit-for-bit in the DuckDB oracle (chained MATERIALIZED CTEs),
    the Lloyd discipline applied to dimensionality reduction."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    _, comp = S.pca_power_micro(emb, dim=64, iters=6)
    return spark.createDataFrame(
        [(j + 1, int(c)) for j, c in enumerate(comp)],
        "dim_idx int, comp_micro long",
    )


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned component applied back to the corpus: per-vector
    integer projection onto the trained direction, top-20 by magnitude —
    the dimensionality-reduction serving step (train → literal-fold
    projection, no shuffle beyond the top-k), same oracle chain."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    means, comp = S.pca_power_micro(emb, dim=64, iters=6)
    mean_arr = "array(" + ",".join(f"{m}L" for m in means) + ")"
    comp_arr = "array(" + ",".join(f"{c}L" for c in comp) + ")"
    quant = "transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
    cen = emb.select(
        F.col("vec_id"),
        F.expr(f"zip_with({quant}, {mean_arr}, (a, b) -> a - b)").alias("c"),
    )
    proj = F.expr(
        f"aggregate(zip_with(c, {comp_arr}, (a, b) -> a * b), 0L, (s, e) -> s + e)"
    )
    return (
        cen.select("vec_id", proj.alias("proj"))
        .orderBy(F.abs(F.col("proj")).desc(), F.col("vec_id").asc())
        .limit(20)
    )


def emb_pca_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The model-registry loop for the PCA tier: train → PERSIST the
    integer model as a parquet artifact (sources/model_store — vectors +
    self-describing meta, the ann/text-index layout discipline) → load it
    back trusting the artifact's own shape → serve projections from the
    LOADED weights.  Gated by the identical oracle as emb_pca_project, so
    a pass proves the persistence round trip is lossless end to end
    (trivially guaranteed for integer models — which is exactly why the
    engine's trained models are integers)."""
    from codecdb_queryengine_spark.sources import model_store as MS

    emb = load_tables(spark, sf_dir)["embeddings"]
    means, comp = S.pca_power_micro(emb, dim=64, iters=6)
    path = _scratch_dir("model_store", sf_dir)
    MS.save_model(spark, path, "pca_top1", {"mean": means, "comp": comp})
    loaded = MS.load_model(spark, path, "pca_top1")
    mean_arr = "array(" + ",".join(f"{m}L" for m in loaded["mean"]) + ")"
    comp_arr = "array(" + ",".join(f"{c}L" for c in loaded["comp"]) + ")"
    quant = "transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))"
    cen = emb.select(
        F.col("vec_id"),
        F.expr(f"zip_with({quant}, {mean_arr}, (a, b) -> a - b)").alias("c"),
    )
    proj = F.expr(
        f"aggregate(zip_with(c, {comp_arr}, (a, b) -> a * b), 0L, (s, e) -> s + e)"
    )
    return (
        cen.select("vec_id", proj.alias("proj"))
        .orderBy(F.abs(F.col("proj")).desc(), F.col("vec_id").asc())
        .limit(20)
    )


def _pca_sql_ctes(iters: int = 6, dim: int = 64) -> str:
    """The shared oracle chain replaying pca_power_micro's training:
    milli quantization → integer means → centering → `iters` exact
    two-pass power rounds (HUGEINT z sums mirror the DECIMAL(38,0)
    Spark sums; the rescale's floor divisions run on non-negative
    operands on both engines)."""
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    sums = ", ".join(f"CAST(sum(v[{j}]) AS BIGINT)" for j in range(1, dim + 1))
    ctes = [
        f"vm AS MATERIALIZED (SELECT vec_id, [{quant}] AS v FROM embeddings)",
        f"st AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n, [{sums}] AS s FROM vm)",
        f"""mn AS MATERIALIZED (
            SELECT list_transform(range(1, {dim + 1}),
                i -> {_sql_round_ratio("s[i]", "n")}) AS m FROM st)""",
        f"""cen AS MATERIALIZED (
            SELECT vec_id, list_transform(range(1, {dim + 1}),
                i -> v[i] - m[i]) AS c FROM vm CROSS JOIN mn)""",
        f"""x0 AS MATERIALIZED (
            SELECT list_transform(range(1, {dim + 1}),
                i -> CAST(999999 + i AS BIGINT)) AS x)""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""y{t} AS MATERIALIZED (
            SELECT vec_id, c,
                   list_sum(list_transform(range(1, {dim + 1}),
                       i -> c[i] * x[i])) AS y
            FROM cen CROSS JOIN x{t - 1})""")
        ctes.append(f"""z{t} AS MATERIALIZED (
            SELECT list(z ORDER BY i) AS z FROM (
                SELECT i, sum(c[i] * y) AS z
                FROM y{t} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i)
                GROUP BY i))""")
        ctes.append(f"""x{t} AS MATERIALIZED (
            SELECT list_transform(z,
                e -> CAST(CASE WHEN e >= 0 THEN e // q
                          ELSE -((-e) // q) END AS BIGINT)) AS x
            FROM (SELECT z,
                         greatest(CAST(1 AS HUGEINT),
                                  (list_max(list_transform(z, e -> abs(e)))
                                   + 999999) // 1000000) AS q
                  FROM z{t}))""")
    return ",\n    ".join(ctes)


def _pca_power_sql(iters: int = 6, dim: int = 64) -> str:
    return f"""
    WITH {_pca_sql_ctes(iters, dim)}
    SELECT CAST(i AS INT) AS dim_idx, x[i] AS comp_micro
    FROM x{iters} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i)
"""


def _pca_project_sql(iters: int = 6, dim: int = 64) -> str:
    return f"""
    WITH {_pca_sql_ctes(iters, dim)}
    SELECT vec_id, proj FROM (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                   i -> c[i] * x[i])) AS BIGINT) AS proj
        FROM cen CROSS JOIN x{iters})
    ORDER BY abs(proj) DESC, vec_id ASC LIMIT 20
"""


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucketed approximate top-k (the scale path)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.lsh_bucket_topk(emb, _query_vectors(emb), dim=64, k=_TOP_K, num_planes=6)


def _ann_sql(dim: int = 64, planes: int = 6, k: int = _TOP_K) -> str:
    def comp(p: int, d: int) -> str:
        return (
            f"(('0x' || substring(md5('{p}|{d}'), 1, 8))::BIGINT / 4294967296.0 - 0.5)"
        )

    def proj(p: int, col: str) -> str:
        return " + ".join(f"CAST({col}[{d + 1}] AS DOUBLE) * {comp(p, d)}" for d in range(dim))

    def sig(col: str) -> str:
        return " + ".join(
            f"CASE WHEN ({proj(p, col)}) >= 0 THEN {2**p} ELSE 0 END" for p in range(planes)
        )

    # cosine = unrolled-double mirror of cosine_pre (DuckDB's
    # list_cosine_similarity is FLOAT32 and version-dependent; see
    # _SIM_TOPK_SQL)
    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, CAST({sig('embedding')} AS BIGINT) AS bucket,
                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS nrm
            FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                   ({_sql_dot('q.embedding', 'n.embedding', dim)}) / (q.nrm * n.nrm)
                     AS cosine
            FROM sigs q JOIN sigs n ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
            WHERE q.vec_id < {_N_QUERIES})
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM pairs)
        WHERE rk <= {k}
    """


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (deterministic mod-centroids)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.ivf_topk(emb, _query_vectors(emb), k=_TOP_K, centroid_mod=29, nprobe=2)


def _ivf_sql(
    centroid_mod: int = 29,
    nprobe: int = 2,
    dim: int = 64,
    cand_where: str = "",
    corpus: str = "embeddings",
    pre_cte: str = "",
    k: int = _TOP_K,
) -> str:
    """Mirrors operators/similarity.ivf_topk expression-for-expression:
    assignment/probe rank dot(v,c)/sqrt(dot(c,c)) and the in-list score is
    dot/(q_nrm*n_nrm) — all unrolled left-assoc double folds (DuckDB's
    list_cosine_similarity is FLOAT32; see _SIM_TOPK_SQL).  `cand_where`
    (e.g. "WHERE v.label = 1") restricts the CANDIDATE set — the filtered
    vector-search mirror: per-vector assignment commutes with the filter,
    so filtering the assign CTE equals serving over a meta-filtered lists
    scan (sim_ann_ivf_filtered).  `corpus` (+ `pre_cte` defining it)
    swaps the INDEXED side — assignment and neighbor vectors — to a
    derived table while centroids and query vectors stay on the original
    embeddings (the quantizer is fixed at build time and queries are
    external): the mutated-corpus mirror for sim_ann_ivf_upserted."""
    return f"""
        WITH {pre_cte} cents AS (
            SELECT vec_id AS c_id, embedding AS c_vec,
                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS c_norm
            FROM embeddings WHERE vec_id % {centroid_mod} = 0),
        assign AS (
            SELECT n_id, c_id FROM (
                SELECT n_id, c_id, row_number() OVER (
                           PARTITION BY n_id ORDER BY sim DESC, c_id ASC) AS r
                FROM (
                    SELECT v.vec_id AS n_id, c.c_id,
                           ({_sql_dot('v.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                    FROM {corpus} v, cents c {cand_where})) WHERE r = 1),
        probe AS (
            SELECT q_id, c_id FROM (
                SELECT q_id, c_id, row_number() OVER (
                           PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS r
                FROM (
                    SELECT q.vec_id AS q_id, c.c_id,
                           ({_sql_dot('q.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                    FROM embeddings q, cents c
                    WHERE q.vec_id < {_N_QUERIES})) WHERE r <= {nprobe}),
        nv AS (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS nrm
            FROM {corpus}),
        scored AS (
            SELECT p.q_id, a.n_id,
                   ({_sql_dot('q.embedding', 'n.embedding', dim)}) / (q.nrm * n.nrm)
                     AS cosine
            FROM probe p
            JOIN assign a ON p.c_id = a.c_id
            JOIN nv q ON q.vec_id = p.q_id
            JOIN nv n ON n.vec_id = a.n_id
            WHERE p.q_id <> a.n_id)
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {k}
    """


def sim_ann_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF through the PERSISTED index path (sources/ann_index): build the
    partitioned inverted-file layout once, then answer the top-k query by
    reading only the probed list partitions (dynamic partition pruning on
    the c_list partition column).  Bit-identical to sim_ann_ivf — same
    assignment/scoring expressions, norms persisted exactly — so the same
    oracle gates the serving path end-to-end through storage.
    """
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _ensure_layout(
        "ivf_index", sf_dir, "flat",
        lambda p: AI.ivf_index_build(emb, p, centroid_mod=29),
    )
    return AI.ivf_index_topk(spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2)


def sim_ann_ivf_indexed_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted IVF index with HOT-LIST REBALANCING (r6 verdict
    item 6): built with max_list_rows=16, so every list bigger than the
    cap splits across a secondary `c_slot` partition level while serving
    still probes (and dynamic-partition-prunes) on `c_list` alone — a
    skewed list stops being one serving-bottleneck partition and becomes
    ceil(n/cap) parallel tasks.  Results are bit-identical to sim_ann_ivf
    (the split changes only physical layout), so the same oracle gates
    the rebalanced layout end-to-end; the slot mechanics are pinned in
    tests/test_ann_index.py and the pruned scan over split lists in
    scripts/explain_audit.py (PLANS.md `dpp` row)."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _ensure_layout(
        "ivf_index_split", sf_dir, "split",
        lambda p: AI.ivf_index_build(emb, p, centroid_mod=29, max_list_rows=16),
    )
    return AI.ivf_index_topk(spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2)


def sim_ann_ivf_indexed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance (sources/ann_index.ivf_index_append):
    the index is built over only the even vec_ids, the odd half is then
    APPENDED — assignment of just the new batch against the layout's own
    persisted centroid model, new files landing only in the touched list
    partitions (O(batch) maintenance, no rebuild) — and the merged index
    serves the standard top-k.  Results must be identical to a
    from-scratch build over the full corpus, so the verbatim sim_ann_ivf
    oracle gates the append path end to end."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _scratch_dir("ivf_index_append", sf_dir, fresh=True)
    # centroids from the FULL corpus (same mod-29 contract as sim_ann_ivf):
    # a production build fixes the quantizer before ingest begins
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    AI.ivf_index_build(emb.filter(F.col("vec_id") % 2 == 0), path, centroids=cents)
    AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)
    return AI.ivf_index_topk(spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2)


def sim_ann_ivf_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CACHED file index under the value gate (sources/ann_index's
    opt-in long-lived-serving path, r8: the layout's directory listing is
    resolved once and reused across queries instead of per query).  The
    cache's hazard is staleness, so the gate drives exactly that: build
    over the even half, serve with cached=True (populating the file
    index), APPEND the odd half (every in-module maintenance pass
    invalidates its layout), and serve cached again — the returned result
    must equal a from-scratch build over the full corpus, so the verbatim
    sim_ann_ivf oracle fails the round if the second serve reads the
    pre-append file snapshot."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]

    def build(path: str) -> None:
        cents = emb.filter(F.col("vec_id") % 29 == 0).select(
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("c_vec"),
            S.norm(F.col("embedding")).alias("c_norm"),
        )
        AI.ivf_index_build(emb.filter(F.col("vec_id") % 2 == 0), path, centroids=cents)
        AI.ivf_index_topk(
            spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2, cached=True
        ).collect()
        AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)

    # the whole build→cached-serve→append staleness drill is the closure:
    # its terminal state (full corpus) is what repeat serves read, so the
    # invalidation protocol stays value-gated wherever the fixture is off
    path = _ensure_layout("ivf_index_cached", sf_dir, "cached", build, fresh=True)
    return AI.ivf_index_topk(
        spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2, cached=True
    )


def sim_ann_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search as one scan: the index is built with the
    `label` metadata column riding in the lists layout
    (ivf_index_build(meta_cols=("label",))), and serving restricts
    candidates with a predicate that lands in the parquet PushedFilters
    of the probed partitions — row-group pruning UNDER the dynamic
    partition prune, never a post-search join back to the corpus.  The
    oracle applies the same predicate to its assignment CTE (per-vector
    assignment commutes with a candidate filter), so the filtered top-k
    hashes bit-exact."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _ensure_layout(
        "ivf_index_meta", sf_dir, "meta",
        lambda p: AI.ivf_index_build(emb, p, centroid_mod=29, meta_cols=("label",)),
    )
    return AI.ivf_index_topk(
        spark,
        path,
        _query_vectors(emb),
        k=_TOP_K,
        nprobe=2,
        candidate_filter="label = 1",
    )


def sim_ann_ivf_appended_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLOT-AWARE append (r7 verdict item 1a): the index is built over
    the even vec_ids WITH hot-list splitting (max_list_rows=16, secondary
    c_slot partition level), then the odd half is APPENDED — the append
    reads the layout's own persisted cap back from `lists_meta`, routes
    new rows into existing slots, and RE-SHARDS every list the batch
    pushes past its cap through the journaled two-phase swap (only those
    lists are read back; untouched lists keep their files).  The merged
    split index then serves the standard top-k: results must be identical
    to a from-scratch build over the full corpus, so the verbatim
    sim_ann_ivf oracle gates slot routing, cap re-application and the
    swap end to end (a row lost in the re-shard, a mixed-depth directory,
    or a double-appended slot each flip the hash).  The physical-layout
    contract (appended == from-scratch slot dirs) is pinned in
    tests/test_ann_index.py."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _scratch_dir("ivf_index_app_split", sf_dir, fresh=True)
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    AI.ivf_index_build(
        emb.filter(F.col("vec_id") % 2 == 0), path, centroids=cents,
        max_list_rows=16,
    )
    AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), path)
    return AI.ivf_index_topk(spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2)


# Mutation slice for sim_ann_ivf_upserted: never a centroid (the quantizer
# is fixed at build time), never a query vector (queries are external).
_UPS_GUARD = f"(vec_id % 29 <> 0 AND vec_id >= {_N_QUERIES})"
_UPS_DEL = f"(vec_id % 17 = 3 AND {_UPS_GUARD})"
_UPS_UPD = f"(vec_id % 17 = 5 AND {_UPS_GUARD})"


def sim_ann_ivf_upserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector DELETE + UPDATE through the persisted index (r7 verdict
    item 1b — the last lifecycle gap): the split index is built over the
    full corpus, then one mutation batch deletes the %17==3 slice and
    updates the %17==5 slice to REVERSED vectors (a pure element
    permutation — no float arithmetic, so both engines mutate bit-
    identically).  ann_index.ivf_index_upsert locates the mutated ids via
    a column-pruned (n_id, c_list) projection, re-assigns the updated
    vectors against the layout's own centroids (an update may migrate
    between lists), rewrites ONLY the touched lists with the persisted
    cap re-applied, and drops any list emptied by the deletes — all
    through the journaled swap.  Serving must equal a from-scratch build
    over the mutated corpus, so the oracle is sim_ann_ivf over a
    mutated-corpus CTE: a resurrected deleted vector, a stale pre-update
    vector, or a missed migration each flip the hash."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _scratch_dir("ivf_index_upsert", sf_dir, fresh=True)
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    AI.ivf_index_build(emb, path, centroids=cents, max_list_rows=16)
    AI.ivf_index_upsert(
        path,
        updates=emb.filter(F.expr(_UPS_UPD)).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        delete_ids=emb.filter(F.expr(_UPS_DEL)).select("vec_id"),
    )
    return AI.ivf_index_topk(spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2)


_UPSERTED_PRE_CTE = f"""mutated AS (
            SELECT vec_id,
                   CASE WHEN {_UPS_UPD} THEN list_reverse(embedding)
                        ELSE embedding END AS embedding
            FROM embeddings WHERE NOT {_UPS_DEL}),"""


def _write_mutation_files(base: str, src: str, gens) -> None:
    """Stage CDC event files for the vector-mutation streams: one 1-file
    parquet write per generation, renamed into `src` with strictly
    increasing mtimes so the file stream drains them in generation order
    (one micro-batch each under maxFilesPerTrigger=1).  The per-generation
    writes are independent jobs — run them 2-in-flight (guide §2.6); the
    mtimes are set explicitly, so completion order is irrelevant."""
    import time as _time

    now = _time.time()
    os.makedirs(src, exist_ok=True)

    def _one(i: int, g: DataFrame) -> None:
        tmp = os.path.join(base, f"mut{i}")
        g.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        dst = os.path.join(src, f"{i:03d}_gen.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))

    jobs = [lambda i=i, g=g: _one(i, g) for i, g in enumerate(gens)]
    run_parallel(gens[0].sparkSession, jobs, 2)


def emb_stream_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC into the persisted IVF VECTOR index (r9 — the vector-side
    mirror of docs_stream_mutations): the same mutation slices as
    sim_ann_ivf_upserted arrive as a stream of (op, vec_id, embedding)
    events — two files, mtime-ordered, one micro-batch each — and
    streaming/sinks.stream_apply_vector_mutations turns each committed
    batch into one touched-lists rewrite through ivf_index_upsert
    (updates re-assigned against the layout's own persisted centroids,
    journaled swap, untouched lists never rewritten).  Batch 1 updates
    the %17==5 slice to REVERSED vectors, batch 2 deletes the %17==3
    slice — disjoint id sets, so the drained state equals the one-batch
    mutation and the gate serves under the VERBATIM sim_ann_ivf_upserted
    oracle: a lost event, a double-applied update, or a batch applied
    against stale centroids each flip the hash."""
    from pyspark.sql import types as PT

    from codecdb_queryengine_spark.sources import ann_index as AI
    from codecdb_queryengine_spark.streaming import sinks as SK

    emb = load_tables(spark, sf_dir)["embeddings"]
    base = _scratch_dir("ivf_index_cdc", sf_dir, fresh=True)
    path = os.path.join(base, "index")
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    AI.ivf_index_build(emb, path, centroids=cents, max_list_rows=16)

    gen1 = emb.filter(F.expr(_UPS_UPD)).select(
        F.lit("u").alias("op"), "vec_id", F.reverse("embedding").alias("embedding")
    )
    gen2 = emb.filter(F.expr(_UPS_DEL)).select(
        F.lit("d").alias("op"),
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    src = os.path.join(base, "mutations")
    _write_mutation_files(base, src, (gen1, gen2))

    schema = PT.StructType(
        [
            PT.StructField("op", PT.StringType()),
            PT.StructField("vec_id", PT.LongType()),
            PT.StructField("embedding", PT.ArrayType(PT.FloatType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = SK.stream_apply_vector_mutations(stream, path, os.path.join(base, "ckpt"))
    q.awaitTermination()
    return AI.ivf_index_topk(spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2)


def emb_stream_pq_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC mutation streaming into the persisted IVFADC CODES index (r9 —
    completes the CDC story across all three mutable index families:
    text generations, IVF touched-lists, and now the PQ tier): the same
    two event files as emb_stream_mutations drain through
    stream_apply_vector_mutations(index_kind="ivfpq") — each committed
    batch re-ENCODES its updates against the layout's persisted
    quantizer pair and rewrites only the touched code lists.  The
    drained state equals the one-batch mutation, so the oracle is
    sim_ann_ivfpq_upserted's verbatim IVFADC-Lloyd replay over the
    mutated-corpus CTE."""
    from pyspark.sql import types as PT

    from codecdb_queryengine_spark.sources import ann_index as AI
    from codecdb_queryengine_spark.streaming import sinks as SK

    emb = load_tables(spark, sf_dir)["embeddings"]
    base = _scratch_dir("ivfpq_index_cdc", sf_dir, fresh=True)
    path = os.path.join(base, "index")
    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    AI.ivfpq_index_build_micro(emb, path, cents, cbs, max_list_rows=16)

    gen1 = emb.filter(F.expr(_UPS_UPD)).select(
        F.lit("u").alias("op"), "vec_id", F.reverse("embedding").alias("embedding")
    )
    gen2 = emb.filter(F.expr(_UPS_DEL)).select(
        F.lit("d").alias("op"),
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    src = os.path.join(base, "mutations")
    _write_mutation_files(base, src, (gen1, gen2))

    schema = PT.StructType(
        [
            PT.StructField("op", PT.StringType()),
            PT.StructField("vec_id", PT.LongType()),
            PT.StructField("embedding", PT.ArrayType(PT.FloatType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = SK.stream_apply_vector_mutations(
        stream, path, os.path.join(base, "ckpt"), index_kind="ivfpq"
    )
    q.awaitTermination()
    return AI.ivfpq_index_topk_micro(
        spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2
    )


def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (operators/similarity.pq_topk):
    4 subspaces × 8 sampled codewords over the 64-dim embeddings."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.pq_topk(emb, _query_vectors(emb), dim=64, k=_TOP_K)


def _pq_sql(
    dim: int = 64, m_sub: int = 4, k_codes: int = 8, stride: int = 37
) -> str:
    sub = dim // m_sub

    def l2sq(va: str, vb: str) -> str:
        # element (m*sub + j); left-assoc + mirrors the zip_with/aggregate
        # left fold; per-term (x-y)*(x-y) mirrors the lambda exactly
        terms = [
            f"((CAST({va}[ms.m*{sub} + {j}] AS DOUBLE) - CAST({vb}[ms.m*{sub} + {j}] AS DOUBLE))"
            f" * (CAST({va}[ms.m*{sub} + {j}] AS DOUBLE) - CAST({vb}[ms.m*{sub} + {j}] AS DOUBLE)))"
            for j in range(1, sub + 1)
        ]
        return " + ".join(terms)

    return f"""
        WITH cb AS (
            SELECT CAST(vec_id // {stride} AS BIGINT) AS c_id, embedding
            FROM embeddings
            WHERE vec_id % {stride} = 0 AND vec_id < {stride * k_codes}),
        ms AS (SELECT unnest(range(0, {m_sub})) AS m),
        codes AS (
            SELECT n_id, m, c_id FROM (
                SELECT v.vec_id AS n_id, ms.m, cb.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id, ms.m
                           ORDER BY ({l2sq('v.embedding', 'cb.embedding')}) ASC,
                                    cb.c_id ASC) AS r
                FROM embeddings v CROSS JOIN ms CROSS JOIN cb) WHERE r = 1),
        adc AS (
            SELECT q.vec_id AS q_id, ms.m, cb.c_id,
                   CAST(round(1e6 * ({l2sq('q.embedding', 'cb.embedding')})) AS BIGINT)
                     AS contrib
            FROM embeddings q CROSS JOIN ms CROSS JOIN cb
            WHERE q.vec_id < {_N_QUERIES}),
        scored AS (
            -- CAST: DuckDB sum(BIGINT) is HUGEINT, which pandas-style
            -- consumers widen to float64 — a type-level hash hazard even
            -- when every value matches; the engine emits BIGINT.
            SELECT q_id, n_id, CAST(sum(contrib) AS BIGINT) AS adc_micro
            FROM codes JOIN adc USING (m, c_id)
            WHERE q_id <> n_id
            GROUP BY q_id, n_id)
        SELECT q_id, n_id, adc_micro, rk FROM (
            SELECT q_id, n_id, adc_micro,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY adc_micro ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {_TOP_K}
    """


def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC) top-k: coarse inverted lists cut the scan, residual
    product quantization cuts memory and per-candidate cost
    (operators/similarity.ivf_pq_topk; deterministic quantizers so the
    DuckDB oracle recomputes codes and ADC exactly)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.ivf_pq_topk(emb, _query_vectors(emb), dim=64, k=_TOP_K)


def _ivf_pq_sql(
    dim: int = 64,
    centroid_mod: int = 29,
    nprobe: int = 2,
    m_sub: int = 4,
    k_codes: int = 8,
    stride: int = 37,
    k: int = _TOP_K,
) -> str:
    sub = dim // m_sub

    def dotvc(va: str, vb: str) -> str:
        return " + ".join(
            f"CAST({va}[{d + 1}] AS DOUBLE) * CAST({vb}[{d + 1}] AS DOUBLE)"
            for d in range(dim)
        )

    def res_el(v: str, c: str, idx: str) -> str:
        return f"(CAST({v}[{idx}] AS DOUBLE) - CAST({c}[{idx}] AS DOUBLE))"

    def l2sq_res(v: str, c: str, sv: str, svc: str) -> str:
        # Σ_j ((v-c)[j] - (sv-svc)[j])² with idx = ms.m*sub + j, left-assoc
        terms = []
        for j in range(1, sub + 1):
            idx = f"ms.m*{sub} + {j}"
            t = f"({res_el(v, c, idx)} - {res_el(sv, svc, idx)})"
            terms.append(f"({t} * {t})")
        return " + ".join(terms)

    sim = f"({dotvc('v.embedding', 'c.c_vec')}) / sqrt({dotvc('c.c_vec', 'c.c_vec')})"
    qsim = f"({dotvc('q.embedding', 'c.c_vec')}) / sqrt({dotvc('c.c_vec', 'c.c_vec')})"
    return f"""
        WITH cents AS (
            SELECT vec_id AS c_id, embedding AS c_vec
            FROM embeddings WHERE vec_id % {centroid_mod} = 0),
        ms AS (SELECT unnest(range(0, {m_sub})) AS m),
        assign AS (
            SELECT n_id, c_id AS c_list FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {sim} DESC, c.c_id ASC) AS r
                FROM embeddings v CROSS JOIN cents c) WHERE r = 1),
        rcbsrc AS (
            SELECT CAST(v.vec_id // {stride} AS BIGINT) AS pq_c,
                   v.embedding AS sve, cv.c_vec AS svcv
            FROM embeddings v
            JOIN assign a ON v.vec_id = a.n_id
            JOIN cents cv ON cv.c_id = a.c_list
            WHERE v.vec_id % {stride} = 0 AND v.vec_id < {stride * k_codes}),
        codes AS (
            SELECT n_id, c_list, m, pq_c FROM (
                SELECT v.vec_id AS n_id, a.c_list, ms.m, r.pq_c,
                       row_number() OVER (
                           PARTITION BY v.vec_id, ms.m
                           ORDER BY ({l2sq_res('v.embedding', 'cv.c_vec', 'r.sve', 'r.svcv')}) ASC,
                                    r.pq_c ASC) AS rn
                FROM embeddings v
                JOIN assign a ON v.vec_id = a.n_id
                JOIN cents cv ON cv.c_id = a.c_list
                CROSS JOIN ms CROSS JOIN rcbsrc r) WHERE rn = 1),
        probes AS (
            SELECT q_id, c_list FROM (
                SELECT q.vec_id AS q_id, c.c_id AS c_list,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {qsim} DESC, c.c_id ASC) AS r
                FROM embeddings q CROSS JOIN cents c
                WHERE q.vec_id < {_N_QUERIES}) WHERE r <= {nprobe}),
        adc AS (
            SELECT p.q_id, p.c_list, ms.m, r.pq_c,
                   CAST(round(1e6 * ({l2sq_res('q.embedding', 'cv.c_vec', 'r.sve', 'r.svcv')})) AS BIGINT)
                     AS contrib
            FROM probes p
            JOIN embeddings q ON q.vec_id = p.q_id
            JOIN cents cv ON cv.c_id = p.c_list
            CROSS JOIN ms CROSS JOIN rcbsrc r),
        scored AS (
            -- CAST: DuckDB sum(BIGINT) is HUGEINT (see _pq_sql note)
            SELECT a.q_id, c.n_id, CAST(sum(a.contrib) AS BIGINT) AS adc_micro
            FROM codes c
            JOIN adc a ON a.c_list = c.c_list AND a.m = c.m AND a.pq_c = c.pq_c
            WHERE a.q_id <> c.n_id
            GROUP BY a.q_id, c.n_id)
        SELECT q_id, n_id, adc_micro, rk FROM (
            SELECT q_id, n_id, adc_micro,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY adc_micro ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {k}
    """


# --- ANN retrieval quality: recall@k vs exact ground truth ------------------
#
# Every ANN gate above is oracle-exact by construction (the oracle replays
# the same algorithm), which proves determinism but never measures
# RETRIEVAL QUALITY — the axis the reference's paper evaluation reports for
# its encoding choices (r9 verdict item 4).  These gates compute recall@10
# of each approximate serve against the brute-force exact top-10, with the
# recall value itself in the hashed output: the DuckDB oracle replays BOTH
# sides (ground truth and serve) and the same set intersection, so the
# measured quality number is bit-exact gated like any other value.

_RECALL_K = 10


def _recall_df(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k: |approx top-k ∩ exact top-k| / k.  The exact
    side bases the left join, so a query whose approximate serve found
    nothing still reports hits=0 / recall 0.0 (one row per q_id always —
    an inner join would silently drop the worst case).  hits is an
    integer and hits/k one IEEE double division, identical in Spark and
    DuckDB, so the quality value itself survives the driver's hash."""
    hits = approx.select("q_id", "n_id").withColumn("_hit", F.lit(1))
    return (
        exact.select("q_id", "n_id")
        .join(hits, ["q_id", "n_id"], "left")
        .groupBy("q_id")
        .agg(F.count("_hit").alias("hits"))
        .select(
            "q_id",
            "hits",
            (F.col("hits").cast("double") / F.lit(float(k))).alias(
                f"recall_at_{k}"
            ),
        )
    )


def sim_ann_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVF serve (mod-29 coarse quantizer, nprobe=2)
    against brute-force exact cosine top-10 — per-query hits and recall."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    exact = S.brute_force_topk(emb, q, k=_RECALL_K)
    approx = S.ivf_topk(emb, q, k=_RECALL_K, centroid_mod=29, nprobe=2)
    return _recall_df(exact, approx, _RECALL_K)


def sim_ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the IVFADC serve (coarse mod-29 lists, nprobe=2,
    residual PQ with the deterministic codebooks) vs exact top-10 — the
    quality cost of scoring on 4-byte codes instead of vectors."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    exact = S.brute_force_topk(emb, q, k=_RECALL_K)
    approx = S.ivf_pq_topk(emb, q, dim=64, k=_RECALL_K)
    return _recall_df(exact, approx, _RECALL_K)


def sim_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the hyperplane-LSH bucketed serve (6 planes, same-
    bucket candidates only) vs exact top-10 — the quality cost of the
    2^planes candidate cut."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    exact = S.brute_force_topk(emb, q, k=_RECALL_K)
    approx = S.lsh_bucket_topk(emb, q, dim=64, k=_RECALL_K, num_planes=6)
    return _recall_df(exact, approx, _RECALL_K)


def _recall_sql(approx_sql: str, k: int = _RECALL_K) -> str:
    """Compose the brute-force ground-truth SQL with an approximate serve's
    own oracle SQL (both at k) and replay the set intersection."""
    return f"""
        WITH exact AS ({_sim_topk_sql(k=k)}),
        approx AS ({approx_sql})
        SELECT e.q_id,
               CAST(count(a.n_id) AS BIGINT) AS hits,
               CAST(count(a.n_id) AS DOUBLE) / {float(k)} AS recall_at_{k}
        FROM exact e
        LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
        GROUP BY e.q_id
    """


# --- two-stage retrieval: ADC shortlist + exact re-rank (IVFADC+R) ----------

_RERANK_R = 20


def sim_ann_ivfpq_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (Jégou'11 §V, IVFADC+R — the production serving
    composition): the IVFADC codes cut the corpus to an R=20 shortlist on
    ~4 bytes/vector, then ONLY those R true vectors are fetched and ranked
    by exact cosine (operators/similarity.exact_rerank — broadcast
    shortlist ⋈ corpus, partitioned rank).  Output shape and order
    semantics are brute_force_topk's, so the oracle replays ADC + the
    exact re-rank verbatim and the doubles hash bit-exact."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    short = S.ivf_pq_topk(emb, q, dim=64, k=_RERANK_R)
    return S.exact_rerank(emb, q, short, k=_TOP_K)


def sim_ann_recall_ivfpq_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the re-ranked two-stage serve — the quality lift the
    exact second stage buys over raw ADC ranking (sim_ann_recall_ivfpq) at
    the same candidate budget: within the R=20 shortlist the re-rank keeps
    the TRULY nearest 10, so its recall is ≥ the ADC-ordered top-10's by
    construction; the gate puts the measured value under the hash."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    exact = S.brute_force_topk(emb, q, k=_RECALL_K)
    short = S.ivf_pq_topk(emb, q, dim=64, k=_RERANK_R)
    approx = S.exact_rerank(emb, q, short, k=_RECALL_K)
    return _recall_df(exact, approx, _RECALL_K)


def _reranked_sql(short_sql: str, k: int = _TOP_K) -> str:
    """ANY (q_id, n_id)-producing shortlist SQL re-ranked by the exact
    unrolled-double cosine — mirrors exact_rerank expression-for-expression
    (same cosine fold as _SIM_TOPK_SQL, same (cosine DESC, n_id) order).
    exact_rerank dedups/self-filters arbitrary shortlists; every stage-1
    oracle below is already pair-unique and self-excluded, so the mirror
    needs no DISTINCT."""
    return f"""
        WITH short AS ({short_sql}),
        nv AS (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
            FROM embeddings)
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM (
                SELECT s.q_id, s.n_id,
                       ({_sql_dot('q.embedding', 'n.embedding', 64)})
                         / (q.nrm * n.nrm) AS cosine
                FROM short s
                JOIN nv q ON q.vec_id = s.q_id
                JOIN nv n ON n.vec_id = s.n_id))
        WHERE rk <= {k}
    """


# --- two-stage retrieval on the FLAT tiers (r10 verdict item 4) -------------
#
# Re-ranking ivf_topk's or lsh_bucket_topk's own shortlist would be the
# IDENTITY: both flat serves already score candidates by exact cosine, so
# their order IS the re-rank order.  The meaningful composition gives each
# tier the cheap stage 1 it would run at 100 TB — a candidate order that
# never reads a vector — and lets exact_rerank pay the vector read for R
# candidates only (the same IVFADC+R recipe, with the ADC table replaced
# by the coarse-quantizer rank / the band-collision count).

_COARSE_R = 100  # coarse ranks are list-granular: R spans ~nprobe lists
_COARSE_NPROBE = 4


def sim_ann_ivf_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval on the flat IVF tier: stage 1 shortlists R=100
    candidates by COARSE QUANTIZER RANK alone (similarity.
    ivf_coarse_shortlist — a candidate scores as its list's probe rank;
    zero vector reads), stage 2 exact-cosine re-ranks just those R
    (similarity.exact_rerank).  Same output shape/order semantics as
    brute_force_topk; the oracle replays both stages verbatim."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    short = S.ivf_coarse_shortlist(
        emb, q, r=_COARSE_R, centroid_mod=29, nprobe=_COARSE_NPROBE
    )
    return S.exact_rerank(emb, q, short, k=_TOP_K)


def sim_ann_recall_ivf_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the coarse→exact two-stage IVF serve vs brute force —
    with the per-query invariant (tests/test_ann_recall.py) that the
    re-rank's recall dominates the stage-1-ordered top-10's from the same
    shortlist: within the R candidates the exact stage keeps the truly
    nearest 10, so any stage-1 order can only tie or lose."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    exact = S.brute_force_topk(emb, q, k=_RECALL_K)
    short = S.ivf_coarse_shortlist(
        emb, q, r=_COARSE_R, centroid_mod=29, nprobe=_COARSE_NPROBE
    )
    approx = S.exact_rerank(emb, q, short, k=_RECALL_K)
    return _recall_df(exact, approx, _RECALL_K)


_LSH_SHORT_BANDS = 4
_LSH_SHORT_PPB = 4


def sim_ann_lsh_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval on the LSH tier: stage 1 shortlists R=20
    candidates by MULTI-BAND COLLISION COUNT (similarity.
    lsh_collision_shortlist — 4 bands × 4 planes, stride-16 identities;
    integer keys only, zero vector reads), stage 2 exact-cosine re-ranks
    those R.  This is the tier with the most to gain: the single-bucket
    serve (sim_ann_lsh, recall 0.08) loses every neighbor outside one
    6-plane bucket, while a near pair collides in ≥1 of 4 looser bands
    with far higher probability."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    short = S.lsh_collision_shortlist(
        emb, q, dim=64, r=_RERANK_R,
        bands=_LSH_SHORT_BANDS, planes_per_band=_LSH_SHORT_PPB,
    )
    return S.exact_rerank(emb, q, short, k=_TOP_K)


def sim_ann_recall_lsh_reranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@10 of the banded→exact two-stage LSH serve vs brute force
    (the lift over sim_ann_recall_lsh's 0.08 single-bucket operating
    point, measured and value-hashed)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    exact = S.brute_force_topk(emb, q, k=_RECALL_K)
    short = S.lsh_collision_shortlist(
        emb, q, dim=64, r=_RERANK_R,
        bands=_LSH_SHORT_BANDS, planes_per_band=_LSH_SHORT_PPB,
    )
    approx = S.exact_rerank(emb, q, short, k=_RECALL_K)
    return _recall_df(exact, approx, _RECALL_K)


def _ivf_coarse_short_sql(
    centroid_mod: int = 29,
    nprobe: int = _COARSE_NPROBE,
    r: int = _COARSE_R,
    dim: int = 64,
) -> str:
    """Mirror of similarity.ivf_coarse_shortlist: the same cents/assign/
    probe expressions as _ivf_sql (unrolled left-assoc folds), then the
    shortlist rank over (probe rank ASC, n_id ASC) — no vector ever joins
    in; the re-rank wrapper fetches them."""
    return f"""
        SELECT q_id, n_id FROM (
            SELECT p.q_id, a.n_id,
                   row_number() OVER (
                       PARTITION BY p.q_id
                       ORDER BY p.r ASC, a.n_id ASC) AS rr
            FROM (
                SELECT q_id, c_id, r FROM (
                    SELECT q_id, c_id, row_number() OVER (
                               PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS r
                    FROM (
                        SELECT q.vec_id AS q_id, c.c_id,
                               ({_sql_dot('q.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                        FROM embeddings q, (
                            SELECT vec_id AS c_id, embedding AS c_vec,
                                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS c_norm
                            FROM embeddings WHERE vec_id % {centroid_mod} = 0) c
                        WHERE q.vec_id < {_N_QUERIES})) WHERE r <= {nprobe}) p
            JOIN (
                SELECT n_id, c_id FROM (
                    SELECT n_id, c_id, row_number() OVER (
                               PARTITION BY n_id ORDER BY sim DESC, c_id ASC) AS rn
                    FROM (
                        SELECT v.vec_id AS n_id, c.c_id,
                               ({_sql_dot('v.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                        FROM embeddings v, (
                            SELECT vec_id AS c_id, embedding AS c_vec,
                                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS c_norm
                            FROM embeddings WHERE vec_id % {centroid_mod} = 0) c))
                WHERE rn = 1) a ON p.c_id = a.c_id
            WHERE p.q_id <> a.n_id)
        WHERE rr <= {r}
    """


def _lsh_collision_short_sql(
    bands: int = _LSH_SHORT_BANDS,
    planes_per_band: int = _LSH_SHORT_PPB,
    r: int = _RERANK_R,
    dim: int = 64,
    stride: int = 16,
) -> str:
    """Mirror of similarity.lsh_collision_shortlist: the stride-16 band
    signatures (same unrolled projections as _sql_band_sig — the plane
    family the scaled dedup banding uses), collision counts per (q, n),
    shortlist rank over (colls DESC, n_id ASC)."""
    band_cols = ", ".join(
        f"CAST({_sql_band_sig('embedding', b * stride, planes_per_band, dim)} AS BIGINT) AS k{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT bid, {b} AS band, k{b} AS band_key FROM sigs" for b in range(bands)
    )
    return f"""
        WITH sigs AS (SELECT vec_id AS bid, {band_cols} FROM embeddings),
        bkc AS ({band_union})
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY colls DESC, n_id ASC) AS rr
            FROM (
                SELECT q.bid AS q_id, n.bid AS n_id,
                       CAST(count(*) AS BIGINT) AS colls
                FROM bkc q
                JOIN bkc n
                  ON q.band = n.band AND q.band_key = n.band_key
                WHERE q.bid < {_N_QUERIES} AND q.bid <> n.bid
                GROUP BY q.bid, n.bid))
        WHERE rr <= {r}
    """


# --- IVFADC recall-vs-cost operating curve (r10 verdict item 5) -------------

_CURVE_NPROBES = (1, 4, None)  # None = probe ALL K lists
_CURVE_RS = (20, 100)


def sim_ann_ivfpq_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality/cost tradeoff a 100-TB IVFADC operator actually tunes,
    measured and VALUE-HASHED: for each (nprobe ∈ {1, 4, K}, R ∈ {20,
    100}) operating point, the two-stage serve's recall@10 (ADC shortlist
    at k=R → exact re-rank, vs brute-force ground truth) next to
    rows_read — the number of (query, candidate) code rows the ADC stage
    scores at that nprobe (similarity.ivf_candidate_rows; the scan-cost
    axis).  Output: one row per operating point (nprobe, r_shortlist,
    hits, recall_at_10, rows_read), the eval-style curve the CodecDB
    papers report for encoding choices.  The DuckDB oracle replays the
    whole sweep from ONE materialized all-lists ADC relation, so every
    point is bit-exact gated.

    K (and the nprobe=K row's label) is the corpus's centroid count — a
    bounded meta fetch, like the centroid collects elsewhere.  Cost
    factoring mirrors the oracle: ONE all-lists ADC relation with each
    candidate's probe rank (similarity.ivf_pq_scored at nprobe=K,
    with_probe_rank) is lazily checkpointed, and every operating point is
    a filter + window over it — the sweep scores the corpus once, not
    six times; rows_read is a filtered count of the same relation."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = _query_vectors(emb)
    kk = emb.filter(F.col("vec_id") % 29 == 0).count()
    scored = S.ivf_pq_scored(
        emb, q, dim=64, nprobe=kk, with_probe_rank=True
    ).localCheckpoint(eager=False)
    exact = S.brute_force_topk(emb, q, k=_RECALL_K).localCheckpoint(eager=False)
    denom = float(_N_QUERIES * _RECALL_K)
    w = Window.partitionBy("q_id").orderBy(
        F.col("adc_micro").asc(), F.col("n_id").asc()
    )
    combos = []
    for np_req in _CURVE_NPROBES:
        np_eff = kk if np_req is None else np_req
        sub = scored.filter(F.col("pr") <= np_eff)
        rows_read = sub.agg(F.count(F.lit(1)).cast("long").alias("rows_read"))
        for r in _CURVE_RS:
            short = (
                sub.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= r)
                .select("q_id", "n_id")
            )
            rr = S.exact_rerank(emb, q, short, k=_RECALL_K)
            rec = _recall_df(exact, rr, _RECALL_K).agg(
                F.sum("hits").cast("long").alias("hits")
            )
            combos.append(
                rec.crossJoin(rows_read).select(
                    F.lit(np_eff).cast("long").alias("nprobe"),
                    F.lit(r).cast("long").alias("r_shortlist"),
                    "hits",
                    (F.col("hits").cast("double") / F.lit(denom)).alias(
                        "recall_at_10"
                    ),
                    "rows_read",
                )
            )
    out = combos[0]
    for c in combos[1:]:
        out = out.unionAll(c)
    return out


def _ivfpq_curve_sql(
    dim: int = 64,
    centroid_mod: int = 29,
    m_sub: int = 4,
    k_codes: int = 8,
    stride: int = 37,
    k: int = _RECALL_K,
) -> str:
    """The whole (nprobe × R) sweep from ONE all-lists ADC relation:
    `scored` carries each candidate pair's probe rank `pr`, so every
    operating point is a windowed SELECT over it (pr <= nprobe → ADC rank
    <= R → exact re-rank → recall vs exact), and rows_read is a filtered
    count of the same relation.  The per-stage expressions are verbatim
    _ivf_pq_sql / _reranked_sql mirrors; MATERIALIZED everywhere the
    branches share (DuckDB would otherwise inline the ADC body six
    times)."""
    sub = dim // m_sub

    def dotvc(va: str, vb: str) -> str:
        return " + ".join(
            f"CAST({va}[{d + 1}] AS DOUBLE) * CAST({vb}[{d + 1}] AS DOUBLE)"
            for d in range(dim)
        )

    def res_el(v: str, c: str, idx: str) -> str:
        return f"(CAST({v}[{idx}] AS DOUBLE) - CAST({c}[{idx}] AS DOUBLE))"

    def l2sq_res(v: str, c: str, sv: str, svc: str) -> str:
        terms = []
        for j in range(1, sub + 1):
            idx = f"ms.m*{sub} + {j}"
            t = f"({res_el(v, c, idx)} - {res_el(sv, svc, idx)})"
            terms.append(f"({t} * {t})")
        return " + ".join(terms)

    sim = f"({dotvc('v.embedding', 'c.c_vec')}) / sqrt({dotvc('c.c_vec', 'c.c_vec')})"
    qsim = f"({dotvc('q.embedding', 'c.c_vec')}) / sqrt({dotvc('c.c_vec', 'c.c_vec')})"
    nq_k = float(_N_QUERIES * k)

    branches = []
    i = 0
    for np_req in _CURVE_NPROBES:
        cond = "TRUE" if np_req is None else f"pr <= {np_req}"
        np_out = "(SELECT kk FROM kcnt)" if np_req is None else f"CAST({np_req} AS BIGINT)"
        for r in _CURVE_RS:
            branches.append(f"""
        short{i} AS (
            SELECT q_id, n_id FROM (
                SELECT q_id, n_id, row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY adc_micro ASC, n_id ASC) AS rk
                FROM scored WHERE {cond}) WHERE rk <= {r}),
        rr{i} AS (
            SELECT q_id, n_id FROM (
                SELECT q_id, n_id, row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY cosine DESC, n_id ASC) AS rk
                FROM (
                    SELECT s.q_id, s.n_id,
                           ({dotvc('q.embedding', 'n.embedding')}) / (q.nrm * n.nrm)
                             AS cosine
                    FROM short{i} s
                    JOIN nvr q ON q.vec_id = s.q_id
                    JOIN nvr n ON n.vec_id = s.n_id)) WHERE rk <= {k}),
        pt{i} AS (
            SELECT {np_out} AS nprobe,
                   CAST({r} AS BIGINT) AS r_shortlist,
                   (SELECT CAST(count(*) AS BIGINT) FROM exact e
                    JOIN rr{i} a ON a.q_id = e.q_id AND a.n_id = e.n_id) AS hits,
                   (SELECT CAST(count(*) AS BIGINT)
                    FROM scored WHERE {cond}) AS rows_read)""")
            i += 1
    union = " UNION ALL ".join(
        f"SELECT nprobe, r_shortlist, hits, CAST(hits AS DOUBLE) / {nq_k} AS recall_at_10, rows_read FROM pt{j}"
        for j in range(i)
    )
    return f"""
        WITH cents AS MATERIALIZED (
            SELECT vec_id AS c_id, embedding AS c_vec
            FROM embeddings WHERE vec_id % {centroid_mod} = 0),
        kcnt AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM cents),
        ms AS (SELECT unnest(range(0, {m_sub})) AS m),
        assign AS MATERIALIZED (
            SELECT n_id, c_id AS c_list FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {sim} DESC, c.c_id ASC) AS r
                FROM embeddings v CROSS JOIN cents c) WHERE r = 1),
        rcbsrc AS MATERIALIZED (
            SELECT CAST(v.vec_id // {stride} AS BIGINT) AS pq_c,
                   v.embedding AS sve, cv.c_vec AS svcv
            FROM embeddings v
            JOIN assign a ON v.vec_id = a.n_id
            JOIN cents cv ON cv.c_id = a.c_list
            WHERE v.vec_id % {stride} = 0 AND v.vec_id < {stride * k_codes}),
        codes AS MATERIALIZED (
            SELECT n_id, c_list, m, pq_c FROM (
                SELECT v.vec_id AS n_id, a.c_list, ms.m, r.pq_c,
                       row_number() OVER (
                           PARTITION BY v.vec_id, ms.m
                           ORDER BY ({l2sq_res('v.embedding', 'cv.c_vec', 'r.sve', 'r.svcv')}) ASC,
                                    r.pq_c ASC) AS rn
                FROM embeddings v
                JOIN assign a ON v.vec_id = a.n_id
                JOIN cents cv ON cv.c_id = a.c_list
                CROSS JOIN ms CROSS JOIN rcbsrc r) WHERE rn = 1),
        probes AS MATERIALIZED (
            SELECT q.vec_id AS q_id, c.c_id AS c_list,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY {qsim} DESC, c.c_id ASC) AS pr
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id < {_N_QUERIES}),
        adc AS MATERIALIZED (
            SELECT p.q_id, p.c_list, p.pr, ms.m, r.pq_c,
                   CAST(round(1e6 * ({l2sq_res('q.embedding', 'cv.c_vec', 'r.sve', 'r.svcv')})) AS BIGINT)
                     AS contrib
            FROM probes p
            JOIN embeddings q ON q.vec_id = p.q_id
            JOIN cents cv ON cv.c_id = p.c_list
            CROSS JOIN ms CROSS JOIN rcbsrc r),
        scored AS MATERIALIZED (
            SELECT a.q_id, c.n_id, a.pr,
                   CAST(sum(a.contrib) AS BIGINT) AS adc_micro
            FROM codes c
            JOIN adc a ON a.c_list = c.c_list AND a.m = c.m AND a.pq_c = c.pq_c
            WHERE a.q_id <> c.n_id
            GROUP BY a.q_id, c.n_id, a.pr),
        nvr AS MATERIALIZED (
            SELECT vec_id, embedding,
                   sqrt({dotvc('embedding', 'embedding')}) AS nrm
            FROM embeddings),
        exact AS MATERIALIZED ({_sim_topk_sql(k=k)}),
        {','.join(branches)}
        {union}
    """


# --- trained quantizers: exact-integer Lloyd -------------------------------


def sim_ann_ivf_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k whose coarse quantizer is TRAINED — two genuine Lloyd
    k-means iterations — yet fully value-gated: the r4 verdict's missing
    piece ("a value-gateable story for the trained quantizers").

    The trick is the ADC integer discipline applied to TRAINING itself
    (operators/similarity.kmeans_lloyd_micro): vectors are micro-quantized
    once, assignment is BIGINT-L2 argmin, and the centroid update rounds
    Σv/n back to integers — every step is bit-identical in Spark and
    DuckDB, so the oracle replays the full train→assign→probe→score loop
    exactly, and this entry hashes end to end.  kmeans_lloyd_micro is the
    package's one IVF trainer.
    """
    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = S.kmeans_lloyd_micro(emb, dim=64, k=8, stride=37, iters=2)
    return S.ivf_topk_micro(emb, _query_vectors(emb), cents, k=_TOP_K, nprobe=2)


def _lloyd_l2(dim: int):
    """Unrolled BIGINT L2 between two `v` array columns (oracle text)."""

    def l2(a: str, b: str) -> str:
        return " + ".join(
            f"({a}.v[{j}] - {b}.v[{j}]) * ({a}.v[{j}] - {b}.v[{j}])"
            for j in range(1, dim + 1)
        )

    return l2



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

def _lloyd_train_ctes(dim: int, k: int, stride: int, iters: int) -> list[str]:
    """The CTE block every exact-Lloyd oracle shares: micro-quantized `vm`,
    stride-sample init `c0`, `iters` assign/sum/update rounds, and the final
    full-corpus `assign` — a verbatim SQL replay of
    similarity.kmeans_lloyd_micro + the literal-model argmin assignment
    (ties to the smaller c_id).  Factored so _ivf_lloyd_sql and
    _semdedup_sql can never drift from each other."""
    l2 = _lloyd_l2(dim)
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    ctes = [
        f"vm AS MATERIALIZED (SELECT vec_id, [{quant}] AS v FROM embeddings)",
        f"""c0 AS MATERIALIZED (
            SELECT CAST(vec_id // {stride} AS BIGINT) AS c_id, v FROM vm
            WHERE vec_id % {stride} = 0 AND vec_id < {stride * k})""",
    ]
    for t in range(iters):
        sums = ", ".join(
            f"CAST(sum(v.v[{j}]) AS BIGINT) AS s{j}" for j in range(1, dim + 1)
        )
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL THEN c.v[{j}] "
            f"ELSE " + _sql_round_ratio(f"s.s{j}", "s.n") + " END"
            for j in range(1, dim + 1)
        )
        ctes.append(f"""a{t} AS MATERIALIZED (
            SELECT n_id, c_id FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ({l2('v', 'c')}) ASC, c.c_id ASC) AS r
                FROM vm v CROSS JOIN c{t} c) WHERE r = 1)""")
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT a.c_id, count(*) AS n, {sums}
            FROM a{t} a JOIN vm v ON v.vec_id = a.n_id GROUP BY a.c_id)""")
        ctes.append(f"""c{t + 1} AS MATERIALIZED (
            SELECT c.c_id, [{upd}] AS v
            FROM c{t} c LEFT JOIN s{t} s ON s.c_id = c.c_id)""")
    cf = f"c{iters}"
    ctes.append(f"""assign AS MATERIALIZED (
        SELECT n_id, c_id FROM (
            SELECT v.vec_id AS n_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({l2('v', 'c')}) ASC, c.c_id ASC) AS r
            FROM vm v CROSS JOIN {cf} c) WHERE r = 1)""")
    return ctes


def _ivf_lloyd_sql(
    dim: int = 64,
    k: int = 8,
    stride: int = 37,
    iters: int = 2,
    nprobe: int = 2,
) -> str:
    """Bit-exact SQL replay of kmeans_lloyd_micro + ivf_topk_micro."""
    l2 = _lloyd_l2(dim)
    cf = f"c{iters}"
    ctes = _lloyd_train_ctes(dim, k, stride, iters)
    ctes.append(f"""probes AS MATERIALIZED (
        SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ({l2('q', 'c')}) ASC, c.c_id ASC) AS r
            FROM vm q CROSS JOIN {cf} c
            WHERE q.vec_id < {_N_QUERIES}) WHERE r <= {nprobe})""")
    ctes.append(f"""scored AS MATERIALIZED (
        SELECT p.q_id, a.n_id, ({l2('qv', 'nv')}) AS l2_micro2
        FROM probes p
        JOIN assign a ON a.c_id = p.c_id
        JOIN vm nv ON nv.vec_id = a.n_id
        JOIN vm qv ON qv.vec_id = p.q_id
        WHERE p.q_id <> a.n_id)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT q_id, n_id, l2_micro2, rk FROM (
            SELECT q_id, n_id, l2_micro2,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY l2_micro2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {_TOP_K}
    """


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings table (operators/dedup.semantic_dedup):
    exact-Lloyd k-means clusters, then a within-cluster "keep the smallest
    τ-similar id" prune.  Fully value-gated — training replays via the
    shared Lloyd CTE block and the similarity test is rational BIGINT
    arithmetic, so the oracle hashes (vec_id, c_id, kept) end to end.
    τ = 2/5 matches dedup_embedding's 0.4 near-dup threshold on this
    corpus (synthetic embeddings top out near cos ≈ 0.55)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return D.semantic_dedup(
        emb, "embedding", "vec_id", dim=64, k=8, stride=37, iters=2,
        tau_num=2, tau_den=5,
    )


def _semdedup_sql(
    dim: int = 64,
    k: int = 8,
    stride: int = 37,
    iters: int = 2,
    tau_num: int = 2,
    tau_den: int = 5,
) -> str:
    """Bit-exact SQL replay of dedup.semantic_dedup: the shared Lloyd
    train+assign CTEs, milli-quantized vectors, and the rational cosine
    test τ_den²·dot² ≥ τ_num²·|a|²·|b|² in pure BIGINT."""
    ctes = _lloyd_train_ctes(dim, k, stride, iters)
    milli = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    dot_ab = " + ".join(f"a.v3[{j}] * b.v3[{j}]" for j in range(1, dim + 1))
    n2 = " + ".join(f"v3[{j}] * v3[{j}]" for j in range(1, dim + 1))
    tn2, td2 = tau_num * tau_num, tau_den * tau_den
    ctes.append(
        f"m3 AS MATERIALIZED (SELECT vec_id, [{milli}] AS v3 FROM embeddings)"
    )
    ctes.append(f"""mem AS MATERIALIZED (
        SELECT m.vec_id, a.c_id, m.v3, CAST(({n2}) AS BIGINT) AS n2
        FROM m3 m JOIN assign a ON a.n_id = m.vec_id)""")
    ctes.append(f"""dropped AS MATERIALIZED (
        SELECT DISTINCT b.vec_id
        FROM mem a JOIN mem b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        WHERE ({dot_ab}) > 0
          AND {td2} * ({dot_ab}) * ({dot_ab}) >= {tn2} * a.n2 * b.n2)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT m.vec_id, m.c_id, d.vec_id IS NULL AS kept
        FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    """


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids over the embeddings table — the grouped
    VECTOR AGGREGATE of an embedding-curation pipeline (class prototypes
    for label-noise checks, per-class drift monitors).  One wide
    aggregation (count + 64 per-dimension BIGINT sums over the
    micro-quantized vectors, map-side combinable) unpivoted to
    (label, dim_idx) rows — no row explosion before the shuffle.  Sums
    are exact integers and the mean is one exact-input IEEE division, so
    every column hashes bit-exact."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    vm = emb.select(
        F.col("label").cast("long").alias("label"),
        S.quantize_micro(F.col("embedding")).alias("v"),
    )
    agg = vm.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        *[F.sum(F.element_at("v", j)).alias(f"s{j}") for j in range(1, 65)],
    )
    stack = "stack(64, " + ", ".join(
        f"CAST({j} AS BIGINT), s{j}" for j in range(1, 65)
    ) + ") AS (dim_idx, s_micro)"
    return agg.selectExpr("label", "n_vecs", stack).withColumn(
        "mean_micro", F.col("s_micro").cast("double") / F.col("n_vecs")
    )


def _label_centroids_sql(dim: int = 64) -> str:
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    return f"""
        WITH vm AS MATERIALIZED (
            SELECT CAST(label AS BIGINT) AS label, [{quant}] AS v
            FROM embeddings),
        ex AS MATERIALIZED (
            SELECT label, j, v[j] AS c
            FROM vm, (SELECT unnest(generate_series(1, {dim})) AS j))
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(j AS BIGINT) AS dim_idx,
               CAST(sum(c) AS BIGINT) AS s_micro,
               CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / CAST(count(*) AS BIGINT)
                   AS mean_micro
        FROM ex GROUP BY label, j
    """


def emb_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-centroid evaluation — the label-quality probe of an
    embedding pipeline (a vector whose nearest class prototype disagrees
    with its label is a mislabel/outlier candidate, the classic
    prototype-based label-noise check): class centroids from one exact
    integer aggregation (round-half-away mean micro, the Lloyd update
    convention), every vector assigned map-side to its nearest centroid
    (literal-model BIGINT-L2 argmin, ties to the smaller label), then the
    exact confusion counts per (label, pred_label).  Integers end to end."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    vm = emb.select(
        F.col("label").cast("long").alias("label"),
        S.quantize_micro(F.col("embedding")).alias("v"),
    )
    agg = vm.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.element_at("v", j)).alias(f"s{j}") for j in range(1, 65)],
    )
    cents = sorted(
        (
            int(r["label"]),
            [S._round_half_away(int(r[f"s{j}"]), int(r["n"])) for j in range(1, 65)],
        )
        for r in agg.collect()
    )
    pred = vm.select(
        "label",
        F.expr(f"({S._micro_argmin_sql('v', cents)}).c_id").alias("pred_label"),
    )
    return pred.groupBy("label", "pred_label").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )


def _label_eval_sql(dim: int = 64) -> str:
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    sums = ", ".join(
        f"CAST(sum(v[{j}]) AS BIGINT) AS s{j}" for j in range(1, dim + 1)
    )
    upd = ", ".join(
        _sql_round_ratio(f"s{j}", "n")
        for j in range(1, dim + 1)
    )
    l2 = " + ".join(
        f"(v.v[{j}] - c.v[{j}]) * (v.v[{j}] - c.v[{j}])" for j in range(1, dim + 1)
    )
    return f"""
        WITH vm AS MATERIALIZED (
            SELECT vec_id, CAST(label AS BIGINT) AS label, [{quant}] AS v
            FROM embeddings),
        agg AS MATERIALIZED (
            SELECT label, count(*) AS n, {sums} FROM vm GROUP BY label),
        cl AS MATERIALIZED (
            SELECT label AS c_id, [{upd}] AS v FROM agg),
        pred AS MATERIALIZED (
            SELECT label, pred_label FROM (
                SELECT v.label, c.c_id AS pred_label,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ({l2}) ASC, c.c_id ASC) AS r
                FROM vm v CROSS JOIN cl c) WHERE r = 1)
        SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n_vecs
        FROM pred GROUP BY label, pred_label
    """


def sim_ann_ivf_lloyd_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN loop with a TRAINED quantizer, value-gated
    end to end: exact-integer Lloyd training (kmeans_lloyd_micro) →
    persisted partition-by-list index layout (sources/ann_index.
    ivf_index_build_micro) → partition-pruned serving (ivf_index_topk_micro,
    DPP pinned by scripts/explain_audit.py).  The persisted layout must not
    change results, so the oracle is sim_ann_ivf_lloyd's verbatim — DuckDB
    replays training and scoring straight off the base table."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]

    def build(path: str) -> None:
        cents = S.kmeans_lloyd_micro(emb, dim=64, k=8, stride=37, iters=2)
        AI.ivf_index_build_micro(emb, path, cents)

    path = _ensure_layout("ivf_lloyd_index", sf_dir, "lloyd", build)
    return AI.ivf_index_topk_micro(spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2)


def sim_ann_pq_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k whose codebooks are TRAINED — two genuine Lloyd
    iterations per subquantizer — yet fully value-gated: the PQ
    counterpart of sim_ann_ivf_lloyd (operators/similarity.
    pq_codebooks_lloyd_micro + pq_topk_micro; everything BIGINT from the
    micro-quantized slices on, so the DuckDB oracle replays training,
    encoding and ADC scoring bit-for-bit).  pq_codebooks_lloyd_micro is
    the package's one PQ trainer."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    cbs = S.pq_codebooks_lloyd_micro(emb, dim=64, stride=37, iters=2)
    return S.pq_topk_micro(emb, _query_vectors(emb), cbs, dim=64, k=_TOP_K)


def _pq_lloyd_sql(
    dim: int = 64,
    m_sub: int = 4,
    k_codes: int = 8,
    stride: int = 37,
    iters: int = 2,
) -> str:
    """Bit-exact SQL replay of pq_codebooks_lloyd_micro + pq_topk_micro."""
    sub = dim // m_sub

    def l2(v: str, c: str, moff: str) -> str:
        # Σ_j (v[moff·sub + j] − c[j])² over one subspace slice
        return " + ".join(
            f"({v}.v[{moff}*{sub} + {j}] - {c}.c[{j}]) "
            f"* ({v}.v[{moff}*{sub} + {j}] - {c}.c[{j}])"
            for j in range(1, sub + 1)
        )

    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    slice_cols = ", ".join(f"v.v[ms.m*{sub} + {j}]" for j in range(1, sub + 1))
    ctes = [
        f"vm AS MATERIALIZED (SELECT vec_id, [{quant}] AS v FROM embeddings)",
        f"ms AS (SELECT unnest(range(0, {m_sub})) AS m)",
        f"""cb0 AS MATERIALIZED (
            SELECT ms.m, CAST(v.vec_id // {stride} AS BIGINT) AS c_id,
                   [{slice_cols}] AS c
            FROM vm v CROSS JOIN ms
            WHERE v.vec_id % {stride} = 0 AND v.vec_id < {stride * k_codes})""",
    ]
    for t in range(iters):
        sums = ", ".join(
            f"CAST(sum(v.v[a.m*{sub} + {j}]) AS BIGINT) AS s{j}"
            for j in range(1, sub + 1)
        )
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL THEN c.c[{j}] "
            f"ELSE " + _sql_round_ratio(f"s.s{j}", "s.n") + " END"
            for j in range(1, sub + 1)
        )
        ctes.append(f"""a{t} AS MATERIALIZED (
            SELECT n_id, m, c_id FROM (
                SELECT v.vec_id AS n_id, c.m, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id, c.m
                           ORDER BY ({l2('v', 'c', 'c.m')}) ASC, c.c_id ASC) AS r
                FROM vm v CROSS JOIN cb{t} c) WHERE r = 1)""")
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT a.m, a.c_id, count(*) AS n, {sums}
            FROM a{t} a JOIN vm v ON v.vec_id = a.n_id GROUP BY a.m, a.c_id)""")
        ctes.append(f"""cb{t + 1} AS MATERIALIZED (
            SELECT c.m, c.c_id, [{upd}] AS c
            FROM cb{t} c LEFT JOIN s{t} s ON s.m = c.m AND s.c_id = c.c_id)""")
    cf = f"cb{iters}"
    ctes.append(f"""codes AS MATERIALIZED (
        SELECT n_id, m, c_id FROM (
            SELECT v.vec_id AS n_id, c.m, c.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id, c.m
                       ORDER BY ({l2('v', 'c', 'c.m')}) ASC, c.c_id ASC) AS r
            FROM vm v CROSS JOIN {cf} c) WHERE r = 1)""")
    ctes.append(f"""adc AS MATERIALIZED (
        SELECT q.vec_id AS q_id, c.m, c.c_id,
               ({l2('q', 'c', 'c.m')}) AS contrib
        FROM vm q CROSS JOIN {cf} c
        WHERE q.vec_id < {_N_QUERIES})""")
    ctes.append("""scored AS MATERIALIZED (
        -- CAST: DuckDB sum(BIGINT) is HUGEINT (see _pq_sql note)
        SELECT a.q_id, cd.n_id, CAST(sum(a.contrib) AS BIGINT) AS adc_q
        FROM codes cd
        JOIN adc a ON a.m = cd.m AND a.c_id = cd.c_id
        WHERE a.q_id <> cd.n_id
        GROUP BY a.q_id, cd.n_id)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT q_id, n_id, adc_q, rk FROM (
            SELECT q_id, n_id, adc_q,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY adc_q ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {_TOP_K}
    """


def sim_ann_ivfpq_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC) with BOTH quantizers trained — Lloyd coarse
    centroids AND Lloyd residual codebooks — under one bit-exact oracle:
    the production ANN composition, end to end (operators/similarity.
    ivf_pq_topk_lloyd_micro).  Completes the trained-quantizer family:
    IVF (sim_ann_ivf_lloyd), PQ (sim_ann_pq_lloyd), and their residual
    composition all replay training in DuckDB via the integer-micro
    discipline."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.ivf_pq_topk_lloyd_micro(emb, _query_vectors(emb), dim=64, k=_TOP_K)


def sim_ann_ivfpq_lloyd_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production IVFADC loop PERSISTED, value-gated end to end:
    Lloyd-train both quantizers (similarity.ivfpq_train_micro) → write the
    codes-only index layout (sources/ann_index.ivfpq_index_build_micro —
    M codes per vector partitioned by coarse list, the Jégou'11 §IV
    memory contract in storage form) → DPP-pruned ADC serving
    (ivfpq_index_topk_micro, dynamicpruning pinned by
    scripts/explain_audit.py).  The persisted layout must not change
    results, so the oracle is sim_ann_ivfpq_lloyd's verbatim — DuckDB
    replays training, encoding and ADC straight off the base table."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]

    def build(path: str) -> None:
        cents, cbs = S.ivfpq_train_micro(emb, dim=64)
        AI.ivfpq_index_build_micro(emb, path, cents, cbs)

    path = _ensure_layout("ivfpq_lloyd_index", sf_dir, "lloyd", build)
    return AI.ivfpq_index_topk_micro(
        spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2
    )


def sim_ann_ivfpq_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search on the IVFADC tier (r9 — parity with
    sim_ann_ivf_filtered): the codes layout is built with the `label`
    metadata column riding next to each code
    (ivfpq_index_build_micro(meta_cols=("label",))), and serving
    restricts candidates with a predicate that lands in the parquet
    PushedFilters of the probed partitions — row-group pruning UNDER the
    dynamic partition prune, never a post-search join back to the
    full-precision corpus (which the codes-only index doesn't even
    store).  Per-vector encoding commutes with the filter, so the oracle
    applies the same predicate to its codes CTE and the filtered ADC
    top-k hashes bit-exact."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]

    def build(path: str) -> None:
        cents, cbs = S.ivfpq_train_micro(emb, dim=64)
        AI.ivfpq_index_build_micro(emb, path, cents, cbs, meta_cols=("label",))

    path = _ensure_layout("ivfpq_index_meta", sf_dir, "meta", build)
    return AI.ivfpq_index_topk_micro(
        spark,
        path,
        _query_vectors(emb),
        k=_TOP_K,
        nprobe=2,
        candidate_filter="label = 1",
    )


def sim_ann_ivfpq_upserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector DELETE + UPDATE through the persisted IVFADC index (r8
    verdict item 2 — the PQ tier previously required a rebuild for any
    mutation): both quantizers are Lloyd-trained on the ORIGINAL corpus
    and the split (max_list_rows) codes layout built, then the same
    mutation batch as sim_ann_ivf_upserted is applied — the %17==3 slice
    deleted, the %17==5 slice updated to REVERSED vectors (a pure
    element permutation, so both engines mutate bit-identically).
    ann_index.ivfpq_index_upsert re-ENCODES the updates against the
    layout's own persisted quantizer pair (a mutated vector may migrate
    coarse lists and changes its subspace codes), rewrites only the
    touched lists with the slot cap re-applied, and drops any list
    emptied by the deletes.  DPP-pruned ADC serving must equal a
    from-scratch encode of the mutated corpus under the same fixed
    quantizers — the oracle is the verbatim IVFADC-Lloyd replay with
    only the encoded side swapped to the mutated-corpus CTE
    (_ivf_pq_lloyd_sql(mutated=True)): a resurrected code row, a stale
    pre-update code, or a missed list migration each flip the hash."""
    from codecdb_queryengine_spark.sources import ann_index as AI

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    path = _scratch_dir("ivfpq_index_upsert", sf_dir, fresh=True)
    AI.ivfpq_index_build_micro(emb, path, cents, cbs, max_list_rows=16)
    AI.ivfpq_index_upsert(
        path,
        updates=emb.filter(F.expr(_UPS_UPD)).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        delete_ids=emb.filter(F.expr(_UPS_DEL)).select("vec_id"),
    )
    return AI.ivfpq_index_topk_micro(
        spark, path, _query_vectors(emb), k=_TOP_K, nprobe=2
    )


def _ivf_pq_lloyd_sql(
    dim: int = 64,
    k_coarse: int = 8,
    stride: int = 37,
    iters: int = 2,
    nprobe: int = 2,
    m_sub: int = 4,
    k_codes: int = 8,
    mutated: bool = False,
    cand_filter: str = "",
) -> str:
    """Bit-exact SQL replay of ivf_pq_topk_lloyd_micro: coarse Lloyd →
    residuals → per-subspace residual Lloyd → encode → probes → ADC."""
    sub = dim // m_sub

    def l2full(a: str, b: str) -> str:
        return " + ".join(
            f"({a}.v[{j}] - {b}.v[{j}]) * ({a}.v[{j}] - {b}.v[{j}])"
            for j in range(1, dim + 1)
        )

    def l2res(r: str, c: str, moff: str) -> str:
        return " + ".join(
            f"({r}.r[{moff}*{sub} + {j}] - {c}.c[{j}]) "
            f"* ({r}.r[{moff}*{sub} + {j}] - {c}.c[{j}])"
            for j in range(1, sub + 1)
        )

    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    resid = ", ".join(f"v.v[{j}] - c.v[{j}]" for j in range(1, dim + 1))
    rslice = ", ".join(f"r.r[ms.m*{sub} + {j}]" for j in range(1, sub + 1))
    ctes = [
        f"vm AS MATERIALIZED (SELECT vec_id, [{quant}] AS v FROM embeddings)",
        f"""c0 AS MATERIALIZED (
            SELECT CAST(vec_id // {stride} AS BIGINT) AS c_id, v FROM vm
            WHERE vec_id % {stride} = 0 AND vec_id < {stride * k_coarse})""",
    ]
    if mutated:
        # the sim_ann_ivfpq_upserted corpus: quantizers stay trained on the
        # ORIGINAL vm (fixed at build time — same contract as the flat-IVF
        # upsert oracle), only the ENCODED side swaps to this CTE
        ctes.append(f"""vm_m AS MATERIALIZED (
            SELECT vec_id, [{quant}] AS v FROM (
                SELECT vec_id,
                       CASE WHEN {_UPS_UPD} THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
                FROM embeddings WHERE NOT {_UPS_DEL}))""")
    # coarse Lloyd rounds (the _ivf_lloyd_sql recurrence)
    for t in range(iters):
        sums = ", ".join(
            f"CAST(sum(v.v[{j}]) AS BIGINT) AS s{j}" for j in range(1, dim + 1)
        )
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL THEN c.v[{j}] "
            f"ELSE " + _sql_round_ratio(f"s.s{j}", "s.n") + " END"
            for j in range(1, dim + 1)
        )
        ctes.append(f"""a{t} AS MATERIALIZED (
            SELECT n_id, c_id FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ({l2full('v', 'c')}) ASC, c.c_id ASC) AS r
                FROM vm v CROSS JOIN c{t} c) WHERE r = 1)""")
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT a.c_id, count(*) AS n, {sums}
            FROM a{t} a JOIN vm v ON v.vec_id = a.n_id GROUP BY a.c_id)""")
        ctes.append(f"""c{t + 1} AS MATERIALIZED (
            SELECT c.c_id, [{upd}] AS v
            FROM c{t} c LEFT JOIN s{t} s ON s.c_id = c.c_id)""")
    cf = f"c{iters}"
    ctes.append(f"""assign AS MATERIALIZED (
        SELECT n_id, c_id FROM (
            SELECT v.vec_id AS n_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({l2full('v', 'c')}) ASC, c.c_id ASC) AS r
            FROM vm v CROSS JOIN {cf} c) WHERE r = 1)""")
    ctes.append(f"""res AS MATERIALIZED (
        SELECT a.n_id, a.c_id AS c_list, [{resid}] AS r
        FROM assign a
        JOIN vm v ON v.vec_id = a.n_id
        JOIN {cf} c ON c.c_id = a.c_id)""")
    if mutated:
        # mutated-corpus residuals feed ONLY the final `codes` CTE — the
        # residual-codebook training below keeps reading the original res
        ctes.append(f"""assign_m AS MATERIALIZED (
            SELECT n_id, c_id FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ({l2full('v', 'c')}) ASC, c.c_id ASC) AS r
                FROM vm_m v CROSS JOIN {cf} c) WHERE r = 1)""")
        ctes.append(f"""res_m AS MATERIALIZED (
            SELECT a.n_id, a.c_id AS c_list, [{resid}] AS r
            FROM assign_m a
            JOIN vm_m v ON v.vec_id = a.n_id
            JOIN {cf} c ON c.c_id = a.c_id)""")
    ctes.append(f"ms AS (SELECT unnest(range(0, {m_sub})) AS m)")
    ctes.append(f"""rcb0 AS MATERIALIZED (
        SELECT ms.m, CAST(r.n_id // {stride} AS BIGINT) AS c_id,
               [{rslice}] AS c
        FROM res r CROSS JOIN ms
        WHERE r.n_id % {stride} = 0 AND r.n_id < {stride * k_codes})""")
    # residual Lloyd rounds (the _pq_lloyd_sql recurrence, over res)
    for t in range(iters):
        sums = ", ".join(
            f"CAST(sum(v.r[a.m*{sub} + {j}]) AS BIGINT) AS s{j}"
            for j in range(1, sub + 1)
        )
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL THEN c.c[{j}] "
            f"ELSE " + _sql_round_ratio(f"s.s{j}", "s.n") + " END"
            for j in range(1, sub + 1)
        )
        ctes.append(f"""ra{t} AS MATERIALIZED (
            SELECT n_id, m, c_id FROM (
                SELECT r.n_id, c.m, c.c_id,
                       row_number() OVER (
                           PARTITION BY r.n_id, c.m
                           ORDER BY ({l2res('r', 'c', 'c.m')}) ASC, c.c_id ASC) AS rr
                FROM res r CROSS JOIN rcb{t} c) WHERE rr = 1)""")
        ctes.append(f"""rs{t} AS MATERIALIZED (
            SELECT a.m, a.c_id, count(*) AS n, {sums}
            FROM ra{t} a JOIN res v ON v.n_id = a.n_id GROUP BY a.m, a.c_id)""")
        ctes.append(f"""rcb{t + 1} AS MATERIALIZED (
            SELECT c.m, c.c_id, [{upd}] AS c
            FROM rcb{t} c LEFT JOIN rs{t} s ON s.m = c.m AND s.c_id = c.c_id)""")
    rcf = f"rcb{iters}"
    enc_src = "res_m" if mutated else "res"
    # candidate filter (sim_ann_ivfpq_filtered): per-vector encoding
    # commutes with a metadata predicate, so filtering the codes CTE
    # equals serving over a meta-filtered codes scan
    cj = f"JOIN embeddings e ON e.vec_id = r.n_id" if cand_filter else ""
    cw = f"WHERE {cand_filter}" if cand_filter else ""
    ctes.append(f"""codes AS MATERIALIZED (
        SELECT n_id, c_list, m, c_id AS pq_c FROM (
            SELECT r.n_id, r.c_list, c.m, c.c_id,
                   row_number() OVER (
                       PARTITION BY r.n_id, c.m
                       ORDER BY ({l2res('r', 'c', 'c.m')}) ASC, c.c_id ASC) AS rr
            FROM {enc_src} r {cj} CROSS JOIN {rcf} c {cw}) WHERE rr = 1)""")
    ctes.append(f"""probes AS MATERIALIZED (
        SELECT q_id, c_id AS c_list FROM (
            SELECT q.vec_id AS q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ({l2full('q', 'c')}) ASC, c.c_id ASC) AS r
            FROM vm q CROSS JOIN {cf} c
            WHERE q.vec_id < {_N_QUERIES}) WHERE r <= {nprobe})""")
    ctes.append(f"""qres AS MATERIALIZED (
        SELECT p.q_id, p.c_list, [{resid.replace('v.v', 'q.v')}] AS r
        FROM probes p
        JOIN vm q ON q.vec_id = p.q_id
        JOIN {cf} c ON c.c_id = p.c_list)""")
    ctes.append(f"""adc AS MATERIALIZED (
        SELECT qr.q_id, qr.c_list, c.m, c.c_id AS pq_c,
               ({l2res('qr', 'c', 'c.m')}) AS contrib
        FROM qres qr CROSS JOIN {rcf} c)""")
    ctes.append("""scored AS MATERIALIZED (
        -- CAST: DuckDB sum(BIGINT) is HUGEINT (see _pq_sql note)
        SELECT a.q_id, cd.n_id, CAST(sum(a.contrib) AS BIGINT) AS adc_q
        FROM codes cd
        JOIN adc a ON a.c_list = cd.c_list AND a.m = cd.m AND a.pq_c = cd.pq_c
        WHERE a.q_id <> cd.n_id
        GROUP BY a.q_id, cd.n_id)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT q_id, n_id, adc_q, rk FROM (
            SELECT q_id, n_id, adc_q,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY adc_q ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {_TOP_K}
    """


# --- multimodal plumbing ---------------------------------------------------


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the mapInPandas path.

    The feature vector itself stays an ``array<double>`` inside the plan
    (that is the mapInPandas contract under test); the gate surface joins
    it to an exact-integer CSV because the driver's comparator lexsorts
    every output column in pandas and a top-level array is unhashable
    there.  Each stub feature is hexbyte/256, so ×256 recovers the exact
    integer — no float formatting crosses the gate.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # decoder="stub": the gate's payloads are text; pinning one tier keeps
    # the oracle deterministic (real PPM/PGM decode is pinned by fixtures
    # in tests/test_multimodal_decode.py)
    feats = M.extract_features(M.documents_as_media(docs), decoder="stub")
    return feats.select(
        "media_id",
        "n_bytes",
        "digest",
        F.array_join(
            F.transform(
                "feature",
                lambda x: (x * F.lit(256.0)).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("feature_csv"),
    )


def _mm_sql(dim: int = M.FEATURE_DIM) -> str:
    feat = ", ".join(
        f"CAST(('0x' || substring(md5(text), {2 * i + 1}, 2))::INT AS VARCHAR)"
        for i in range(dim)
    )
    return f"""
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest,
               concat_ws(',', {feat}) AS feature_csv
        FROM documents
    """


def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image-decode tier under the value gate: each document's
    md5 bytes become a genuine 4×2 binary-PPM payload (header + 24 raw
    samples, built with Spark binary expressions), mapInPandas runs the
    actual numpy decoder (multimodal.decode_image → image_features), and
    the gate pins micro-quantized pixel statistics — channel means, luma
    σ, horizontal edge energy — against a DuckDB oracle that recomputes
    every pixel from the same md5 hex.  floor(x·1e6 + 0.5) absorbs
    numpy's pairwise-vs-left-fold summation-order noise (~1e-17 on 8
    pixels) without leaving a knife edge.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"P6\n4 2\n255\n")
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    feats = M.extract_features(media)  # auto tier -> real decode

    def q(i: int, alias: str):
        return F.floor(F.element_at("feature", i + 1) * F.lit(1e6) + F.lit(0.5)).alias(alias)

    return feats.select(
        "media_id",
        "n_bytes",
        q(3, "mean_r_micro"),
        q(4, "mean_g_micro"),
        q(5, "mean_b_micro"),
        q(6, "luma_std_micro"),
        q(7, "edge_micro"),
    ).orderBy("media_id")


def _mm_decode_real_sql() -> str:
    # pixel byte k (0-based): bytes 0..15 from md5(text), 16..23 from
    # md5(text||'x'); pixel i has channels (3i, 3i+1, 3i+2); 4x2 row-major
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::INT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::INT"

    def ch(i: int, c: int) -> str:
        return f"(CAST({byte(3 * i + c)} AS DOUBLE) / 255.0)"

    def luma(i: int) -> str:
        return f"(0.299 * {ch(i, 0)} + 0.587 * {ch(i, 1)} + 0.114 * {ch(i, 2)})"

    def mean8(terms: list) -> str:
        return "((" + " + ".join(terms) + ") / 8.0)"

    mean_r = mean8([ch(i, 0) for i in range(8)])
    mean_g = mean8([ch(i, 1) for i in range(8)])
    mean_b = mean8([ch(i, 2) for i in range(8)])
    lumas = [luma(i) for i in range(8)]
    mean_l = mean8(lumas)
    var_l = "((" + " + ".join(f"(({t}) - ml) * (({t}) - ml)" for t in lumas) + ") / 8.0)"
    # width 4, height 2: row0 px0-3, row1 px4-7 -> 6 horizontal diffs
    diffs = [f"abs({luma(i + 1)} - {luma(i)})" for i in (0, 1, 2, 4, 5, 6)]
    edge = "((" + " + ".join(diffs) + ") / 6.0)"
    return f"""
        WITH m AS (SELECT doc_id AS media_id, text, {mean_l} AS ml FROM documents)
        SELECT media_id,
               CAST(35 AS BIGINT) AS n_bytes,
               CAST(floor({mean_r} * 1000000.0 + 0.5) AS BIGINT) AS mean_r_micro,
               CAST(floor({mean_g} * 1000000.0 + 0.5) AS BIGINT) AS mean_g_micro,
               CAST(floor({mean_b} * 1000000.0 + 0.5) AS BIGINT) AS mean_b_micro,
               CAST(floor(sqrt({var_l}) * 1000000.0 + 0.5) AS BIGINT) AS luma_std_micro,
               CAST(floor({edge} * 1000000.0 + 0.5) AS BIGINT) AS edge_micro
        FROM m ORDER BY media_id
    """


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup through the REAL decode path: the same
    synthetic 4×2 binary-PPM payloads as mm_decode_real, decoded by numpy
    in mapInPandas, hashed with the all-integer dHash
    (multimodal.perceptual_hash_bits — BT.601 integer luma, 6 horizontal
    gradient bits), then exact keep-first dedup by hash.  The whole chain
    is integers, so the gate hashes (media_id, phash, keep_id, n_copies,
    is_dup) bit-exact against a DuckDB oracle that recomputes every pixel
    from the md5 hex.  Scale shape: map-side decode+hash on the scan, ONE
    hash partition by phash — identical to exact_dedup."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"P6\n4 2\n255\n")
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    ph = M.perceptual_hash(media)
    grp = Window.partitionBy("phash")
    return (
        ph.select(
            "media_id",
            "phash",
            F.min("media_id").over(grp).alias("keep_id"),
            F.count(F.lit(1)).over(grp).alias("n_copies"),
        )
        .withColumn("is_dup", F.col("media_id") != F.col("keep_id"))
    )


def _mm_phash_sql() -> str:
    # Same byte layout as _mm_decode_real_sql: pixel i channels
    # (3i, 3i+1, 3i+2); bytes 0..15 from md5(text), 16..23 from
    # md5(text||'x'); 4×2 row-major.  Integer luma ×1000, LSB-first
    # gradient bits over horizontal neighbors (3 per row × 2 rows).
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::BIGINT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::BIGINT"

    def ilum(i: int) -> str:
        return (
            f"(299 * {byte(3 * i)} + 587 * {byte(3 * i + 1)}"
            f" + 114 * {byte(3 * i + 2)})"
        )

    # bit k for (row r, col c): k = r*3 + c, pixels row-major (row0: 0-3)
    bits = []
    for r in range(2):
        for c in range(3):
            i = r * 4 + c
            k = r * 3 + c
            bits.append(
                f"(CASE WHEN {ilum(i)} < {ilum(i + 1)} THEN {1 << k} ELSE 0 END)"
            )
    phash = "CAST(" + " + ".join(bits) + " AS BIGINT)"
    return f"""
        WITH p AS MATERIALIZED (
            SELECT doc_id AS media_id, {phash} AS phash FROM documents)
        SELECT media_id, phash,
               min(media_id) OVER (PARTITION BY phash) AS keep_id,
               count(*) OVER (PARTITION BY phash) AS n_copies,
               media_id <> min(media_id) OVER (PARTITION BY phash) AS is_dup
        FROM p
    """


def mm_phash_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize → perceptual-hash composition under the value gate: the 4×2
    PPM payloads are nearest-neighbor-resized to 8×4 by the REAL pixel
    resampler (multimodal.resize — the one transform previously pinned
    only by unit fixtures), then dHashed (28 gradient bits).  The resize
    index maps are deterministic integers (ys = ⌊r·2/4⌋, xs = ⌊c·4/8⌋),
    so the oracle replays the resample by reindexing the same md5-derived
    pixels — the whole chain stays bit-exact."""
    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"P6\n4 2\n255\n")
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    return M.perceptual_hash(M.resize(media, 8, 4)).orderBy("media_id")


def _mm_phash_resized_sql() -> str:
    # Nearest-neighbor index maps for 4×2 -> 8×4: row r reads source row
    # (r*2)//4, col c reads source col (c*4)//8; source pixel (sr, sc) is
    # flat index sr*4+sc over the mm_decode_real md5 byte layout.
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::BIGINT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::BIGINT"

    def ilum(i: int) -> str:
        return (
            f"(299 * {byte(3 * i)} + 587 * {byte(3 * i + 1)}"
            f" + 114 * {byte(3 * i + 2)})"
        )

    ys = [(r * 2) // 4 for r in range(4)]
    xs = [(c * 4) // 8 for c in range(8)]
    bits = []
    for r in range(4):
        for c in range(7):
            left = ilum(ys[r] * 4 + xs[c])
            right = ilum(ys[r] * 4 + xs[c + 1])
            k = r * 7 + c
            bits.append(f"(CASE WHEN {left} < {right} THEN {1 << k} ELSE 0 END)")
    phash = "CAST(" + " + ".join(bits) + " AS BIGINT)"
    return f"""
        SELECT doc_id AS media_id,
               CAST(8 AS BIGINT) AS width,
               CAST(4 AS BIGINT) AS height,
               {phash} AS phash
        FROM documents ORDER BY media_id
    """


def mm_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real AUDIO decode tier under the value gate (mm_decode_real's
    audio sibling): each document's md5 bytes become a genuine 44-byte-
    header RIFF/WAVE payload carrying 24 unsigned-8-bit PCM samples; the
    numpy WAV decoder runs in mapInPandas and the gate pins zero-crossing
    rate exactly plus micro-quantized rms / peak / mean-|x| /
    first-difference energy against a DuckDB oracle recomputing every
    sample from the same md5 hex ((byte-128)/128)."""
    import struct

    docs = load_tables(spark, sf_dir)["documents"]
    data_len = 24
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    header = bytearray(
        b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_len)
    )
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        payload.alias("payload"),
        F.lit(24).cast("long").alias("meta_width"),
        F.lit(1).cast("long").alias("meta_height"),
    )
    feats = M.extract_features(media)  # auto tier -> WAV decode

    def q(i: int, alias: str):
        return F.floor(F.element_at("feature", i + 1) * F.lit(1e6) + F.lit(0.5)).alias(alias)

    return feats.select(
        "media_id",
        q(3, "rms_micro"),
        q(4, "peak_micro"),
        # zcr = crossings/23 exactly; emit the integer crossing count
        F.round(F.element_at("feature", 6) * F.lit(23.0)).cast("long").alias("n_crossings"),
        q(6, "mean_abs_micro"),
        q(7, "d1_micro"),
    ).orderBy("media_id")


def _mm_decode_audio_sql() -> str:
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::INT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::INT"

    def smp(k: int) -> str:
        return f"((CAST({byte(k)} AS DOUBLE) - 128.0) / 128.0)"

    n = 24
    sq_sum = " + ".join(f"({smp(k)} * {smp(k)})" for k in range(n))
    abs_sum = " + ".join(f"abs({smp(k)})" for k in range(n))
    peak = "greatest(" + ", ".join(f"abs({smp(k)})" for k in range(n)) + ")"
    crossings = " + ".join(
        f"(CASE WHEN ({smp(k)} < 0) <> ({smp(k + 1)} < 0) THEN 1 ELSE 0 END)"
        for k in range(n - 1)
    )
    d1_sum = " + ".join(f"abs({smp(k + 1)} - {smp(k)})" for k in range(n - 1))
    return f"""
        SELECT doc_id AS media_id,
               CAST(floor(sqrt(({sq_sum}) / {n}.0) * 1000000.0 + 0.5) AS BIGINT)
                 AS rms_micro,
               CAST(floor({peak} * 1000000.0 + 0.5) AS BIGINT) AS peak_micro,
               CAST(({crossings}) AS BIGINT) AS n_crossings,
               CAST(floor(({abs_sum}) / {n}.0 * 1000000.0 + 0.5) AS BIGINT)
                 AS mean_abs_micro,
               CAST(floor(({d1_sum}) / {n - 1}.0 * 1000000.0 + 0.5) AS BIGINT)
                 AS d1_micro
        FROM documents ORDER BY media_id
    """


def mm_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real VIDEO decode tier under the value gate: each document's
    md5 bytes become a genuine 2-frame YUV4MPEG2 stream (4x2 4:2:0 —
    stream header, per-FRAME markers, 8 luma + 4 chroma bytes per frame);
    frame_sample's auto tier runs the actual numpy Y4M parser and the
    gate compares each extracted luma plane BYTE-FOR-BYTE (hex-encoded)
    against the oracle's slice of the same md5 hex."""
    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420\n")
    fr = bytearray(b"FRAME\n")
    chroma = bytearray(4)
    payload = F.concat(
        F.lit(header),
        F.lit(fr),
        F.unhex(F.substring(F.md5(F.col("text")), 1, 16)),
        F.lit(chroma),
        F.lit(fr),
        F.unhex(F.substring(F.md5(F.col("text")), 17, 16)),
        F.lit(chroma),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    frames = M.frame_sample(media, max_frames=8)  # auto tier -> real Y4M frames
    return frames.select(
        "media_id",
        "frame_idx",
        F.hex(F.col("frame_payload")).alias("frame_hex"),
    ).orderBy("media_id", "frame_idx")


_MM_DECODE_VIDEO_SQL = """
    SELECT doc_id AS media_id, CAST(k AS BIGINT) AS frame_idx,
           upper(substr(md5(text), 1 + 16 * k, 16)) AS frame_hex
    FROM documents, (SELECT unnest(range(0, 2)) AS k)
    ORDER BY media_id, frame_idx
"""


def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through mapInPandas: each payload fans
    out to ≤8 fixed-stride 64-byte frames (operators/multimodal.py
    frame_sample).  Gated on per-frame digests; the oracle re-slices in
    SQL — byte slice == char slice because the corpus is ASCII."""
    docs = load_tables(spark, sf_dir)["documents"]
    # sampler="bytes": text payloads + an oracle that re-slices in SQL
    # (real Y4M frame extraction is pinned in tests/test_multimodal_decode)
    frames = M.frame_sample(M.documents_as_media(docs), sampler="bytes")
    return frames.select(
        "media_id", "frame_idx", F.md5("frame_payload").alias("frame_digest")
    )


_MM_FRAMES_SQL = """
    WITH m AS (
        SELECT doc_id AS media_id, text, length(text) AS nb FROM documents),
    f AS (
        SELECT media_id, text,
               unnest(range(0, least(8, greatest(1, nb // 64)))) AS frame_idx
        FROM m)
    SELECT media_id, frame_idx,
           md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_digest
    FROM f
"""


# --- temporal joins --------------------------------------------------------


def mm_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media similarity search: the multimodal decode path composed with
    exact cosine top-k — payload -> mapInPandas feature vector -> top-3
    neighbors for the first 8 media.  The composition a media-dedup /
    retrieval pipeline runs end-to-end; same determinism story as
    mm_features (md5-derived stub features) + sim_topk (expression cosine).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    feats = M.extract_features(M.documents_as_media(docs), decoder="stub").select(
        "media_id", "feature"
    )
    # Filter BELOW the mapInPandas barrier: media_id == doc_id, so pruning
    # the source docs first keeps the query-side decode at 8 payloads —
    # filtering feats on media_id would re-decode the whole corpus a
    # second time (Catalyst can't push a predicate through mapInPandas).
    queries = M.extract_features(
        M.documents_as_media(docs.filter(F.col("doc_id") < 8)), decoder="stub"
    ).select(F.col("media_id").alias("q_id"), F.col("feature").alias("q_vec"))
    return S.brute_force_topk(
        feats, queries, vec_col="feature", id_col="media_id", k=3
    )


def _mm_ann_sql(dim: int = M.FEATURE_DIM) -> str:
    feat = ", ".join(
        f"('0x' || substring(md5(text), {2 * i + 1}, 2))::INT / 256.0"
        for i in range(dim)
    )
    # unrolled-double cosine mirror (see _SIM_TOPK_SQL); feature is a
    # DOUBLE list so the mirror is the engine's exact fold
    return f"""
        WITH feats AS (
            SELECT doc_id AS media_id, [{feat}] AS feature FROM documents),
        nv AS (
            SELECT media_id, feature,
                   sqrt({_sql_dot('feature', 'feature', dim)}) AS nrm
            FROM feats),
        pairs AS (
            SELECT q.media_id AS q_id, n.media_id AS n_id,
                   ({_sql_dot('q.feature', 'n.feature', dim)}) / (q.nrm * n.nrm)
                     AS cosine
            FROM nv q JOIN nv n ON q.media_id <> n.media_id
            WHERE q.media_id < 8)
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM pairs)
        WHERE rk <= 3
    """


def events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent prior
    click (inclusive).  Union+running-last formulation — one shuffle on
    user_id, no inequality-join blowup."""
    from codecdb_queryengine_spark.operators import temporal as TJ

    ev = load_tables(spark, sf_dir)["events"]
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    j = TJ.asof_join(purchases, clicks, on=["user_id"], ts="ts", payload=["click_value"])
    return j.select(
        "user_id",
        "purchase_id",
        "ts",
        "click_value",
        (F.unix_micros("ts") - F.unix_micros("ts_matched")).alias("gap_us"),
    ).orderBy("purchase_id")


_EVENTS_ASOF_SQL = """
    WITH p AS (SELECT user_id, event_id AS purchase_id, ts
               FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, max(value) AS click_value
          FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.user_id, purchase_id, p.ts, c.click_value,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
    ORDER BY purchase_id
"""


def events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each click matched to the user's NEXT purchase
    (inclusive) — the other direction of the same union+running-last
    operator (temporal.asof_join(direction="forward")); the attribution
    query ("which purchase did this click lead to")."""
    from codecdb_queryengine_spark.operators import temporal as TJ

    ev = load_tables(spark, sf_dir)["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("purchase_id"))
    )
    j = TJ.asof_join(
        clicks, purchases, on=["user_id"], ts="ts", payload=["purchase_id"],
        direction="forward",
    )
    return j.select(
        "user_id",
        "click_id",
        "ts",
        "purchase_id",
        (F.unix_micros("ts_matched") - F.unix_micros("ts")).alias("gap_us"),
    ).orderBy("click_id")


_EVENTS_ASOF_FWD_SQL = """
    WITH c AS (SELECT user_id, event_id AS click_id, ts
               FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts, min(event_id) AS purchase_id
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
    SELECT c.user_id, click_id, c.ts, p.purchase_id,
           CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
    FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
    ORDER BY click_id
"""


def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-range join: views by the same user within ±30 min of each
    error.  Bucketed candidate equi-join — at most two bins probed per
    left row, never a cartesian."""
    from codecdb_queryengine_spark.operators import temporal as TJ

    ev = load_tables(spark, sf_dir)["events"]
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    half_hour_us = 1800 * 1_000_000
    pairs = TJ.range_join(
        errors, views, on=["user_id"], ts="ts", lower_us=-half_hour_us, upper_us=half_hour_us
    )
    return (
        pairs.groupBy("user_id", "error_id")
        .agg(F.count(F.lit(1)).alias("n_views"), F.min("event_id_r").alias("first_view_id"))
        .orderBy("error_id")
    )


_EVENTS_RANGE_SQL = """
    WITH e AS (SELECT user_id, event_id AS error_id, ts
               FROM events WHERE event_type = 'error'),
    v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view')
    SELECT e.user_id, error_id, count(*) AS n_views, min(v.event_id) AS first_view_id
    FROM e JOIN v ON e.user_id = v.user_id
     AND epoch_us(v.ts) BETWEEN epoch_us(e.ts) - 1800000000
                            AND epoch_us(e.ts) + 1800000000
    GROUP BY e.user_id, error_id ORDER BY error_id
"""


# --- event windows (batch form; streaming variants in streaming/) ----------


def events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windowed aggregation over the events stream table."""
    ev = load_tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            unit_sum(F.col("value"), 2).alias("sum_value"),
        )
        .orderBy("window_start", "event_type")
    )


_EVENTS_WINDOW_SQL = f"""
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling TIME-RANGE aggregates per user: for every event, the count /
    sum / max of `value` over the trailing 10 minutes — the range-frame
    window (RANGE BETWEEN INTERVAL ... PRECEDING) that ext_window_funcs'
    rows-frames cannot express.  The frame is keyed on unix MICROseconds
    (identical integer order-by on both engines) and the sum is an exact
    integer-unit sum (queries/sums.py), so the result is independent of
    how each engine evaluates the sliding frame (Spark re-accumulates per
    frame, DuckDB uses a segment tree — different double association
    orders, the exact reason raw double sums are banned here).  A max is
    exact already.

    Scale shape: one hash shuffle on user_id, then a per-partition sort —
    the same cost as any windowed analytic; no self-join, no expansion.
    """
    ev = load_tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.filter(F.col("user_id") < 500).select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        unit_sum(F.col("value"), 2, over=w).alias("sum_value_10m"),
        F.max("value").over(w).alias("max_value_10m"),
    )


_EVENTS_ROLLING_SQL = f"""
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_10m,
           {unit_sum_sql("value", 2, over="w")} AS sum_value_10m,
           max(value) OVER w AS max_value_10m
    FROM events WHERE user_id < 500
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30 min) per user via lag + running sum."""
    from pyspark.sql import Window

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts")
    with_gap = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w) > 1800,
            1,
        )
        .otherwise(0)
        .cast("long"),
    )
    with_sid = with_gap.withColumn(
        "session_idx", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy("user_id", "session_idx")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
        )
        .orderBy("user_id")
    )


_EVENTS_SESSION_SQL = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sid AS (
        SELECT user_id,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g),
    per_session AS (
        SELECT user_id, session_idx, count(*) AS n_events
        FROM sid GROUP BY user_id, session_idx)
    SELECT user_id, count(*) AS n_sessions, CAST(sum(n_events) AS BIGINT) AS n_events,
           max(n_events) AS max_session_events
    FROM per_session GROUP BY user_id ORDER BY user_id
"""


# --- dedup clustering ------------------------------------------------------


def graph_cc_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over ADVERSARIAL long-chain graphs via the
    large-star/small-star algorithm (operators/graph.connected_components_star)
    — the O(log²n)-round path that label propagation cannot walk (a
    64-node chain needs 64 propagation rounds but ~6 star rounds).

    Graph: each user's events, ordered by (ts, event_id), become chains of
    diameter ≤ 64 on synthetic node ids user_id·100000 + seq (a chain
    breaks at every 64-event boundary) — so components stay max-diameter
    for the star algorithm while the ROUND COUNT is scale-invariant: at
    100× the events per user the graph gains components, not diameter,
    and each star round scales linearly.  The oracle knows every component
    exactly: id = the chunk's first node, size = events in the chunk
    (1-node trailing chunks have no edge and are rightly absent).  Output
    (component, n_nodes) is integers only — gate is exact.
    """
    return _cc_chain(spark, sf_dir, checkpoint_dir=None)


def graph_cc_chain_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_cc_chain through RELIABLE (files-on-disk) checkpoints — the
    durability mode a 100-TB CC run would use (local checkpoints die with
    an executor; reliable ones survive and truncate lineage across a long
    iterative job).  Same exact oracle; the per-round checkpoint write +
    superseded-round cleanup paths in operators/graph._prepare_ckpt_dir /
    _release_ckpt are exercised under the value gate (r4 verdict item 6 —
    previously unit-tested only)."""
    return _cc_chain(
        spark, sf_dir, checkpoint_dir=_scratch_dir("cc_ckpt", sf_dir, fresh=True)
    )


def _cc_chain(spark: SparkSession, sf_dir: str, checkpoint_dir: str | None) -> DataFrame:
    from codecdb_queryengine_spark.operators.graph import connected_components_star

    # 40 users × full event history: the chain DIAMETER (the property the
    # star algorithm is graded on) is set by the 64-chunking, not the user
    # count, so the gate stays adversarial while the per-round shuffles
    # stay small
    ev = load_tables(spark, sf_dir)["events"].filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqed = ev.select(F.row_number().over(w).alias("seq"), F.col("user_id"))
    edges = seqed.filter(F.col("seq") % 64 != 0).select(
        (F.col("user_id") * 100000 + F.col("seq")).alias("id_a"),
        (F.col("user_id") * 100000 + F.col("seq") + 1).alias("id_b"),
        "user_id",
        "seq",
    )
    # the +1 neighbor must exist: drop each user's last event's edge
    last = seqed.groupBy("user_id").agg(F.max("seq").alias("max_seq"))
    edges = (
        edges.join(F.broadcast(last), "user_id")
        .filter(F.col("seq") < F.col("max_seq"))
        .select("id_a", "id_b")
    )
    cc = connected_components_star(edges, "id_a", "id_b", checkpoint_dir=checkpoint_dir)
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("component")
    )


_GRAPH_CC_CHAIN_SQL = """
    WITH per_user AS (
        SELECT user_id, count(*) AS n FROM events
        WHERE user_id < 40 GROUP BY user_id),
    chunks AS (
        SELECT user_id, n, unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS chunk
        FROM per_user)
    SELECT user_id * 100000 + chunk * 64 + 1 AS component,
           least(n - chunk * 64, 64) AS n_nodes
    FROM chunks
    WHERE least(n - chunk * 64, 64) >= 2
    ORDER BY component
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: minhash-verified pairs become edges of a
    similarity graph; connected components assigns each involved doc its
    cluster id (min doc_id in the component).  This is the form a corpus
    dedup job consumes — keep min-id doc per cluster, drop the rest.
    """
    from codecdb_queryengine_spark.operators.graph import connected_components

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = D.minhash_verified_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=2, shingle_words=3, threshold=0.12
    )
    cc = connected_components(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


def _dedup_clusters_sql() -> str:
    # reachability closure over the same verified pairs; component = min
    # reachable node (including self) — identical labeling to min-propagation
    return f"""
        WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_verified_sql()}) v),
        und AS (SELECT id_a AS n, id_b AS m FROM pairs
                UNION SELECT id_b AS n, id_a AS m FROM pairs),
        reach AS (
            SELECT n, m FROM und
            UNION
            SELECT r.n, u.m FROM reach r JOIN und u ON r.m = u.n
        )
        SELECT n AS doc_id, least(n, min(m)) AS cluster_id
        FROM reach GROUP BY n ORDER BY doc_id
    """


def dedup_keep_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: the corpus with near-duplicates
    dropped — every document not in a cluster survives, and each cluster
    keeps exactly its min-id representative.  Non-representative members
    (node ≠ component) anti-join the corpus away; at 100 TB the drop list
    is a small fraction of the corpus and broadcasts.  Output is the
    per-language surviving count + char volume (the corpus-size report a
    dedup job emits), not the full doc list, so the gate result stays
    O(languages)."""
    from codecdb_queryengine_spark.operators.graph import connected_components

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = D.minhash_verified_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=2, shingle_words=3, threshold=0.12
    )
    cc = connected_components(pairs, "id_a", "id_b")
    drop = cc.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("doc_id")
    )
    return (
        docs.join(F.broadcast(drop), "doc_id", "left_anti")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


def _dedup_keep_sql() -> str:
    return f"""
        WITH cc AS ({_dedup_clusters_sql()})
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
        GROUP BY lang ORDER BY lang
    """


def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs -> clusters via the alternating large-star/
    small-star CC algorithm (O(log² n) rounds regardless of component
    diameter — the long-chain-safe variant; same min-id labeling contract
    as dedup_clusters, so the same recursive-closure oracle shape applies).
    """
    from codecdb_queryengine_spark.operators.graph import connected_components_star

    docs = load_tables(spark, sf_dir)["documents"]
    # corpus-scale banding (60/5) since r7 — see dedup_simhash_pairs
    sim = D.simhash(docs, "text", "doc_id", bits=60)
    pairs = D.simhash_near_dups(sim, max_hamming=3, bands=5, bits=60)
    cc = connected_components_star(pairs, "id_a", "id_b")
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


def _simhash_clusters_sql() -> str:
    return f"""
        WITH RECURSIVE pairs AS (
            SELECT id_a, id_b
            FROM ({_simhash_pairs_sql(max_hamming=3, bands=5, bits=60)}) v),
        und AS (SELECT id_a AS n, id_b AS m FROM pairs
                UNION SELECT id_b AS n, id_a AS m FROM pairs),
        reach AS (
            SELECT n, m FROM und
            UNION
            SELECT r.n, u.m FROM reach r JOIN und u ON r.m = u.n
        )
        SELECT n AS doc_id, least(n, min(m)) AS cluster_id
        FROM reach GROUP BY n ORDER BY doc_id
    """


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-shard incremental dedup: keep only the new-shard documents
    whose content digest is NOT already in the reference corpus, with an
    explicit Bloom pre-filter (operators/membership.py) so the new shard
    never shuffles in full — only bloom-positive rows pay the confirming
    anti-join, which removes the Bloom's false positives and makes the
    result EXACTLY new ∖ reference (hence the plain anti-join oracle).

    Shard simulation on the gate data: reference = doc_id ≡ 0 (mod 5);
    the incoming shard = the other docs plus a re-ingest of the reference
    docs with even ids under fresh ids (+100000) — those re-ingested rows
    are exact content dups and must drop.
    """
    from codecdb_queryengine_spark.operators.membership import dedup_against_reference

    docs = load_tables(spark, sf_dir)["documents"]
    ref = docs.filter(F.col("doc_id") % 5 == 0)
    new_shard = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text").unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return dedup_against_reference(new_shard, ref, "text", "doc_id").orderBy("doc_id")


_DEDUP_INCR_SQL = """
    WITH ref AS (SELECT md5(text) AS digest FROM documents WHERE doc_id % 5 = 0),
    new_shard AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
    SELECT n.doc_id, md5(n.text) AS digest
    FROM new_shard n
    WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.digest = md5(n.text))
    ORDER BY doc_id
"""


def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row-per-stage dedup funnel report — the summary a pipeline run
    emits: corpus size, exact-distinct digests, canonical-distinct
    digests, LSH-verified near-dup pairs, and near-dup clusters.  Each
    metric is a 1-row aggregate of an already-gated stage; the union is
    O(stages) rows."""
    docs = load_tables(spark, sf_dir)["documents"]
    raw = docs.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("raw_docs").alias("stage"), F.col("n")
    )
    exact = (
        docs.select(F.md5("text").alias("d")).distinct().agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("exact_distinct").alias("stage"), F.col("n"))
    )
    canonical = (
        docs.select(F.md5(D.canonical_text("text")).alias("d")).distinct()
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("canonical_distinct").alias("stage"), F.col("n"))
    )
    # persist the LSH+verify pair pipeline: connected_components eagerly
    # checkpoints its edges at build time and the near_dup_pairs branch
    # re-reads them at execution time — without the cache the dominant
    # shingle+banding+Jaccard pass would run twice.  The whole five-scalar
    # funnel is materialized HERE in ONE job (the union of five 1-row
    # aggregates — the same single pass the lazy form ran) and the cache
    # released before returning, so a library caller
    # (Engine.query('dedup_report')) no longer leaks a cached pair
    # pipeline into the session (r3 ADVICE) and the query does not pay a
    # second materialization for the eager counts.
    pairs = D.minhash_verified_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=2, shingle_words=3, threshold=0.12
    ).persist()
    from codecdb_queryengine_spark.operators.graph import connected_components

    cc = connected_components(pairs, "id_a", "id_b")
    n_pairs = pairs.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("near_dup_pairs").alias("stage"), F.col("n")
    )
    n_clusters = (
        cc.select("component").distinct().agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("near_dup_clusters").alias("stage"), F.col("n"))
    )
    funnel = (
        raw.unionByName(exact)
        .unionByName(canonical)
        .unionByName(n_pairs)
        .unionByName(n_clusters)
        .orderBy("stage")
    )
    try:
        rows = [(r["stage"], r["n"]) for r in funnel.collect()]
    finally:
        pairs.unpersist()
    return spark.createDataFrame(rows, "stage string, n long").orderBy("stage")


def _dedup_report_sql() -> str:
    return f"""
        WITH pairs AS ({_minhash_verified_sql()}),
        cc AS ({_dedup_clusters_sql()})
        SELECT 'raw_docs' AS stage, count(*) AS n FROM documents
        UNION ALL
        SELECT 'exact_distinct', count(DISTINCT md5(text)) FROM documents
        UNION ALL
        SELECT 'canonical_distinct',
               count(DISTINCT md5({_SQL_CANONICAL})) FROM documents
        UNION ALL
        SELECT 'near_dup_pairs', count(*) FROM pairs
        UNION ALL
        SELECT 'near_dup_clusters', count(DISTINCT cluster_id) FROM cc
        ORDER BY stage
    """


# --- corpus term statistics ------------------------------------------------


def docs_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus quality report — the rollup a data team reads
    after every ingest: doc count, char volume, and total quality score.

    The quality sum is anchored in integer micro-units so the grouped sum
    is order-free AND engine-free: floor(q·1e6 + 0.5) is computed over the
    bit-identical per-row double in both engines (the double→DECIMAL cast
    this replaces is knife-edged — Spark rounds the exact double, DuckDB
    rounds a scaled double, and one boundary row flips the 6th decimal of
    the group sum; observed on docs_stream_quality in the r4 exact sweep).
    Consumers derive the mean as sum/n.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            "source",
            "n_chars",
            F.floor(T.quality_score("text") * F.lit(1e6) + F.lit(0.5)).alias("qm"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("qm").cast("double") / F.lit(1e6)).alias("quality_sum"),
        )
        .orderBy("source")
    )


_SQL_QUALITY = f"""(
    0.3 * least({_SQL_NTOK} / 64.0, 1.0)
  + 0.3 * (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE) / greatest({_SQL_NTOK}, 1))
  + 0.2 * least((CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1)) * 4.0, 1.0)
  + 0.2 * (1.0 - least(({_SQL_PUNCT}) * 4.0, 1.0)))"""

_QUALITY_BY_SOURCE_SQL = f"""
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(CAST(sum(CAST(floor({_SQL_QUALITY} * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS DOUBLE) / 1000000.0 AS quality_sum
    FROM documents GROUP BY source ORDER BY source
"""


def docs_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 word bigrams by occurrence (duplicates counted) — the
    n-gram frequency pass next to docs_topterms' unigram document
    frequency.  One explode + one count shuffle; TakeOrderedAndProject."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            F.explode(
                T.word_shingles_all_from_tokens(T.tokens("text"), 2)
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(15)
    )


_BIGRAMS_SQL = f"""
    SELECT bigram, count(*) AS n FROM (
        SELECT unnest({_sql_word_shingles_all(2)}) AS bigram FROM documents)
    GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 15
"""


def docs_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by pointwise mutual information,
    PMI = log( c_xy·N / (c_x·c_y) ) (Church & Hanks 1990).  The gate uses
    the RATIONAL inside of the log — monotone, so the ranking is PMI's —
    in exact integer micro-units: pmi_micro = (c_xy·1e6·N) // (c_x·c_y),
    pure BIGINT on both engines (the log-free discipline of
    docs_search_ranked: ln/log2 are the one non-correctly-rounded op).

    Min-support c_xy ≥ 3 drops the degenerate hapax pairs PMI is known to
    over-rank.  Overflow headroom: c_xy·1e6·N needs N² ≲ 9.2e12 in int64 —
    fine to ~3M tokens per gate run; a 100-TB corpus would keep the same
    plan and widen to DECIMAL intermediates.

    Scale shape: two explode+count aggregations (unigrams, bigrams), two
    hash joins of the bigram table against the vocabulary-sized unigram
    table on each word, a 1-row broadcast for N, TakeOrderedAndProject for
    the top-k.  Everything is keyed; nothing is corpus-quadratic.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    uni = (
        docs.select(F.explode(T.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").alias("n_tok"))
    big = (
        docs.select(
            F.explode(
                T.word_shingles_all_from_tokens(T.tokens("text"), 2)
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 3)
        .withColumn("w1", F.split("bigram", " ").getItem(0))
        .withColumn("w2", F.split("bigram", " ").getItem(1))
    )
    scored = (
        big.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "c_xy",
            F.expr("(c_xy * 1000000L * n_tok) div (c1 * c2)").alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.col("pmi_micro").desc(), F.col("bigram").asc()).limit(40)


_PMI_SQL = f"""
    WITH uni AS MATERIALIZED (
        SELECT w, count(*) AS c FROM (
            SELECT unnest({_SQL_TOKENS}) AS w FROM documents) GROUP BY w),
    tot AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
    big AS MATERIALIZED (
        SELECT bigram, count(*) AS c_xy,
               string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2
        FROM (SELECT unnest({_sql_word_shingles_all(2)}) AS bigram FROM documents)
        GROUP BY bigram HAVING count(*) >= 3)
    SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy,
           CAST((c_xy * 1000000 * n_tok) // (u1.c * u2.c) AS BIGINT) AS pmi_micro
    FROM big JOIN uni u1 ON big.w1 = u1.w
             JOIN uni u2 ON big.w2 = u2.w
             CROSS JOIN tot
    ORDER BY pmi_micro DESC, bigram ASC LIMIT 40
"""


# target lang mixture (percent) for docs_mixture_weights — the kind of
# spec a training run pins in config (e.g. The Pile / Dolma mixture tables)
_MIX_TARGET = [("en", 50), ("de", 15), ("fr", 15), ("es", 10), ("zh", 10)]


def docs_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture balancing: given a target language mixture (percent)
    and the corpus' actual per-language counts, emit each language's
    resampling weight and its take at a fixed budget — the planning step
    before a weighted draw (docs_sample_weighted executes such a draw).

    weight_micro = (t_pct·N·1e6) // (100·n_lang) is the exact rational
    target_share / actual_share in integer micro-units (BIGINT on both
    engines — no float ratio crosses the gate); take_at_200 caps the
    budget·share quota at the language's actual supply, and `deficit`
    flags languages that cannot fill their quota without upsampling.

    Scale shape: one groupBy(lang) count, a broadcast join against the
    5-row target spec, and a 1-row broadcast total — nothing scales with
    corpus size except the single count aggregation.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tgt = spark.createDataFrame(_MIX_TARGET, "lang string, t_pct int")
    act = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = act.agg(F.sum("n_docs").alias("n_total"))
    quota = F.expr("(200 * coalesce(t_pct, 0)) div 100")
    return (
        act.join(F.broadcast(tgt), "lang", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.coalesce("t_pct", F.lit(0)).alias("t_pct"),
            F.expr(
                "(coalesce(t_pct, 0) * n_total * 1000000L) div (100 * n_docs)"
            ).alias("weight_micro"),
            F.least(F.col("n_docs"), quota).cast("long").alias("take_at_200"),
            (F.col("n_docs") < quota).alias("deficit"),
        )
        .orderBy("lang")
    )


_MIXTURE_SQL = """
    WITH tgt(lang, t_pct) AS (
        VALUES ('en', 50), ('de', 15), ('fr', 15), ('es', 10), ('zh', 10)),
    act AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM act)
    SELECT a.lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(t_pct, 0) AS INT) AS t_pct,
           CAST((coalesce(t_pct, 0) * n_total * 1000000) // (100 * n_docs)
                AS BIGINT) AS weight_micro,
           CAST(least(n_docs, (200 * coalesce(t_pct, 0)) // 100) AS BIGINT)
             AS take_at_200,
           n_docs < (200 * coalesce(t_pct, 0)) // 100 AS deficit
    FROM act a LEFT JOIN tgt ON a.lang = tgt.lang CROSS JOIN tot
    ORDER BY a.lang
"""


def docs_dsir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (operators/corpus.dsir_weights + gumbel_topk,
    Xie et al. 2023 arXiv:2302.03169): hashed-bigram (4096 buckets,
    md5_slice32) importance log-weights of every document against the
    English-language target domain, +1-smoothed, micro-nat-quantized per
    BUCKET before the order-free per-doc BIGINT sum; then deterministic
    Gumbel-top-k (content-stable md5 noise) draws the 50-doc training
    sample without replacement.  Every output column is an exact BIGINT
    (plus the target flag) — the full selection pass is value-gated,
    noise included."""
    docs = load_tables(spark, sf_dir)["documents"]
    scored = C.dsir_weights(
        docs, F.col("lang") == "en", "text", "doc_id", buckets=4096
    )
    return C.gumbel_topk(scored, "logw_micro", "doc_id", k=50)


_DSIR_SQL = f"""
    WITH bg AS MATERIALIZED (
        SELECT doc_id, (lang = 'en') AS is_target,
               ('0x' || substring(md5('dsir|' || bigram), 1, 8))::BIGINT
                   % 4096 AS b
        FROM (SELECT doc_id, lang,
                     unnest({_sql_word_shingles_all(2)}) AS bigram
              FROM documents)),
    bc AS MATERIALIZED (
        SELECT b, count(*) AS r_cnt,
               CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_cnt
        FROM bg GROUP BY b),
    tot AS MATERIALIZED (
        SELECT CAST(sum(r_cnt) AS BIGINT) AS r_tot,
               CAST(sum(t_cnt) AS BIGINT) AS t_tot FROM bc),
    w AS MATERIALIZED (
        SELECT b,
               CAST(round(1e6 * ln(
                   (CAST(t_cnt + 1 AS DOUBLE) * CAST(r_tot + 4096 AS DOUBLE))
                   / (CAST(r_cnt + 1 AS DOUBLE)
                      * CAST(t_tot + 4096 AS DOUBLE)))) AS BIGINT) AS w_micro
        FROM bc CROSS JOIN tot),
    pd AS MATERIALIZED (
        SELECT doc_id, is_target,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(w_micro) AS BIGINT) AS logw_micro
        FROM bg JOIN w USING (b) GROUP BY doc_id, is_target),
    g AS (
        SELECT doc_id, is_target, n_bigrams, logw_micro,
               CAST(round(1e6 * -ln(-ln(
                   (('0x' || substring(md5('dsirg|' || CAST(doc_id AS VARCHAR)),
                     1, 8))::BIGINT + 0.5) / 4294967296.0))) AS BIGINT)
                   AS gumbel_micro
        FROM pd)
    SELECT doc_id, is_target, n_bigrams, logw_micro, gumbel_micro,
           logw_micro + gumbel_micro AS score_micro
    FROM g ORDER BY score_micro DESC, doc_id LIMIT 50
"""


def _cooc_edges(docs: DataFrame, min_support: int = 3) -> DataFrame:
    """Symmetrized term co-occurrence graph: distinct directed edges both
    ways between words adjacent in ≥ `min_support` bigram occurrences —
    the deterministic derived graph the pagerank/triangle gates run on
    (docs_pmi mines the same bigram table for collocations)."""
    big = (
        docs.select(
            F.explode(
                T.word_shingles_all_from_tokens(T.tokens("text"), 2)
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= min_support)
        .select(
            F.split("bigram", " ").getItem(0).alias("w1"),
            F.split("bigram", " ").getItem(1).alias("w2"),
        )
        .filter(F.col("w1") != F.col("w2"))
    )
    return (
        big.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .union(big.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .distinct()
    )


_SQL_COOC_E = f"""
    big AS MATERIALIZED (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2
        FROM (SELECT unnest({_sql_word_shingles_all(2)}) AS bigram FROM documents)
        GROUP BY 1, 2
        HAVING count(*) >= 3 AND string_split(bigram, ' ')[1] <> string_split(bigram, ' ')[2]),
    e AS MATERIALIZED (
        SELECT w1 AS src, w2 AS dst FROM big
        UNION SELECT w2 AS src, w1 AS dst FROM big)
"""


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the term co-occurrence graph (graph.pagerank_micro):
    6 damped rounds in exact integer micro-units, gated bit-for-bit by a
    DuckDB oracle that replays the identical BIGINT recurrence through
    chained MATERIALIZED CTEs.  Top-30 terms by rank."""
    from codecdb_queryengine_spark.operators import graph as G

    docs = load_tables(spark, sf_dir)["documents"]
    pr = G.pagerank_micro(_cooc_edges(docs), iters=6)
    return (
        pr.select("node", F.col("pr").alias("pr_micro"))
        .orderBy(F.col("pr_micro").desc(), F.col("node").asc())
        .limit(30)
    )


def _pagerank_sql(iters: int = 6) -> str:
    ctes = [
        _SQL_COOC_E.strip(),
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        """pr0 AS MATERIALIZED (
            SELECT src AS node, CAST(1000000 AS BIGINT) AS pr
            FROM (SELECT DISTINCT src FROM e))""",
    ]
    for t in range(iters):
        ctes.append(f"""pr{t + 1} AS MATERIALIZED (
            SELECT e.dst AS node,
                   CAST(150000 + (85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
            FROM e JOIN deg d ON e.src = d.src
                   JOIN pr{t} p ON e.src = p.node
            GROUP BY e.dst)""")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT node, pr AS pr_micro FROM pr{iters}
    ORDER BY pr_micro DESC, node ASC LIMIT 30
"""


def graph_pagerank_ckpt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """graph_pagerank through RELIABLE (files-on-disk) checkpoints — the
    durability mode a long iterative 100-TB rank job would run with
    (graph_cc_chain_ckpt's discipline applied to the second iterative
    graph operator).  Same exact oracle; per-round checkpoint write and
    superseded-round cleanup run under the value gate."""
    from codecdb_queryengine_spark.operators import graph as G

    docs = load_tables(spark, sf_dir)["documents"]
    pr = G.pagerank_micro(
        _cooc_edges(docs),
        iters=6,
        checkpoint_dir=_scratch_dir("pr_ckpt", sf_dir, fresh=True),
    )
    return (
        pr.select("node", F.col("pr").alias("pr_micro"))
        .orderBy(F.col("pr_micro").desc(), F.col("node").asc())
        .limit(30)
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term triangle counts over the co-occurrence graph
    (graph.triangle_counts — oriented wedge join): top-20 most clustered
    terms, exact integers."""
    from codecdb_queryengine_spark.operators import graph as G

    docs = load_tables(spark, sf_dir)["documents"]
    return (
        G.triangle_counts(_cooc_edges(docs))
        .orderBy(F.col("n_tri").desc(), F.col("node").asc())
        .limit(20)
    )


_TRIANGLES_SQL = f"""
    WITH {_SQL_COOC_E.strip()},
    elt AS MATERIALIZED (SELECT src AS lo, dst AS hi FROM e WHERE src < dst),
    tri AS MATERIALIZED (
        SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
        FROM elt ab JOIN elt bc ON ab.hi = bc.lo
             JOIN elt ac ON ac.lo = ab.lo AND ac.hi = bc.hi)
    SELECT node, count(*) AS n_tri FROM (
        SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node ORDER BY n_tri DESC, node ASC LIMIT 20
"""


def docs_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 terms by document frequency (distinct docs containing the
    term).  Explode of per-doc DISTINCT tokens -> one count shuffle with
    map-side combine; TopN is a TakeOrderedAndProject, never a full sort.
    Tie-break on term keeps the result deterministic for the oracle."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(F.explode(F.array_distinct(T.tokens("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("term").asc())
        .limit(20)
    )


_DOCS_TOPTERMS_SQL = f"""
    SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM (
        SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS term FROM documents)
    GROUP BY term ORDER BY doc_freq DESC, term ASC LIMIT 20
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio over word 3-grams (duplicates kept;
    the Gopher repetition-removal signal)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.repetition_stats(docs, "text", "doc_id", k=3)


_REPETITION_SQL = f"""
    SELECT doc_id, n_shingles, n_uniq_shingles,
           CASE WHEN n_shingles > 0
                THEN 1.0 - CAST(n_uniq_shingles AS DOUBLE) / n_shingles
                ELSE 0.0 END AS dup_ratio
    FROM (
        SELECT doc_id,
               CAST(len({_sql_word_shingles_all(3)}) AS BIGINT) AS n_shingles,
               CAST(len(list_distinct({_sql_word_shingles_all(3)})) AS BIGINT)
                 AS n_uniq_shingles
        FROM documents)
"""


def docs_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token-length histogram (10-token bins) — the reporting pass a
    corpus pipeline runs after filtering; ints only, one tiny-key shuffle."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select(
            (F.floor(T.token_count("text") / 10) * 10).cast("long").alias("bin_lo")
        )
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("bin_lo")
    )


_LENGTH_HIST_SQL = f"""
    SELECT CAST(floor({_SQL_NTOK} / 10) * 10 AS BIGINT) AS bin_lo,
           count(*) AS n_docs
    FROM documents GROUP BY bin_lo ORDER BY bin_lo
"""


def docs_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Uses the log-free idf ratio idf_r = (N+1)/(df+1): every score is a
    product/quotient of integers in IEEE doubles, bit-identical across
    engines, so the ranking needs no transcendental-function agreement
    between the JVM and DuckDB's libm (ln differs in the last ulp and
    would flake the rank at near-ties).  Output is ints + strings only;
    exact score ties break on term.

    Scale: tf = one (doc_id, term) shuffle with map-side combine; df = one
    term shuffle (vocabulary-sized result, broadcast to the tf stream);
    N is a 1-row broadcast; final top-3 = row_number per doc partition.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select("doc_id", F.explode(T.tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        tok.groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    n_docs = docs.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score", F.col("tf") * (F.col("n_docs") + 1.0) / (F.col("df") + 1.0)
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            F.col("rnk").cast("long").alias("rnk"),
            "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
        )
    )


_TFIDF_SQL = f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf, df,
               tf * (n_docs + 1.0) / (df + 1.0) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT doc_id, term, tf, df,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rnk
          FROM scored)
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
    FROM r WHERE rnk <= 3
"""


def text_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the KenLM-style perplexity proxy a
    corpus quality filter runs: per document, the mean surprisal
    (-log2 p(token)) under the corpus's own MLE unigram model.  High mean
    surprisal = rare-token-heavy (gibberish / boilerplate-stripped) docs.
    Implementation + float discipline: operators/corpus.lm_scores (the
    same operator the incremental-ingest example composes).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    return C.lm_scores(docs, "text", "doc_id").orderBy("doc_id")


_LM_SCORE_SQL = f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    total AS (SELECT sum(cnt) AS total FROM counts),
    term_surp AS (
        SELECT term,
               CAST(round(1e6 * log2(CAST(total AS DOUBLE) / cnt)) AS BIGINT)
                 AS surp_micro
        FROM counts CROSS JOIN total)
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(surp_micro) AS BIGINT) AS bits_micro,
           CAST(sum(surp_micro) AS DOUBLE) / count(*) / 1e6 AS avg_bits
    FROM tok JOIN term_surp USING (term)
    GROUP BY doc_id ORDER BY doc_id
"""


def docs_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-inference-as-a-query: fasttext-style linear classifier scoring
    over the whole corpus (functions/text.classifier_logit — hashed
    bag-of-words features, integer weight fold, one exact division), the
    standard quality-classifier pass of an LLM data pipeline.  Pure
    map-side column expressions: at 100 TB this is a single scan with
    zero shuffle, and a real released weight table drops in with the
    same plan shape (hash_weight's docstring).  Value-gated end to end —
    integer weight sums and an exact-input IEEE division, so the double
    logit hashes bit-exact."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.classifier_logit("text").alias("logit"),
    ).withColumn("label", F.col("logit") > F.lit(0.0))


_CLASSIFY_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform({_SQL_TOKENS},
                    t -> ('0x' || substring(md5('w|' || t), 1, 8))::BIGINT
                         % 2001 - 1000)) AS BIGINT) AS wsum
        FROM documents)
    SELECT doc_id, n_tokens,
           CAST(wsum AS DOUBLE) / n_tokens AS logit,
           CAST(wsum AS DOUBLE) / n_tokens > 0 AS label
    FROM w
"""


def docs_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document segment-level dedup (operators/dedup.segment_dedup):
    the RefinedWeb "drop lines duplicated anywhere in the corpus" rule
    with a fixed 8-token segmenter, keep-first by (doc_id, seg_idx),
    documents rebuilt from surviving segments.  All-integer + string —
    value-gated end to end including the reconstructed text."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.segment_dedup(docs, "text", "doc_id", seg_tokens=8)


_DEDUP_SEGMENTS_SQL = f"""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    idx AS MATERIALIZED (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) AS seg_idx
        FROM tok),
    segs AS MATERIALIZED (
        SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
               array_to_string(toks[seg_idx * 8 + 1 : seg_idx * 8 + 8], ' ')
                   AS seg
        FROM idx),
    flagged AS MATERIALIZED (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY seg
                                  ORDER BY doc_id, seg_idx) = 1 AS kept
        FROM segs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                        FILTER (WHERE kept), '') AS text_dedup
    FROM flagged GROUP BY doc_id
"""


def docs_dedup_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal (operators/dedup.exact_substring_dedup):
    the surgery half of Lee et al. 2022 — every token covered by a
    duplicated 5-gram window that is not the window text's corpus-wide
    first occurrence (keep-first by (doc_id, pos)) is removed, and each
    document is rebuilt from the surviving positions in original order.
    All-integer + md5-pinned reconstructed text — value-gated end to end,
    overlap semantics included (overlapping duplicate windows remove the
    union of their covered positions, not double-count it)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.exact_substring_dedup(docs, "text", "doc_id", k=5)


_DEDUP_SUBSTRINGS_SQL = f"""
    WITH tk AS MATERIALIZED (
        SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    sp AS MATERIALIZED (
        SELECT doc_id, CAST(pos AS INT) AS pos,
               array_to_string(tk[pos + 1 : pos + 5], ' ') AS sh
        FROM (SELECT doc_id, tk,
                     unnest(CASE WHEN len(tk) >= 5
                                 THEN generate_series(0, len(tk) - 5)
                                 ELSE [] END) AS pos
              FROM tk)),
    dup_occ AS MATERIALIZED (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY sh
                                      ORDER BY doc_id, pos) AS rn
            FROM sp)
        WHERE rn >= 2),
    removed AS MATERIALIZED (
        SELECT DISTINCT doc_id, pos + d AS p
        FROM (SELECT doc_id, pos, unnest(generate_series(0, 4)) AS d
              FROM dup_occ)),
    tokpos AS MATERIALIZED (
        SELECT doc_id, CAST(p AS INT) AS p, tk[p + 1] AS tok
        FROM (SELECT doc_id, tk,
                     unnest(generate_series(0, len(tk) - 1)) AS p
              FROM tk)),
    rebuilt AS MATERIALIZED (
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS kept_ntok,
               string_agg(t.tok, ' ' ORDER BY t.p) AS clean
        FROM tokpos t
        ANTI JOIN removed r ON t.doc_id = r.doc_id AND t.p = r.p
        GROUP BY t.doc_id)
    SELECT k.doc_id,
           CAST(len(k.tk) AS BIGINT) AS n_tokens,
           CAST(len(k.tk) - coalesce(b.kept_ntok, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(b.kept_ntok, 0) AS BIGINT) AS clean_ntok,
           md5(coalesce(b.clean, '')) AS clean_md5
    FROM tk k LEFT JOIN rebuilt b USING (doc_id)
"""


def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span profiling (the measurement half of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499, at k-gram granularity): for every document, the
    fraction of its 5-token spans that occur ≥ 2 times ANYWHERE in the
    corpus (other documents or elsewhere in the same one) — the per-doc
    duplication diagnostic that decides between document-level dedup
    (dedup_minhash) and span-level surgery (docs_dedup_segments).
    dup_frac is exact integer micro-units, counts exact BIGINTs.

    Scale shape: one explode, then corpus-wide span counts as ONE
    window — COUNT() OVER (PARTITION BY span) — instead of an aggregate
    plus a join back (one span-keyed shuffle instead of three; the
    docs_novelty lesson, measured 2× there), then one per-doc
    aggregation.  Nothing quadratic; identical shape to the segment-dedup
    pipeline it complements.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    sh = docs.select(
        "doc_id",
        F.explode(T.word_shingles_all_from_tokens(T.tokens("text"), 5)).alias("sh"),
    )
    return (
        sh.withColumn("n_occ", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0)).alias("n_dup_spans"),
        )
        .withColumn(
            "dup_frac_micro", F.expr("(n_dup_spans * 1000000L) div n_spans")
        )
    )


_DUP_SPANS_SQL = f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id, unnest({_sql_word_shingles_all(5)}) AS sh FROM documents),
    cnt AS MATERIALIZED (SELECT sh, count(*) AS n_occ FROM sh GROUP BY sh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST((sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS dup_frac_micro
    FROM sh JOIN cnt USING (sh) GROUP BY doc_id
"""


def docs_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003): hash every 4-token shingle (md5_slice32 — the one
    engine-portable hash), slide a w=4 window over the hash sequence and
    keep each window's MINIMUM — the classic guarantee that any shared
    run of ≥ k+w-1 tokens between two documents shares a fingerprint.
    Gated on exact integers: the distinct-fingerprint count and the
    order-free sum of the distinct fingerprint hashes per document
    (text_fingerprint is the single-hash cousin; this is the local-match
    fingerprint set plagiarism/overlap detectors actually use).

    Scale shape: one explode + ONE hash shuffle on doc_id for the
    window-min (the same partitioning serves the final per-doc
    aggregate); no cross-document work at all until fingerprints are
    compared downstream.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    w = 4
    sh = docs.select(
        "doc_id",
        F.posexplode(
            T.word_shingles_all_from_tokens(T.tokens("text"), 4)
        ).alias("pos", "sh"),
    ).withColumn("h", T.md5_slice32("wn|", F.col("sh")))
    part = Window.partitionBy("doc_id")
    win = part.orderBy("pos").rowsBetween(0, w - 1)
    fp = (
        sh.select(
            "doc_id",
            "pos",
            F.count(F.lit(1)).over(part).alias("n_sh"),
            F.min("h").over(win).alias("wmin"),
        )
        # full windows only (the winnowing guarantee needs all w hashes)
        .filter(F.col("pos") <= F.col("n_sh") - w)
    )
    return fp.groupBy("doc_id").agg(
        F.count_distinct(F.col("wmin")).alias("n_fp"),
        F.sum_distinct(F.col("wmin")).alias("fp_sig"),
    )


_WINNOW_SQL = f"""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, {_sql_word_shingles_all(4)} AS shs FROM documents),
    pos AS MATERIALIZED (
        SELECT doc_id, unnest(generate_series(0, len(shs) - 1)) AS pos, shs
        FROM tok WHERE len(shs) > 0),
    hashed AS MATERIALIZED (
        SELECT doc_id, CAST(pos AS INT) AS pos, len(shs) AS n_sh,
               ('0x' || substring(md5('wn|' || shs[pos + 1]), 1, 8))::BIGINT AS h
        FROM pos),
    wm AS MATERIALIZED (
        SELECT doc_id, pos, n_sh,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM hashed)
    SELECT doc_id,
           CAST(count(DISTINCT wmin) AS BIGINT) AS n_fp,
           CAST(sum(DISTINCT wmin) AS BIGINT) AS fp_sig
    FROM wm WHERE pos <= n_sh - 4 GROUP BY doc_id
"""


_SEARCH_TERMS = ["hash", "scan", "merge"]


def docs_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive full-text search through the PERSISTED inverted index
    (sources/text_index): build the bucket-partitioned postings layout
    once, then answer "documents containing ALL query terms" by scanning
    only the buckets the terms hash to (plan-time static pruning) with the
    `term IN` predicate pushed to parquet.  The result is exact set
    membership — the oracle restates it directly on the corpus — so the
    gate checks the whole build→persist→prune→intersect loop."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    path = _ensure_layout(
        "text_index", sf_dir, "postings", lambda p: TI.text_index_build(docs, p)
    )
    hits = TI.text_index_search_all(spark, path, _SEARCH_TERMS)
    return docs.join(hits, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


def _search_index_sql() -> str:
    conds = " AND ".join(
        f"list_contains({_SQL_TOKENS}, '{t}')" for t in _SEARCH_TERMS
    )
    return f"SELECT doc_id, lang, source FROM documents WHERE {conds}"


_SEARCH_PHRASE = ["hash", "join"]


def docs_search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search through the POSITIONAL index layout
    (sources/text_index.text_index_build_positional): occurrences of
    phrase[i] at anchor+i joined on (doc, position) over just the phrase
    terms' pruned buckets.  The oracle restates the phrase as substring
    containment over the single-space-normalized token stream — exact,
    because whitespace tokens cannot contain the separator."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    path = _ensure_layout(
        "text_index", sf_dir, "positional",
        lambda p: TI.text_index_build_positional(docs, p),
    )
    hits = TI.text_index_search_phrase(spark, path, _SEARCH_PHRASE)
    return docs.join(hits, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


def _search_phrase_sql() -> str:
    phrase = " ".join(_SEARCH_PHRASE)
    return f"""
        SELECT doc_id, lang, source FROM documents
        WHERE contains(' ' || array_to_string({_SQL_TOKENS}, ' ') || ' ',
                       ' {phrase} ')
    """


def docs_search_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 ranked retrieval through the persisted tf layout
    (sources/text_index.text_index_search_ranked): BM25-shaped scoring
    with the rational idf (the inside of BM25's log — ln is the one
    non-correctly-rounded op, so the gated surface stays log-free; the
    docstring there has the full argument).  Every input is an exact
    integer and the score expression tree is mirrored verbatim in the
    oracle, so the double scores hash bit-exact."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    path = _ensure_layout(
        "text_index", sf_dir, "ranked",
        lambda p: TI.text_index_build_ranked(docs, p),
    )
    return TI.text_index_search_ranked(spark, path, _SEARCH_TERMS, k=10)


def _search_ranked_sql(
    k: int = 10,
    k1: float = 1.25,
    b: float = 0.75,
    src: str = "documents",
    pre_cte: str = "",
) -> str:
    want = sorted(set(_SEARCH_TERMS))
    terms_in = ", ".join(f"'{t}'" for t in want)
    cases = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN part END) AS p{i}"
        for i, t in enumerate(want)
    )
    score = " + ".join(f"coalesce(p{i}, 0.0)" for i in range(len(want)))
    return f"""
        WITH {pre_cte}tok AS MATERIALIZED (
            SELECT doc_id, {_SQL_TOKENS} AS toks FROM {src}),
        dl AS MATERIALIZED (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
        st AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS MATERIALIZED (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
            WHERE term IN ({terms_in})
            GROUP BY doc_id, term),
        f AS MATERIALIZED (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        parts AS MATERIALIZED (
            SELECT t.doc_id, t.term,
                   ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
                    / (CAST(f.df AS DOUBLE) + 0.5))
                   * ((CAST(t.tf AS DOUBLE) * {k1 + 1.0})
                      / (CAST(t.tf AS DOUBLE)
                         + {k1} * ({1.0 - b} + {b}
                             * (CAST(d.dl AS DOUBLE)
                                / (CAST(s.sum_dl AS DOUBLE)
                                   / CAST(s.n_docs AS DOUBLE)))))) AS part
            FROM tf t
            JOIN dl d ON d.doc_id = t.doc_id
            JOIN f ON f.term = t.term
            CROSS JOIN st s),
        agg AS MATERIALIZED (
            SELECT doc_id, {cases} FROM parts GROUP BY doc_id)
        SELECT doc_id, {score} AS score
        FROM agg ORDER BY score DESC, doc_id ASC LIMIT {k}
    """


# Mutation slices for the text-index lifecycle gates.  Two generations:
# gen 1 APPENDS the search terms to the %13==7 docs (every one must match
# afterwards); gen 2 strips 'hash' from the %13==9 docs (matching docs in
# that slice must DROP OUT — the stale-base-postings direction), deletes
# the %13==4 slice, and deletes %26==7 — half the docs gen 1 just updated,
# so a later generation must supersede an earlier one's delta rows.
_TI_DEL = "(doc_id % 13 = 4 OR doc_id % 26 = 7)"
_TI_ADD = "(doc_id % 13 = 7)"
_TI_REPL = "(doc_id % 13 = 9)"
_TI_ADD_TEXT = " hash scan merge"

_TI_MUTATED_CTE = f"""mutated AS MATERIALIZED (
            SELECT doc_id, lang, source,
                   CASE WHEN {_TI_ADD} THEN text || '{_TI_ADD_TEXT}'
                        WHEN {_TI_REPL} THEN replace(text, 'hash', 'quorum')
                        ELSE text END AS text
            FROM documents WHERE NOT {_TI_DEL}),"""


def _text_index_mutate(spark: SparkSession, sf_dir: str, path: str):
    """Build-agnostic two-generation mutation against whatever layouts are
    persisted at `path`; returns the documents frame for the caller's
    post-search join."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    TI.text_index_upsert(
        path,
        updates=docs.filter(F.expr(_TI_ADD)).select(
            "doc_id", F.concat("text", F.lit(_TI_ADD_TEXT)).alias("text")
        ),
    )
    TI.text_index_upsert(
        path,
        updates=docs.filter(F.expr(_TI_REPL)).select(
            "doc_id", F.replace("text", F.lit("hash"), F.lit("quorum")).alias("text")
        ),
        delete_ids=docs.filter(F.expr(_TI_DEL)).select("doc_id"),
    )
    return docs


def docs_search_upserted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document UPDATE + DELETE through the persisted inverted index
    (sources/text_index.text_index_upsert — the text analog of the ANN
    index's r8 mutation lifecycle): the postings layout is built over the
    full corpus, then two mutation generations run through the base+delta+
    tombstone protocol (docstring there) — gen 1 appends the search terms
    to one doc slice, gen 2 strips 'hash' from another, deletes a third,
    and deletes half the docs gen 1 updated.  The conjunctive search then
    serves through the overlay: base postings minus mutated docs plus the
    LATEST live generation's delta rows, with bucket pruning and term
    pushdown hitting both scans.  The oracle restates the search over a
    mutated-corpus CTE, so a resurrected deleted doc, a stale pre-update
    posting, a missing delta row, or an older generation leaking past a
    newer one each flip the hash."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    path = _scratch_dir("text_index_upsert", sf_dir, fresh=True)
    TI.text_index_build(docs, path)
    _text_index_mutate(spark, sf_dir, path)
    hits = TI.text_index_search_all(spark, path, _SEARCH_TERMS)
    return docs.join(hits, "doc_id", "left_semi").select("doc_id", "lang", "source")


def _search_upserted_sql() -> str:
    conds = " AND ".join(
        f"list_contains({_SQL_TOKENS}, '{t}')" for t in _SEARCH_TERMS
    )
    return f"""
        WITH {_TI_MUTATED_CTE.rstrip(",")}
        SELECT doc_id, lang, source FROM mutated WHERE {conds}
    """


def docs_search_purged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PURGE folds the mutation overlay back into the base layouts (the
    LSM major compaction — sources/text_index.text_index_purge): both the
    boolean and the BM25 ranked layouts are built, the same two mutation
    generations applied, then the purge rewrites every base from its own
    overlay through the journaled whole-layout swap and drops docgen and
    the delta directories (asserted gone).  The gate then serves the
    RANKED top-10 over the purged layout — tf and doclens folds included —
    against the bit-exact BM25 oracle over the mutated corpus.  The
    pre/post-purge BOOLEAN parity check (overlay and folded base must be
    the same relation) lives in tests/test_text_index.py since r11
    (verdict item 7): executing the boolean serving plan twice inside the
    gate purely for an assert double-charged ~5 s of the timed lifecycle
    without gating anything the ranked oracle doesn't already."""
    import os as _os

    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    path = _scratch_dir("text_index_purge", sf_dir, fresh=True)
    # one tokenization pass builds both serving layouts (the 100-TB form:
    # N layouts should never mean N corpus scans)
    TI.text_index_build_all(docs, path, layouts=("postings", "postings_tf"))
    _text_index_mutate(spark, sf_dir, path)
    folded = TI.text_index_purge(spark, path)
    assert sorted(folded) == ["postings", "postings_tf"], folded
    assert not _os.path.exists(TI._docgen_path(path)), "docgen survived purge"
    assert not _os.path.exists(TI._delta_root(path, "postings")), "delta survived"
    assert not _os.path.exists(TI._delta_root(path, "doclens")), "doclens delta survived"
    return TI.text_index_search_ranked(spark, path, _SEARCH_TERMS, k=10)


def docs_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (operators/corpus.
    chunk_sliding — 32-token windows, stride 24): the RAG / long-context
    prep that turns documents into retrieval-sized windows.  Gated at
    FULL row grain — every chunk's (start, end, token count) plus the
    md5 of its reassembled text — so an off-by-one in the window
    arithmetic, a dropped short tail, or a slice boundary error flips
    the hash.  Pure explode(sequence) over token arrays: rows scale with
    Σ n_tokens/stride, no shuffle."""
    from codecdb_queryengine_spark.operators import corpus as C

    docs = load_tables(spark, sf_dir)["documents"]
    out = C.chunk_sliding(docs, chunk_tokens=32, stride=24)
    return out.select(
        "doc_id",
        "chunk_id",
        "start",
        "end",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_digest"),
    ).orderBy("doc_id", "chunk_id")


def _chunk_overlap_sql(chunk_tokens: int = 32, stride: int = 24) -> str:
    return f"""
        WITH tk AS MATERIALIZED (
            SELECT doc_id, {_SQL_TOKENS} AS toks,
                   CAST(len({_SQL_TOKENS}) AS BIGINT) AS n
            FROM documents
            WHERE text IS NOT NULL),
        st AS (
            SELECT doc_id, toks, n,
                   unnest(range(0, greatest(n, 1), {stride})) AS start
            FROM tk)
        SELECT doc_id,
               CAST(start // {stride} AS BIGINT) AS chunk_id,
               CAST(start AS BIGINT) AS start,
               CAST(start + least({chunk_tokens}, n - start) AS BIGINT) AS "end",
               CAST(least({chunk_tokens}, n - start) AS BIGINT) AS n_chunk_tokens,
               md5(array_to_string(
                   toks[CAST(start + 1 AS BIGINT)
                        : CAST(start + least({chunk_tokens}, n - start) AS BIGINT)],
                   ' ')) AS chunk_digest
        FROM st ORDER BY doc_id, chunk_id
    """


_HYBRID_K, _HYBRID_FUSE_K, _HYBRID_RRF = 20, 10, 60


def docs_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — the composition a corpus-serving stack actually
    runs: BM25 top-20 through the persisted ranked text layout joined
    with exact-cosine top-20 for a query embedding, fused by Reciprocal
    Rank Fusion (Cormack, Clarke & Buettcher 2009: score(d) =
    Σ 1/(c + rank_d), c=60) over doc_id == vec_id identity.  RRF uses
    only the two integer ranks, and 1.0/(60+rk) is a single IEEE
    division summed in fixed (text, vector) order, so the fused doubles
    hash bit-exact; the oracle replays both searches and the fusion.
    Scale shape: each leg keeps its own serving contract (bucket-pruned
    postings; brute-force over ONE broadcast query), the fusion is a
    20∪20-row full outer join, and the final top-10 is a
    TakeOrderedAndProject.  The text-leg rank runs through the batch
    ranker with a one-query batch (r9): same scores, same (score desc,
    doc_id) order, but the rank window is PARTITIONED by q_id — no
    global window remains anywhere in the surface, so the audit's
    no-partition-less-WindowExec invariant needs no whitelist."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _ensure_layout(
        "text_index", sf_dir, "ranked",
        lambda p: TI.text_index_build_ranked(docs, p),
    )
    bm = TI.text_index_search_ranked_batch(
        spark, path, [(0, _SEARCH_TERMS)], k=_HYBRID_K
    ).select("doc_id", F.col("rk").alias("rk_t"))
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vv = S.brute_force_topk(emb, qv, k=_HYBRID_K).select(
        F.col("n_id").alias("doc_id"), F.col("rk").alias("rk_v")
    )
    c = float(_HYBRID_RRF)
    fused = bm.join(vv, "doc_id", "full_outer").select(
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rk_t")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rk_v")), F.lit(0.0))
        ).alias("rrf"),
        "rk_t",
        "rk_v",
    )
    return fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc()).limit(
        _HYBRID_FUSE_K
    )


def _hybrid_search_sql() -> str:
    ranked = _search_ranked_sql(k=_HYBRID_K)
    c = _HYBRID_RRF
    return f"""
        WITH bm_raw AS ({ranked}),
        bm AS (
            SELECT doc_id,
                   CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk_t
            FROM bm_raw),
        nv AS (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
            FROM embeddings),
        vv AS (
            SELECT n_id AS doc_id, rk AS rk_v FROM (
                SELECT n.vec_id AS n_id,
                       CAST(row_number() OVER (
                           ORDER BY ({_sql_dot('q.embedding', 'n.embedding', 64)})
                                    / (q.nrm * n.nrm) DESC,
                                    n.vec_id ASC) AS BIGINT) AS rk
                FROM nv q JOIN nv n ON n.vec_id <> 0
                WHERE q.vec_id = 0)
            WHERE rk <= {_HYBRID_K})
        SELECT coalesce(bm.doc_id, vv.doc_id) AS doc_id,
               coalesce(1.0 / ({c} + rk_t), 0.0)
                 + coalesce(1.0 / ({c} + rk_v), 0.0) AS rrf,
               rk_t, rk_v
        FROM bm FULL OUTER JOIN vv ON bm.doc_id = vv.doc_id
        ORDER BY rrf DESC, doc_id ASC LIMIT {_HYBRID_FUSE_K}
    """


# The in-flight batch for docs_hybrid_search_batch: 8 concurrent hybrid
# queries — query i pairs the embedding vec_id=i with its own term set
# (drawn from the synthetic corpus vocabulary, so every text leg matches).
_HYBRID_BATCH: list[tuple[int, list[str]]] = [
    (0, ["hash", "join"]),
    (1, ["scan", "filter"]),
    (2, ["merge", "sort"]),
    (3, ["vector", "stream"]),
    (4, ["window", "group"]),
    (5, ["batch", "row"]),
    (6, ["column", "table"]),
    (7, ["query", "fast", "slow"]),
]


def docs_hybrid_search_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH hybrid retrieval (r8 verdict item 3 — docs_hybrid_search
    serves exactly one query): 8 concurrent queries, each fusing its own
    BM25 term set with its own query embedding by per-query RRF.  The
    text legs run as ONE pass over the persisted ranked layout
    (text_index_search_ranked_batch: postings pruned once to the union
    term set, broadcast (q_id, term) fan-out, Window.partitionBy(q_id)
    ranks); the vector legs are one brute-force pass (8 broadcast
    queries × all vectors — sim_topk's cost model); the fusion is a
    (q_id, doc_id) full outer join and a PARTITIONED top-10 rank per
    query.  No partition-less window anywhere — the batch form retires
    the single-query gate's whitelisted bounded global rank.  RRF
    doubles hash bit-exact for the single-query gate's reason: two
    integer ranks, one IEEE division each, summed in fixed (text,
    vector) order."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]
    emb = load_tables(spark, sf_dir)["embeddings"]
    path = _ensure_layout(
        "text_index", sf_dir, "ranked",
        lambda p: TI.text_index_build_ranked(docs, p),
    )
    bm = TI.text_index_search_ranked_batch(
        spark, path, _HYBRID_BATCH, k=_HYBRID_K
    ).select("q_id", "doc_id", F.col("rk").alias("rk_t"))
    qv = emb.filter(F.col("vec_id") < len(_HYBRID_BATCH)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    vv = S.brute_force_topk(emb, qv, k=_HYBRID_K).select(
        "q_id",
        F.col("n_id").alias("doc_id"),
        F.col("rk").cast("long").alias("rk_v"),
    )
    c = float(_HYBRID_RRF)
    fused = bm.join(vv, ["q_id", "doc_id"], "full_outer").select(
        "q_id",
        "doc_id",
        (
            F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rk_t")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(c) + F.col("rk_v")), F.lit(0.0))
        ).alias("rrf"),
        "rk_t",
        "rk_v",
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _HYBRID_FUSE_K)
        .orderBy("q_id", "rk")
    )


def _hybrid_batch_sql(k1: float = 1.25, b: float = 0.75) -> str:
    union_terms = sorted({t for _, ts in _HYBRID_BATCH for t in ts})
    terms_in = ", ".join(f"'{t}'" for t in union_terms)
    qvals = ", ".join(
        f"({q}, '{t}')" for q, ts in sorted(_HYBRID_BATCH) for t in sorted(set(ts))
    )
    cases = ", ".join(
        f"max(CASE WHEN p.term = '{t}' THEN part END) AS p{i}"
        for i, t in enumerate(union_terms)
    )
    score = " + ".join(f"coalesce(p{i}, 0.0)" for i in range(len(union_terms)))
    nq = len(_HYBRID_BATCH)
    c = _HYBRID_RRF
    return f"""
        WITH qs(q_id, term) AS (SELECT * FROM (VALUES {qvals})),
        tok AS MATERIALIZED (
            SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
        dl AS MATERIALIZED (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
        st AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS MATERIALIZED (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
            WHERE term IN ({terms_in})
            GROUP BY doc_id, term),
        f AS MATERIALIZED (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        parts AS MATERIALIZED (
            SELECT t.doc_id, t.term,
                   ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
                    / (CAST(f.df AS DOUBLE) + 0.5))
                   * ((CAST(t.tf AS DOUBLE) * {k1 + 1.0})
                      / (CAST(t.tf AS DOUBLE)
                         + {k1} * ({1.0 - b} + {b}
                             * (CAST(d.dl AS DOUBLE)
                                / (CAST(s.sum_dl AS DOUBLE)
                                   / CAST(s.n_docs AS DOUBLE)))))) AS part
            FROM tf t
            JOIN dl d ON d.doc_id = t.doc_id
            JOIN f ON f.term = t.term
            CROSS JOIN st s),
        agg AS MATERIALIZED (
            SELECT q.q_id, p.doc_id, {cases}
            FROM parts p JOIN qs q ON q.term = p.term
            GROUP BY q.q_id, p.doc_id),
        bm AS MATERIALIZED (
            SELECT q_id, doc_id, rk_t FROM (
                SELECT q_id, doc_id,
                       CAST(row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY {score} DESC, doc_id ASC) AS BIGINT) AS rk_t
                FROM agg)
            WHERE rk_t <= {_HYBRID_K}),
        nv AS MATERIALIZED (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
            FROM embeddings),
        vv AS MATERIALIZED (
            SELECT q_id, doc_id, rk_v FROM (
                SELECT q.vec_id AS q_id, n.vec_id AS doc_id,
                       CAST(row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ({_sql_dot('q.embedding', 'n.embedding', 64)})
                                    / (q.nrm * n.nrm) DESC,
                                    n.vec_id ASC) AS BIGINT) AS rk_v
                FROM nv q JOIN nv n ON q.vec_id <> n.vec_id
                WHERE q.vec_id < {nq})
            WHERE rk_v <= {_HYBRID_K}),
        fused AS (
            SELECT coalesce(bm.q_id, vv.q_id) AS q_id,
                   coalesce(bm.doc_id, vv.doc_id) AS doc_id,
                   coalesce(1.0 / ({c} + rk_t), 0.0)
                     + coalesce(1.0 / ({c} + rk_v), 0.0) AS rrf,
                   rk_t, rk_v
            FROM bm
            FULL OUTER JOIN vv ON bm.q_id = vv.q_id AND bm.doc_id = vv.doc_id)
        SELECT q_id, doc_id, rrf, rk_t, rk_v, rk FROM (
            SELECT q_id, doc_id, rrf, rk_t, rk_v,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rk
            FROM fused)
        WHERE rk <= {_HYBRID_FUSE_K} ORDER BY q_id, rk
    """


def docs_search_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The text index's CACHED serving path under the value gate (the
    sim_ann_ivf_cached twin): cached=True memoizes the resolved overlay
    plan + bucket count across queries of a long-lived serving process,
    so the staleness hazard is invalidation discipline — the gate serves
    cached BEFORE the mutations (populating the cache), applies the two
    standard mutation generations (each upsert invalidates its layout),
    and serves cached again; the verbatim docs_search_upserted oracle
    fails the round if the second serve answers from the pre-mutation
    plan."""
    from codecdb_queryengine_spark.sources import text_index as TI

    docs = load_tables(spark, sf_dir)["documents"]

    def build(path: str) -> None:
        TI.text_index_build(docs, path)
        TI.text_index_search_all(spark, path, _SEARCH_TERMS, cached=True).collect()
        _text_index_mutate(spark, sf_dir, path)

    # the whole build→cached-serve→mutate staleness drill is the closure
    # (terminal mutated state is what repeat serves read) — the
    # invalidation protocol stays value-gated wherever the fixture is off
    path = _ensure_layout("text_index_cached", sf_dir, "cached", build, fresh=True)
    hits = TI.text_index_search_all(spark, path, _SEARCH_TERMS, cached=True)
    return docs.join(hits, "doc_id", "left_semi").select("doc_id", "lang", "source")


def docs_stream_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC into the text index (streaming/sinks.stream_apply_text_
    mutations): the SAME two mutation generations as docs_search_upserted
    arrive as a stream of (op, doc_id, text) events — two files, mtime-
    ordered, one micro-batch each (maxFilesPerTrigger=1) — and a
    foreachBatch applier turns each committed batch into one generation
    of the base+delta+tombstone protocol, serving staying live between
    batches with no base rewrite.  The drained index answers the
    conjunctive search under the VERBATIM docs_search_upserted oracle, so
    batch mis-ordering, a lost event, or a generation applied twice with
    the wrong content flips the hash."""
    import time as _time

    from pyspark.sql import types as PT

    from codecdb_queryengine_spark.sources import text_index as TI
    from codecdb_queryengine_spark.streaming import sinks as SK

    docs = load_tables(spark, sf_dir)["documents"]
    base = _scratch_dir("text_index_cdc", sf_dir, fresh=True)
    path = os.path.join(base, "index")
    TI.text_index_build(docs, path)

    # stage the mutation stream: one file per generation, mtimes ordered
    # so the file source (sorted by modification time) replays gen 1
    # before gen 2
    src = os.path.join(base, "mutations")
    gen1 = docs.filter(F.expr(_TI_ADD)).select(
        F.lit("u").alias("op"),
        "doc_id",
        F.concat("text", F.lit(_TI_ADD_TEXT)).alias("text"),
    )
    gen2 = (
        docs.filter(F.expr(_TI_REPL))
        .select(
            F.lit("u").alias("op"),
            "doc_id",
            F.replace("text", F.lit("hash"), F.lit("quorum")).alias("text"),
        )
        .unionByName(
            docs.filter(F.expr(_TI_DEL)).select(
                F.lit("d").alias("op"), "doc_id", F.lit(None).cast("string").alias("text")
            )
        )
    )
    now = _time.time()
    for i, g in enumerate((gen1, gen2)):
        tmp = os.path.join(base, f"mut{i}")
        g.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet") and not f.startswith(".")
        )
        os.makedirs(src, exist_ok=True)
        dst = os.path.join(src, f"{i:03d}_gen.parquet")
        os.rename(os.path.join(tmp, part), dst)
        os.utime(dst, (now + i, now + i))

    schema = PT.StructType(
        [
            PT.StructField("op", PT.StringType()),
            PT.StructField("doc_id", PT.LongType()),
            PT.StructField("text", PT.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = SK.stream_apply_text_mutations(stream, path, os.path.join(base, "ckpt"))
    q.awaitTermination()
    dg = TI._read_docgen(spark, path)
    n_gens = dg.agg(F.max("gen")).first()[0]
    assert n_gens == 2, f"expected 2 streamed generations, docgen has {n_gens}"
    hits = TI.text_index_search_all(spark, path, _SEARCH_TERMS)
    return docs.join(hits, "doc_id", "left_semi").select("doc_id", "lang", "source")


def docs_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary ingestion through Spark's `binaryFile` source — the
    entry point every multimodal pipeline starts from (raw image/audio
    blobs on disk → DataFrame of payload bytes): each document's text is
    materialized as a standalone .bin file from the EXECUTORS (mapInPandas
    batch writer — one task per partition, the distributed shape; a
    cluster run points the same writer at shared storage), the directory
    is read back with `spark.read.format("binaryFile")`, and the gate
    pins filename-derived ids, byte lengths and content md5 against an
    oracle recomputing all three from the source table — write→list→
    read→decode verified end to end with no trust in the writer.
    """
    import pandas as pd

    docs = load_tables(spark, sf_dir)["documents"]
    path = _scratch_dir("binfiles", sf_dir)

    def _write(batches):
        for pdf in batches:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                fname = os.path.join(path, f"doc_{int(doc_id):06d}.bin")
                with open(fname, "wb") as f:
                    f.write(str(text).encode("utf-8"))
            yield pd.DataFrame({"n": [len(pdf)]})

    docs.filter(F.col("text").isNotNull()).select("doc_id", "text").mapInPandas(
        _write, "n long"
    ).agg(F.sum("n")).collect()
    bf = spark.read.format("binaryFile").load(path)
    return bf.select(
        F.regexp_extract(
            F.col("path"), r"doc_(\d+)\.bin$", 1
        ).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("digest"),
    )


_BINARYFILE_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents WHERE text IS NOT NULL
"""


def docs_io_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-connector round-trips under the value gate: the
    documents table is WRITTEN as csv, json, orc and xml (sources/io.write) and
    READ back (sources/io.read with an explicit schema), then each
    round-tripped frame is summarized per source — counts, char sums, id
    extremes, and a content signature (Σ md5-slice of the text) that any
    single-character corruption in quoting/escaping/encoding would flip.
    The oracle computes the same summary straight from the parquet, once
    per format — so a gate pass proves both text connectors preserve the
    data byte-for-byte."""
    from codecdb_queryengine_spark.sources import io as IO

    docs = load_tables(spark, sf_dir)["documents"]
    base = _scratch_dir("io_roundtrip", sf_dir)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    out = None
    for fmt in ("csv", "json", "orc", "xml"):
        path = os.path.join(base, fmt)
        IO.write(docs.select("doc_id", "text", "lang", "source", "n_chars"), path, fmt=fmt)
        back = IO.read(spark, path, fmt=fmt, schema=schema)
        summary = back.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(T.md5_slice32("io|", F.col("text"))).alias("text_sig"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        ).withColumn("fmt", F.lit(fmt))
        out = summary if out is None else out.unionByName(summary)
    return out


_IO_ROUNDTRIP_SQL = """
    WITH s AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(('0x' || substring(md5('io|' || text), 1, 8))::BIGINT)
                    AS BIGINT) AS text_sig,
               min(doc_id) AS min_id,
               max(doc_id) AS max_id
        FROM documents GROUP BY source)
    SELECT s.*, f.fmt
    FROM s CROSS JOIN (SELECT unnest(['csv', 'json', 'orc', 'xml']) AS fmt) f
"""


def docs_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the value gate: the documents table is
    deliberately written as 32 small files, compacted in place
    (sources/io.compact — rewrite into ~target-size files with an atomic
    directory swap), and the compacted table is summarized per source
    with the docs_io_roundtrip content signature.  A pass proves the
    maintenance operation every streaming sink needs at 100 TB is
    content-preserving; the file-count mechanics are pinned separately in
    tests/test_extensions.py."""
    from codecdb_queryengine_spark.sources import io as IO

    docs = load_tables(spark, sf_dir)["documents"]
    base = _scratch_dir("compact_roundtrip", sf_dir)
    path = os.path.join(base, "docs")
    (
        docs.select("doc_id", "text", "lang", "source", "n_chars")
        .repartition(32)
        .write.mode("overwrite")
        .parquet(path)
    )
    IO.compact(spark, path, target_file_bytes=1 << 30)
    back = spark.read.parquet(path)
    return back.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(T.md5_slice32("io|", F.col("text"))).alias("text_sig"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


_COMPACT_ROUNDTRIP_SQL = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(('0x' || substring(md5('io|' || text), 1, 8))::BIGINT)
                AS BIGINT) AS text_sig,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents GROUP BY source
"""


def docs_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus indexing: documents arrive as a stream, postings
    are derived IN-STREAM (sources/text_index.postings_of is a stateless
    projection + explode, so it runs unchanged on a streaming frame) and
    appended EXACTLY-ONCE into the bucket-partitioned postings layout
    (file-sink commit log); the drained index then answers the standard
    conjunctive search through the plan-time bucket-pruned read path —
    the text twin of emb_stream_index_ingest, gated by the same
    docs_search_index oracle."""
    from codecdb_queryengine_spark.sources import io as IO
    from codecdb_queryengine_spark.sources import text_index as TI
    from codecdb_queryengine_spark.streaming import events as E
    from codecdb_queryengine_spark.streaming import sinks as SK

    docs = load_tables(spark, sf_dir)["documents"]
    # fresh: the file sink's commit log must not see a prior invocation's
    # ingested postings or the stream would (correctly) append nothing new
    base = _scratch_dir("text_stream_index", sf_dir, fresh=True)
    stream = E.read_table_stream(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    postings = TI.postings_of(stream)
    q = SK.stream_to_parquet(
        postings,
        os.path.join(base, "postings"),
        os.path.join(base, "ckpt"),
        partition_by=("t_bucket",),
        n_write_tasks=IO.write_task_count(spark, 32, TI.BUCKETS_PER_WRITE_TASK),
    )
    q.awaitTermination()
    TI._write_meta(spark, base, 32)
    hits = TI.text_index_search_all(spark, base, _SEARCH_TERMS)
    return docs.join(hits, "doc_id", "left_semi").select(
        "doc_id", "lang", "source"
    )


def docs_upsert_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style corpus maintenance under the value gate (sources/io.
    upsert_partitioned): the documents table is persisted partitioned by
    lang (version 0), then one update batch — revisions of the en docs
    with doc_id % 7 == 0 plus brand-new en docs minted above max(doc_id)
    from the % 13 slice, all version 1 — is upserted latest-wins.  ONLY
    the touched partition (en) is read and rewritten; the other four lang
    partitions must come through byte-identical, pinned by the
    `untouched_intact` contract column (file inventory compared
    before/after) next to `parts_rewritten` = 1.  The oracle rebuilds the
    merged corpus directly from the documents table, so the per-lang
    counts, version sums, id range and the post-merge text signature all
    hash bit-exact — a lost update, a double-applied revision, or an
    upsert that leaked into an untouched partition each flip a column."""
    from codecdb_queryengine_spark.sources import io as IO

    docs = load_tables(spark, sf_dir)["documents"]
    base = _scratch_dir("docs_upsert", sf_dir, fresh=True)
    path = os.path.join(base, "docs")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    docs.select(*cols).withColumn("version", F.lit(0).cast("long")).write.mode(
        "overwrite"
    ).partitionBy("lang").parquet(path)

    def _inventory(lang_dirs: list[str]) -> dict[str, list[str]]:
        return {
            d: sorted(os.listdir(os.path.join(path, d))) for d in lang_dirs
        }

    untouched_dirs = [
        d
        for d in sorted(os.listdir(path))
        if d.startswith("lang=") and d != "lang=en"
    ]
    inv_before = _inventory(untouched_dirs)
    max_plus_1 = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    en = docs.filter(F.col("lang") == "en")
    revisions = en.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(F.lit("UPD "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
        F.lit(1).cast("long").alias("version"),
    )
    inserts = en.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + F.lit(max_plus_1)).alias("doc_id"),
        F.concat(F.lit("NEW "), F.col("text")).alias("text"),
        "lang",
        "source",
        "n_chars",
        F.lit(1).cast("long").alias("version"),
    )
    n_rewritten = IO.upsert_partitioned(
        spark,
        path,
        revisions.unionByName(inserts),
        key_cols=("doc_id",),
        partition_col="lang",
        order_col="version",
    )
    intact = _inventory(untouched_dirs) == inv_before
    back = spark.read.parquet(path)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("version").alias("n_v1"),
            F.sum(T.md5_slice32("up|", F.col("text"))).alias("text_sig"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .withColumn("untouched_intact", F.lit(intact))
        .withColumn("parts_rewritten", F.lit(n_rewritten).cast("long"))
    )


_DOCS_UPSERT_SQL = """
    WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
    merged AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' AND doc_id % 7 = 0
                    THEN 'UPD ' || text ELSE text END AS text,
               lang,
               CASE WHEN lang = 'en' AND doc_id % 7 = 0
                    THEN 1 ELSE 0 END AS version
        FROM documents
        UNION ALL
        SELECT doc_id + m AS doc_id, 'NEW ' || text AS text, lang, 1 AS version
        FROM documents, mx WHERE lang = 'en' AND doc_id % 13 = 0)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(version) AS BIGINT) AS n_v1,
           CAST(sum(('0x' || substring(md5('up|' || text), 1, 8))::BIGINT)
                AS BIGINT) AS text_sig,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id,
           TRUE AS untouched_intact,
           CAST(1 AS BIGINT) AS parts_rewritten
    FROM merged GROUP BY lang
"""


def docs_stream_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed-index COMPACTION under the value gate (r6 verdict item 5):
    the exactly-once micro-batch ingest of docs_stream_index_ingest
    accumulates small files per trigger — the classic 100-TB killer — so
    this entry ingests the corpus as FOUR micro-batches (staged as four
    input files, maxFilesPerTrigger=1), compacts the postings layout with
    sources/io.compact_partitioned (per-partition rewrite that KEEPS the
    t_bucket directory partitioning, atomic swap), and proves the
    maintenance pass is content-preserving: the post-compaction
    bucket-pruned search result is gated by the same docs_search_index
    oracle, with a `files_shrunk` contract column pinning that the data
    file count actually went down (the oracle states TRUE — a compaction
    that failed to shrink flips the hash)."""
    from codecdb_queryengine_spark.sources import io as IO
    from codecdb_queryengine_spark.sources import text_index as TI
    from codecdb_queryengine_spark.streaming import sinks as SK

    docs = load_tables(spark, sf_dir)["documents"]
    base = _scratch_dir("text_stream_index_compact", sf_dir, fresh=True)
    # stage the corpus as 4 files => 4 micro-batches through the sink
    staged = os.path.join(base, "in")
    docs.select("doc_id", "text").repartition(4).write.mode("overwrite").parquet(
        staged
    )
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .filter(F.col("text").isNotNull())
    )
    postings_path = os.path.join(base, "postings")
    q = SK.stream_to_parquet(
        TI.postings_of(stream),
        postings_path,
        os.path.join(base, "ckpt"),
        partition_by=("t_bucket",),
        n_write_tasks=IO.write_task_count(spark, 32, TI.BUCKETS_PER_WRITE_TASK),
    )
    q.awaitTermination()
    TI._write_meta(spark, base, 32)
    files_before = IO.data_file_count(postings_path)
    IO.compact_partitioned(
        spark, postings_path, partition_by=("t_bucket",), target_file_bytes=1 << 30
    )
    files_after = IO.data_file_count(postings_path)
    hits = TI.text_index_search_all(spark, base, _SEARCH_TERMS)
    return (
        docs.join(hits, "doc_id", "left_semi")
        .select("doc_id", "lang", "source")
        .withColumn("files_shrunk", F.lit(files_after < files_before))
    )


def docs_stream_compact_selective(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SELECTIVE compaction (r7 verdict item 2): a streaming
    ingest fragments only the partitions it lands in, and rewriting the
    whole layout every maintenance pass is O(corpus) — at 100 TB the
    compactor must be O(touched).  The corpus is staged so the en docs
    arrive as FOUR micro-batches and every other language as one
    (maxFilesPerTrigger=1 through the exactly-once file sink, partitioned
    by lang): only lang=en accumulates a small-file pile.
    io.compact_partitioned_selective(min_files=3) must then select and
    rewrite ONLY that directory — reads proportional to the fragmented
    partition, journaled two-phase swap — while every other partition
    comes through byte-identical (file inventory compared before/after,
    `untouched_intact`), the en file count actually drops
    (`files_shrunk`), and the selection is exactly lang=en
    (`only_en_compacted`).  The oracle restates the per-lang corpus
    aggregates from the documents table, so a row lost or duplicated by
    the selective rewrite flips the hash alongside the contract
    columns."""
    from codecdb_queryengine_spark.sources import io as IO
    from codecdb_queryengine_spark.streaming import sinks as SK

    docs = load_tables(spark, sf_dir)["documents"]
    base = _scratch_dir("docs_sel_compact", sf_dir, fresh=True)
    staged = os.path.join(base, "in")
    cols = ["doc_id", "text", "lang"]
    docs.filter(F.col("lang") == "en").select(*cols).repartition(4).write.mode(
        "overwrite"
    ).parquet(staged)
    docs.filter(F.col("lang") != "en").select(*cols).coalesce(1).write.mode(
        "append"
    ).parquet(staged)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    sink = os.path.join(base, "docs")
    q = SK.stream_to_parquet(
        stream, sink, os.path.join(base, "ckpt"), partition_by=("lang",)
    )
    q.awaitTermination()

    def _inventory(skip: str) -> dict[str, list[tuple[str, int]]]:
        out = {}
        for d in sorted(os.listdir(sink)):
            if d.startswith("lang=") and d != skip:
                full = os.path.join(sink, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if not f.startswith((".", "_"))
                )
        return out

    def _en_files() -> int:
        d = os.path.join(sink, "lang=en")
        return sum(1 for f in os.listdir(d) if not f.startswith((".", "_")))

    inv_before = _inventory("lang=en")
    en_before = _en_files()
    done = IO.compact_partitioned_selective(
        spark, sink, partition_by=("lang",), min_files=3,
        target_file_bytes=1 << 30,
    )
    only_en = done == ["lang=en"]
    intact = _inventory("lang=en") == inv_before
    shrunk = _en_files() < en_before
    back = spark.read.parquet(sink)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(T.md5_slice32("sc|", F.col("text"))).alias("text_sig"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .withColumn("only_en_compacted", F.lit(only_en))
        .withColumn("untouched_intact", F.lit(intact))
        .withColumn("files_shrunk", F.lit(shrunk))
    )


_DOCS_SEL_COMPACT_SQL = """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(('0x' || substring(md5('sc|' || text), 1, 8))::BIGINT)
                AS BIGINT) AS text_sig,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id,
           TRUE AS only_en_compacted,
           TRUE AS untouched_intact,
           TRUE AS files_shrunk
    FROM documents GROUP BY lang
"""


def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payloads through the VARIANT type (Spark 4's
    open-ended JSON column): parse_json materializes the payload as a
    typed variant once, variant_get extracts a strongly-typed field,
    try_variant_get returns NULL (instead of raising) for a path that
    does not exist, and to_json round-trips the variant to canonical
    text — the schema-on-write pass events_json_props' docstring
    prescribes for hot pipelines, value-gated row by row.

    Scale shape: pure scan-side expressions inside whole-stage codegen;
    a production pipeline writes the variant column once and every
    downstream query skips the re-parse.
    """
    ev = load_tables(spark, sf_dir)["events"]
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'long')").alias("k"),
        F.expr("try_variant_get(parse_json(props), '$.absent', 'long')").alias(
            "missing"
        ),
        F.to_json(v).alias("props_canon"),
    )


_VARIANT_SQL = """
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(NULL AS BIGINT) AS missing,
           regexp_replace(props, '": ', '":') AS props_canon
    FROM events
"""


def events_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count maintenance with DataSketches HLL (the
    Spark 4 hll_sketch_agg / hll_union_agg surface): per-day user
    sketches built in one pass, the corpus-wide distinct estimated by
    MERGING the daily sketches — never rescanning raw data — and every
    estimate gated through its CONTRACT against the exact distinct count
    (the ext_approx_distinct discipline: exact integers + bound-held
    booleans; sketch bytes are engine-specific, the bound is not).

    Scale shape: this is the 100-TB distinct-count story — daily
    partitions maintain kilobyte sketches incrementally; rollups to any
    coarser grain are sketch unions, constant work per merged partition.
    The exact distinct counts computed alongside exist only to gate the
    bound and would be dropped in production.
    """
    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.select(F.to_date("ts").alias("day"), "user_id")
        .groupBy("day")
        .agg(
            F.hll_sketch_agg("user_id").alias("sk"),
            F.count_distinct("user_id").alias("n_exact"),
        )
    )
    in_bound = (
        F.abs(F.hll_sketch_estimate("sk") - F.col("n_exact"))
        <= F.lit(0.05) * F.col("n_exact") + F.lit(5.0)
    )
    per_day = daily.select(
        F.col("day").cast("string").alias("day"),
        F.col("n_exact").cast("long").alias("n_exact"),
        in_bound.alias("est_in_bound"),
    )
    total_exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    merged = (
        daily.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(total_exact))
        .select(
            F.lit("TOTAL(merged)").alias("day"),
            F.col("n_exact").cast("long").alias("n_exact"),
            in_bound.alias("est_in_bound"),
        )
    )
    return per_day.unionByName(merged).orderBy("day")


_HLL_SQL = """
    SELECT CAST(day AS VARCHAR) AS day, n_exact, TRUE AS est_in_bound FROM (
        SELECT CAST(ts AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
        FROM events GROUP BY 1)
    UNION ALL
    SELECT 'TOTAL(merged)' AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS est_in_bound
    FROM events
    ORDER BY day
"""


def docs_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised classifier training IN the engine: batch-perceptron
    rounds over hashed token-count features (operators/classify — exact
    integer updates, order-free gradient sums), labels y=+1 for English
    documents, then the trained weights applied back for exact confusion
    counts.  The DuckDB oracle replays the ENTIRE training (4 rounds of
    margin-filter + gradient aggregation through chained MATERIALIZED
    CTEs) — supervised learning under the same bit-exact standard as the
    Lloyd/PCA trainers.  docs_classify is the fixed-table inference twin.

    Honest accuracy note: the synthetic corpus draws every language's
    text from ONE shared vocabulary, so the lang label is independent of
    the features by construction — no classifier can beat chance here,
    and the batch perceptron correctly oscillates on the non-separable
    data (its textbook behavior).  What this gate pins is the TRAINING
    ARITHMETIC: four full update rounds replayed integer-for-integer
    across engines; point the same operator at a corpus whose labels
    correlate with text and the identical plan learns.
    """
    from codecdb_queryengine_spark.operators import classify as CL

    docs = load_tables(spark, sf_dir)["documents"]
    dim, iters = 32, 4
    feats = CL.hashed_features(docs, dim=dim, prefix="pc|")
    ex = feats.join(
        docs.select(
            F.col("doc_id").alias("id"),
            F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        ),
        "id",
    )
    w = CL.perceptron_train_micro(ex, dim=dim, iters=iters)
    w_arr = "array(" + ",".join(f"{wj}L" for wj in w) + ")"
    margin = F.expr(
        f"aggregate(zip_with(f, {w_arr}, (a, b) -> a * b), 0L, (s, e) -> s + e)"
    )
    return (
        ex.select("y", (margin > 0).alias("pred_pos"))
        .groupBy("y", "pred_pos")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("y", "pred_pos")
    )


def _train_classifier_sql(dim: int = 32, iters: int = 4) -> str:
    width = dim + 1
    fsums = ", ".join(
        f"CAST(sum(CASE WHEN b = {j} THEN 1 ELSE 0 END) AS BIGINT) AS f{j}"
        for j in range(dim)
    )
    farr = "[" + ", ".join(f"f{j}" for j in range(dim)) + ", CAST(1 AS BIGINT)]"
    zeros = "[" + ", ".join(["CAST(0 AS BIGINT)"] * width) + "]"
    mfold = f"list_sum(list_transform(range(1, {width + 1}), i -> f[i] * w[i]))"
    ctes = [
        f"""tok AS MATERIALIZED (
            SELECT doc_id AS id,
                   ('0x' || substring(md5('pc|' || tok), 1, 8))::BIGINT % {dim} AS b
            FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents))""",
        f"fx AS MATERIALIZED (SELECT id, {fsums} FROM tok GROUP BY id)",
        f"""ex AS MATERIALIZED (
            SELECT fx.id, {farr} AS f,
                   CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
            FROM fx JOIN documents ON fx.id = documents.doc_id)""",
        f"w0 AS MATERIALIZED (SELECT {zeros} AS w)",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""g{t} AS MATERIALIZED (
            SELECT list(CAST(coalesce(g, 0) AS BIGINT) ORDER BY j) AS gl FROM
                (SELECT grid.j, s.g
                 FROM (SELECT unnest(range(1, {width + 1})) AS j) grid
                 LEFT JOIN (
                     SELECT j, sum(y * f[j]) AS g
                     FROM ex CROSS JOIN w{t - 1}
                     CROSS JOIN (SELECT unnest(range(1, {width + 1})) AS j)
                     WHERE y * ({mfold}) <= 0
                     GROUP BY j) s ON grid.j = s.j))""")
        ctes.append(f"""w{t} AS MATERIALIZED (
            SELECT list_transform(range(1, {width + 1}),
                                  i -> w[i] + gl[i]) AS w
            FROM w{t - 1} CROSS JOIN g{t})""")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT y, ({mfold}) > 0 AS pred_pos, count(*) AS n
    FROM ex CROSS JOIN w{iters}
    GROUP BY y, pred_pos ORDER BY y, pred_pos
"""


def text_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch accuracy probe: sketch all token occurrences
    (depth 4 × width 64 — deliberately small so collisions are visible),
    then estimate the 10 most frequent terms; est_count >= true_count
    always, equality when a term's counters escaped collisions.  The
    sketch itself is a ≤256-row DataFrame regardless of corpus size."""
    from codecdb_queryengine_spark.operators import sketch as SK

    docs = load_tables(spark, sf_dir)["documents"]
    toks = docs.select(F.explode(T.tokens("text")).alias("term"))
    cms = SK.count_min_build(toks, "term", depth=4, width=64)
    top = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("term").asc())
        .limit(10)
    )
    est = SK.count_min_estimate(cms, top.select("term"), "term", depth=4, width=64)
    return (
        top.join(est, "term")
        .select("term", "true_count", "est_count")
        .orderBy(F.col("true_count").desc(), F.col("term").asc())
    )


def _countmin_sql(depth: int = 4, width: int = 64) -> str:
    rows = ", ".join(f"({d})" for d in range(depth))
    pos = (
        "('0x' || substring(md5(concat(CAST(d.row AS VARCHAR), '|', term)), 1, 8))::BIGINT"
        f" % {width}"
    )
    return f"""
        WITH tok AS (
            SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
        sketch AS (
            SELECT row, pos, count(*) AS cnt FROM (
                SELECT d.row AS row, {pos} AS pos
                FROM tok, (VALUES {rows}) d(row)) u
            GROUP BY row, pos),
        top AS (
            SELECT term, count(*) AS true_count FROM tok
            GROUP BY term ORDER BY true_count DESC, term ASC LIMIT 10),
        probe AS (
            SELECT term, true_count, d.row AS row, {pos} AS pos
            FROM top, (VALUES {rows}) d(row))
        SELECT term, true_count, min(coalesce(cnt, 0)) AS est_count
        FROM probe LEFT JOIN sketch USING (row, pos)
        GROUP BY term, true_count
        ORDER BY true_count DESC, term ASC
    """


def text_bpe_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-BPE tokenizer, emitted as its value-gated CONTRACT surface
    (r6 verdict item 2 retired the rows-only category; this absorbs the
    former text_bpe_gate twin): learn 12 merge rules from the documents
    corpus (operators/bpe.bpe_train — iterative DataFrame pair-count +
    argmax, which has no SQL oracle: a recursive-CTE replay would be the
    engine under test), encode the full vocabulary under them, and emit
    engine-independent facts about a correct BPE encode: (1) the distinct
    vocabulary size matches the oracle's own tokenization exactly
    (cross-engine tokenizer parity); (2) concatenating every word's pieces
    reconstructs the word — merges only ever concatenate adjacent symbols,
    so any lossy/duplicating merge-fold bug breaks this; (3) piece counts
    sit in [1, len(word)]; (4) exactly the requested number of merge rules
    was learned.  All integers, so the row value-hashes.  Per-doc encode
    (operators/bpe.bpe_encode) stays the user API; its exactness is pinned
    against a pure-Python BPE reference in tests/test_bpe.py."""
    from codecdb_queryengine_spark.operators import bpe as B

    docs = load_tables(spark, sf_dir)["documents"]
    merges = B.bpe_train(docs, "text", num_merges=12)
    # an empty/whitespace-only doc tokenizes to [''] in BOTH engines; ''
    # has zero pieces and would fail the >=1 bound against the oracle's
    # blanket count — exclude it on both sides (r5 review)
    words = (
        docs.select(F.explode(T.tokens("text")).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    enc = words.select(
        "word",
        B.bpe_encode_col(B._chars(F.col("word")), merges).alias("pieces"),
    )
    return enc.agg(
        F.count(F.lit(1)).alias("n_distinct_words"),
        F.sum(
            (F.concat_ws("", F.col("pieces")) == F.col("word")).cast("long")
        ).alias("n_reconstruct_ok"),
        F.sum(
            (
                (F.size("pieces") >= 1) & (F.size("pieces") <= F.length("word"))
            ).cast("long")
        ).alias("n_bounds_ok"),
        F.lit(len(merges)).cast("long").alias("n_merges"),
    )


_BPE_TRAINED_SQL = f"""
    WITH vocab AS (
        SELECT DISTINCT word
        FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
        WHERE word <> '')
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(count(*) AS BIGINT) AS n_reconstruct_ok,
           CAST(count(*) AS BIGINT) AS n_bounds_ok,
           CAST(12 AS BIGINT) AS n_merges
    FROM vocab
"""


def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact frequent terms (count ≥ 2% of all tokens) via the distributed
    heavy-hitters pattern (operators/sketch.heavy_hitters): per-partition
    local candidates (ratio pigeonhole — no vocabulary shuffle), exact
    recount of candidates only.  The result is exact, so the oracle is a
    plain GROUP BY ... HAVING."""
    from codecdb_queryengine_spark.operators import sketch as SK

    docs = load_tables(spark, sf_dir)["documents"]
    tok = docs.select(F.explode(T.tokens("text")).alias("term"))
    return SK.heavy_hitters(tok, "term", ratio=0.02)


_HEAVY_HITTERS_SQL = f"""
    WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
    n AS (SELECT count(*) AS total FROM tok)
    SELECT term, count(*) AS cnt
    FROM tok CROSS JOIN n
    GROUP BY term, total
    HAVING count(*) >= CAST(ceil(0.02 * total) AS BIGINT)
    ORDER BY cnt DESC, term ASC
"""


def docs_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic seeded training-order shuffle: every document gets a
    global position from ranking md5('shuffle|seed|doc_id') — the standard
    pre-training data-order pass, with the properties random.shuffle
    lacks at corpus scale: reproducible across runs/partitionings (pure
    hash of the id), mergeable (a doc's sort key never changes when the
    corpus grows), and skew-free (md5 keys are uniform).  Positions come
    from operators/ordering.global_row_number — the two-pass
    prefix-offset form (per-bucket counts broadcast as offsets, then a
    PARTITIONED window), never a single-partition global window: the md5
    key is uniform over [0, 2^32), so 64 fixed-width buckets (k >> 26)
    are the monotone step function and the plan stays parallel at any
    corpus size (r8 verdict item 1).  Output sample: every 25th
    position, so the gate pins the whole permutation through O(n/25)
    rows."""
    from codecdb_queryengine_spark.operators import ordering as ORD

    docs = load_tables(spark, sf_dir)["documents"]
    key = T.md5_slice32("shuffle|13|", F.col("doc_id").cast("string"))
    ranked = ORD.global_row_number(
        docs.select("doc_id", key.alias("k")),
        [F.col("k").asc(), F.col("doc_id").asc()],
        bucket=F.shiftright(F.col("k"), 26),
        out="pos",
    )
    return (
        ranked.filter((F.col("pos") % 25) == 1)
        .select("doc_id", "pos")
        .orderBy("pos")
    )


_DOCS_SHUFFLE_SQL = """
    SELECT doc_id, pos FROM (
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY ('0x' || substring(md5(concat('shuffle|13|',
                       CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT ASC,
                   doc_id ASC) AS BIGINT) AS pos
        FROM documents)
    WHERE pos % 25 = 1 ORDER BY pos
"""


def docs_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (90/5/5) by content-stable
    hash bucket: bucket = first 32 md5 bits of the doc id, mod 100.  The
    split is a pure projection — no shuffle, no sampling state, stable
    under re-runs, repartitioning, and incremental appends (a doc's split
    never changes when the corpus grows; TABLESAMPLE/random sampling give
    none of these).  Output: per-(split, lang) doc counts and mean length.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    bucket = F.pmod(T.md5_slice32("split|", F.col("doc_id").cast("string")), F.lit(100))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("n_chars").alias("avg_chars"),
        )
        .orderBy("split", "lang")
    )


# per-10k stratified downsampling rates / mixture epoch weights for the
# deterministic-sampling gates (en is the overrepresented stratum at ~44%)
_SAMPLE_RATES = {"en": 2500, "zh": 7500, "es": 9000}
_MIX_WEIGHTS = {"en": (1, 2), "de": (3, 1), "fr": (5, 2)}


def docs_downsample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus rebalancing by per-stratum DETERMINISTIC sampling
    (operators/corpus.sample_stratified): keep each doc iff its
    content-stable md5 bucket (mod 10,000) falls under its language's
    rate — en downsampled to 25%, zh to 75%, es to 90%, the rest kept.
    Membership is reproducible across runs, independent of partitioning,
    and stable under corpus growth (TABLESAMPLE/rand() give none of
    these); the plan is ONE pure filter projection, no shuffle.  Output
    pins exact per-language membership signatures (count, Σdoc_id,
    Σn_chars), so one wrongly kept or dropped row flips the hash."""
    from codecdb_queryengine_spark.operators import corpus as C

    docs = load_tables(spark, sf_dir)["documents"]
    kept = C.sample_stratified(docs, "doc_id", "lang", _SAMPLE_RATES)
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sig"),
            F.sum("n_chars").alias("chars_sig"),
        )
        .orderBy("lang")
    )


def _sample_stratified_sql() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sig,
               CAST(sum(n_chars) AS BIGINT) AS chars_sig
        FROM (SELECT lang, doc_id, n_chars,
                     ('0x' || substring(md5(concat('sample|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 10000 AS b
              FROM documents)
        WHERE b < CASE lang {cases} ELSE 10000 END
        GROUP BY lang ORDER BY lang
    """


def docs_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted-mixture MATERIALIZATION (operators/corpus.corpus_mix):
    every doc of stratum s appears floor(w_s) times plus one hash-chosen
    extra copy for the fractional part (en ×1/2, de ×3, fr ×5/2, rest
    ×1), each copy carrying its 0-based epoch — the step that turns
    mixture weights (docs_mixture_weights) into an actual training
    corpus, exact-rational and bit-reproducible.  Output rows scale with
    the mixture size, never n·max_epoch; the oracle replays the
    repetition with unnest(range(copies)).  Per-language signatures over
    (copy count, distinct docs, max epoch, Σ doc_id·(epoch+1)) pin both
    membership and multiplicity."""
    from codecdb_queryengine_spark.operators import corpus as C

    docs = load_tables(spark, sf_dir)["documents"]
    mixed = C.corpus_mix(docs, "doc_id", "lang", _MIX_WEIGHTS)
    return (
        mixed.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max("epoch").cast("long").alias("max_epoch"),
            F.sum(F.col("doc_id") * (F.col("epoch") + 1)).alias("mult_sig"),
        )
        .orderBy("lang")
    )


def _corpus_mix_sql() -> str:
    base = " ".join(
        f"WHEN '{s}' THEN {num // den}" for s, (num, den) in sorted(_MIX_WEIGHTS.items())
    )
    rem = " ".join(
        f"WHEN '{s}' THEN {num % den}" for s, (num, den) in sorted(_MIX_WEIGHTS.items())
    )
    den = " ".join(
        f"WHEN '{s}' THEN {d}" for s, (_, d) in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
        WITH c AS (
            SELECT lang, doc_id,
                   (CASE lang {base} ELSE 1 END)
                   + CASE WHEN ('0x' || substring(md5(concat('mix|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
                               % (CASE lang {den} ELSE 1 END)
                              < (CASE lang {rem} ELSE 0 END)
                          THEN 1 ELSE 0 END AS copies
            FROM documents),
        m AS (
            SELECT lang, doc_id, unnest(range(copies)) AS epoch
            FROM c WHERE copies > 0)
        SELECT lang, count(*) AS n_rows,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(max(epoch) AS BIGINT) AS max_epoch,
               CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS mult_sig
        FROM m GROUP BY lang ORDER BY lang
    """


_DOCS_SPLIT_SQL = """
    SELECT split, lang, count(*) AS n_docs, avg(n_chars) AS avg_chars FROM (
        SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
               lang, n_chars
        FROM (SELECT ('0x' || substring(md5(concat('split|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 100 AS b,
                     lang, n_chars
              FROM documents))
    GROUP BY split, lang ORDER BY split, lang
"""


def docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: 10 docs per language, selected by
    md5-of-id order (engine-pinned, stable under re-runs/repartitioning —
    the sampling analog of docs_train_split's hash bucketing; random
    TABLESAMPLE gives neither determinism nor an oracle).

    One shuffle keyed on lang + per-group rank.  100-TB note: row_number
    needs each language's rows on one partition; when N ≪ group size,
    pre-filter on a conservative hash prefix (keep md5 < k·N/|group|
    quantile) to shrink the windowed set by orders of magnitude before the
    per-group sort — same answer as long as the cut keeps ≥ N rows per
    group.  Skewed language distribution is inherent to the operator
    (stratum = partition), not to this formulation.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit("sample|"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(F.col("h").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", "n_chars", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("lang", "rk", "doc_id", "n_chars")
        .orderBy("lang", "rk")
    )


_DOCS_SAMPLE_SQL = """
    SELECT lang, rk, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(concat('sample|', CAST(doc_id AS VARCHAR))) ASC,
                            doc_id ASC) AS BIGINT) AS rk
        FROM documents)
    WHERE rk <= 10 ORDER BY lang, rk
"""


def docs_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli sample: keep doc i with probability
    p_i = its quality score (the importance-sampling pass that upweights
    high-quality text in a pretraining mix).

    Deterministic and engine-pinned: the per-doc uniform u_i is an
    md5-derived 32-bit fraction, so both engines draw the identical
    "randomness" and the gate verifies the exact selected set — a real
    random source would give neither reproducibility nor an oracle.
    Scan-side only: zero shuffles at any scale.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("wsample|"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(2**32))
    )
    q = T.quality_score("text")
    return (
        docs.select("doc_id", q.alias("quality"), u.alias("u"))
        .filter(F.col("u") < F.col("quality"))
        .select("doc_id", "quality")
        .orderBy("doc_id")
    )


_DOCS_SAMPLE_WEIGHTED_SQL = f"""
    SELECT doc_id, quality FROM (
        SELECT doc_id,
               0.3 * least({_SQL_NTOK} / 64.0, 1.0)
             + 0.3 * (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE)
                        / greatest({_SQL_NTOK}, 1))
             + 0.2 * least((CAST({_SQL_STOP} AS DOUBLE)
                        / greatest({_SQL_NTOK}, 1)) * 4.0, 1.0)
             + 0.2 * (1.0 - least(({_SQL_PUNCT}) * 4.0, 1.0)) AS quality,
               ('0x' || substring(md5(concat('wsample|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
                 / 4294967296.0 AS u
        FROM documents)
    WHERE u < quality ORDER BY doc_id
"""


# --- event funnels / retention ---------------------------------------------


def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier report per event type: flag events more than 2.5
    sample standard deviations from their type's mean value — the
    monitoring pass an event pipeline runs continuously.  Per-type stats
    are one tiny aggregate broadcast back to the scan (no second shuffle
    of the fact stream); the gated output is the per-type outlier count
    plus the exact outlier value volume, so the only float
    comparison is the threshold itself (not a rounding grid).
    """
    ev = load_tables(spark, sf_dir)["events"]
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    flagged = (
        ev.join(F.broadcast(stats), "event_type")
        .withColumn("z", (F.col("value") - F.col("mu")) / F.col("sd"))
        .filter(F.abs(F.col("z")) > 2.5)
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            unit_sum(F.col("value"), 2).alias("outlier_value_sum"),
        )
        .orderBy("event_type")
    )


_EVENTS_ANOMALY_SQL = f"""
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
        FROM events GROUP BY event_type)
    SELECT event_type, count(*) AS n_outliers,
           {unit_sum_sql("value", 2)} AS outlier_value_sum
    FROM events JOIN stats USING (event_type)
    WHERE abs((value - mu) / sd) > 2.5
    GROUP BY event_type ORDER BY event_type
"""


def events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense time-series resampling with gap filling: hourly totals per
    event type over the FULL corpus span, empty buckets emitted as zero
    rows (the resample→fill step every downstream forecasting/charting
    consumer needs; a plain GROUP BY silently drops empty buckets).

    Plan: the hour grid comes from one 2-row-bounds aggregate exploded
    with sequence() (grid size = hours × types, independent of event
    count), cross-joined with the distinct type set and left-joined to
    the hourly aggregate — the only data-sized shuffle is the groupBy.
    """
    ev = load_tables(spark, sf_dir)["events"]
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    types = ev.select("event_type").distinct()
    hourly = (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            unit_sum(F.col("value"), 2).alias("sum_value"),
        )
    )
    return (
        grid.crossJoin(types)
        .join(hourly, ["bucket", "event_type"], "left")
        .select(
            "bucket",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("sum_value"), F.lit(0.0)).alias("sum_value"),
        )
        .orderBy("bucket", "event_type")
    )


_EVENTS_RESAMPLE_SQL = f"""
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events),
    grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               count(*) AS n,
               {unit_sum_sql("value", 2)} AS sum_value
        FROM events GROUP BY 1, 2)
    SELECT g.bucket, t.event_type,
           coalesce(h.n, 0) AS n,
           coalesce(h.sum_value, 0.0) AS sum_value
    FROM grid g CROSS JOIN types t
    LEFT JOIN hourly h ON h.bucket = g.bucket AND h.event_type = t.event_type
    ORDER BY g.bucket, t.event_type
"""


def events_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling with LINEAR INTERPOLATION (the fill(linear) /
    interpolate() of timeseries stores, on top of events_resample's dense
    grid): for every empty hourly bucket strictly inside a type's observed
    span, the count is interpolated between the nearest observed buckets;
    outside the span it stays NULL.  Neighbor discovery is two
    running-last/first IGNORE NULLS windows per type — one shuffle, state
    bounded by the grid, never the event count.  The interpolation is ONE
    mirrored float expression over exact integers (counts + epoch
    seconds), so the doubles hash bit-exact."""
    from codecdb_queryengine_spark.operators import temporal as TJ

    ev = load_tables(spark, sf_dir)["events"]
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    grid = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket")
    )
    types = ev.select("event_type").distinct()
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    dense = (
        grid.crossJoin(types)
        .join(hourly, ["bucket", "event_type"], "left")
        .withColumn("t", F.unix_timestamp(F.col("bucket")).cast("long"))
    )
    return (
        TJ.interpolate_linear(dense, ["event_type"], "t", "n")
        .select(
            "bucket",
            "event_type",
            "observed",
            F.col("v_filled").alias("n_filled"),
        )
        .orderBy("bucket", "event_type")
    )


_EVENTS_INTERPOLATE_SQL = """
    WITH bounds AS (
        SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
        FROM events),
    grid AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    dense AS (
        SELECT g.bucket, t.event_type, h.n
        FROM grid g CROSS JOIN types t
        LEFT JOIN hourly h ON h.bucket = g.bucket AND h.event_type = t.event_type),
    win AS (
        SELECT bucket, event_type, n,
               CAST(epoch(bucket) AS BIGINT) AS t,
               last_value(n IGNORE NULLS) OVER wp AS prev_v,
               last_value(CASE WHEN n IS NOT NULL
                               THEN CAST(epoch(bucket) AS BIGINT) END
                          IGNORE NULLS) OVER wp AS prev_t,
               first_value(n IGNORE NULLS) OVER wn AS next_v,
               first_value(CASE WHEN n IS NOT NULL
                                THEN CAST(epoch(bucket) AS BIGINT) END
                           IGNORE NULLS) OVER wn AS next_t
        FROM dense
        WINDOW wp AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY event_type ORDER BY bucket
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT bucket, event_type,
           n IS NOT NULL AS observed,
           CASE WHEN n IS NOT NULL THEN CAST(n AS DOUBLE)
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL THEN
                    CAST(prev_v AS DOUBLE)
                    + CAST(next_v - prev_v AS DOUBLE)
                      * (CAST(t - prev_t AS DOUBLE)
                         / CAST(next_t - prev_t AS DOUBLE))
           END AS n_filled
    FROM win ORDER BY bucket, event_type
"""


def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event counts per
    type (α = 0.5) — the smoothing pass of a monitoring/forecasting
    pipeline.  An EWMA is a SEQUENTIAL recurrence, so floating-point
    reproducibility requires controlling the fold order explicitly: the
    per-type series is materialized as a bucket-ordered array and folded
    left-to-right with one fixed expression (s ← 0.5·x + 0.5·s, seeded
    with the first element), which both engines replay identically —
    order-free window sums could not express this.  α = 0.5 is exactly
    representable; inputs are exact integer counts.  State per type is
    the series array (bounded by the grid, not the event count)."""
    ev = load_tables(spark, sf_dir)["events"]
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("bucket"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    per = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("bucket", "n"))),
            lambda r: r["n"].cast("double"),
        ).alias("xs"),
    )
    ewma = F.aggregate(
        F.col("xs"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x).otherwise(
            F.lit(0.5) * x + F.lit(0.5) * acc
        ),
    )
    return per.select("event_type", "n_hours", ewma.alias("ewma"))


_EVENTS_EWMA_SQL = """
    WITH hourly AS MATERIALIZED (
        SELECT date_trunc('hour', ts) AS bucket, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2),
    per AS MATERIALIZED (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               list(CAST(n AS DOUBLE) ORDER BY bucket) AS xs
        FROM hourly GROUP BY event_type)
    SELECT event_type, n_hours,
           list_reduce(xs, (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma
    FROM per
"""


def docs_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-novelty scoring: per document, the fraction of its
    DISTINCT 3-word shingles that occur in no other document — a
    boilerplate/duplication signal (low novelty = the document is made
    of corpus-common phrasing; the inverse of the decontamination
    overlap).  One shingle explode, the doc-frequency as a COUNT OVER
    (PARTITION BY shingle) window — one shingle-keyed shuffle instead of
    the aggregate+join's three (measured 2× at sf0.1), identical exact
    integers — then one re-group per doc; the score is one exact-input
    division."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    sh = docs.select(
        "doc_id", F.explode(T.word_shingles("text", 3)).alias("sh")
    )
    return (
        sh.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("sh")))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .withColumn(
            "novelty", F.col("n_unique").cast("double") / F.col("n_shingles")
        )
    )


def _docs_novelty_sql() -> str:
    return f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id, unnest({_sql_word_shingles(3)}) AS sh
            FROM documents),
        dfc AS MATERIALIZED (
            SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY sh)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               CAST(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS DOUBLE)
                   / CAST(count(*) AS BIGINT) AS novelty
        FROM sh s JOIN dfc d ON d.sh = s.sh
        GROUP BY s.doc_id
    """


def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured payload handling: extract a typed field from the
    JSON `props` column (get_json_object — parsed JVM-side inside
    whole-stage codegen, the Spark-native path for ragged event payloads)
    and aggregate it per event type.  Integer sums/extremes only, so the
    gate is exact.

    100-TB note: JSON parse cost is scan-side and columnar-pruned; for a
    hot pipeline, materialize the extracted field once with a schema-on-
    write pass (from_json into a struct column) instead of re-parsing per
    query.
    """
    ev = load_tables(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


_EVENTS_JSON_SQL = """
    SELECT event_type, count(*) AS n,
           count(CAST(json_extract(props, '$.k') AS BIGINT)) AS n_with_k,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view -> click -> purchase per user: a user advances a
    stage only with an event at-or-after their first event of the previous
    stage.  Three chained (filter -> per-user min-ts agg -> join) steps,
    each one shuffle keyed on user_id; stage counts union into one row per
    stage."""
    ev = load_tables(spark, sf_dir)["events"]
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    spark_stage = lambda df, name: df.agg(  # noqa: E731
        F.lit(name).alias("stage"), F.count(F.lit(1)).cast("long").alias("n_users")
    )
    return (
        spark_stage(v, "1_view")
        .unionAll(spark_stage(c, "2_click"))
        .unionAll(spark_stage(p, "3_purchase"))
        .orderBy("stage")
    )


_EVENTS_FUNNEL_SQL = """
    WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(ts) AS c_ts FROM events e JOIN v USING (user_id)
          WHERE event_type = 'click' AND ts >= v_ts GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(ts) AS p_ts FROM events e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND ts >= c_ts GROUP BY e.user_id)
    SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v
    UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c
    UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p
    ORDER BY stage
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-active day; for each
    (cohort_day, day_offset) the count of cohort users active that day.
    Two shuffles total — per-user min-day, then (cohort, offset) count —
    both on uniform keys."""
    ev = load_tables(spark, sf_dir)["events"]
    # to_date, not date_trunc: Spark's date_trunc yields midnight TIMESTAMPs
    # while the oracle's date_trunc yields DATEs — DateType matches.
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .groupBy("cohort_day", F.datediff("day", "cohort_day").cast("long").alias("day_offset"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


_EVENTS_RETENTION_SQL = """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    cohort AS (SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id)
    SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS BIGINT) AS day_offset,
           CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
    FROM days d JOIN cohort USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- streaming, oracle-gated ----------------------------------------------
# These EXECUTE the Structured Streaming pipeline (availableNow trigger,
# memory sink) and return the completed result as a batch DataFrame — so the
# stream path itself goes through the DuckDB oracle gate, not just its
# batch twin.


def events_stream_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window streaming aggregation, driven to
    completion and gated against the batch SQL oracle."""
    from codecdb_queryengine_spark.streaming import events as E

    stream = E.read_events_stream(spark, sf_dir)
    res = E.run_to_memory(E.windowed_counts(stream), "q_events_stream_window")
    return res.orderBy("window_start", "event_type")


_EVENTS_STREAM_WINDOW_SQL = _EVENTS_WINDOW_SQL


def events_stream_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState running totals, driven to completion — the
    custom stateful operator's final state must equal the batch GROUP BY."""
    from codecdb_queryengine_spark.streaming import events as E

    stream = E.read_events_stream(spark, sf_dir)
    res = E.run_to_memory(
        E.running_user_totals(stream), "q_events_stream_totals", output_mode="update"
    )
    # one input file -> one trigger -> one emitted row per user (final state)
    return res.orderBy("user_id")


_EVENTS_STREAM_TOTALS_SQL = f"""
    SELECT user_id, count(*) AS n_events, {unit_sum_sql("value", 2)} AS sum_value
    FROM events GROUP BY user_id ORDER BY user_id
"""


def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window streaming aggregation (30-min gap) driven to
    completion; complete output mode emits every closed-over session, so
    the result equals gap-based batch sessionization.

    Session semantics pinned by the oracle: a session covers events whose
    inter-arrival gap is < 30 min (an event at exactly start+gap falls
    outside the [start, end) window and opens a new session); session_end =
    last event + gap.
    """
    from codecdb_queryengine_spark.streaming import events as E

    stream = E.read_events_stream(spark, sf_dir)
    res = E.run_to_memory(E.session_windows(stream, "30 minutes"), "q_events_stream_sessions")
    return res.orderBy("user_id", "session_start")


_EVENTS_STREAM_SESSIONS_SQL = """
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) >= 1800
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sid AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_idx
        FROM g)
    SELECT min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           user_id, count(*) AS n_events
    FROM sid GROUP BY user_id, session_idx
    ORDER BY user_id, session_start
"""


def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark on event_id)
    driven to completion, then rolled up per event type batch-side.  State
    is bounded by the watermark horizon — the streaming face of the batch
    exact_dedup operator."""
    from codecdb_queryengine_spark.streaming import events as E

    stream = E.read_events_stream(spark, sf_dir)
    deduped = E.run_to_memory(
        E.dedup_stream(stream), "q_events_stream_dedup", output_mode="append"
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            unit_sum(F.col("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


_EVENTS_STREAM_DEDUP_SQL = f"""
    WITH d AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_id ORDER BY ts) AS rn
        FROM events)
    SELECT event_type, count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value
    FROM d WHERE rn = 1 GROUP BY event_type ORDER BY event_type
"""


def events_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 h window / 30 min slide) streaming average per
    event type, driven to completion.  Each event lands in exactly two
    overlapping windows; the oracle replicates rows to both covering
    window starts batch-side."""
    from codecdb_queryengine_spark.streaming import events as E

    stream = E.read_events_stream(spark, sf_dir)
    res = E.run_to_memory(E.sliding_avg(stream), "q_events_stream_sliding")
    return res.select(
        "window_start", "event_type", "n", "sum_value", "avg_value"
    ).orderBy("window_start", "event_type")


_EVENTS_STREAM_SLIDING_SQL = f"""
    WITH b AS (
        SELECT event_type, value,
               time_bucket(INTERVAL 30 MINUTE, ts) AS bucket
        FROM events),
    x AS (
        SELECT event_type, value, bucket AS window_start FROM b
        UNION ALL
        SELECT event_type, value, bucket - INTERVAL 30 MINUTE FROM b)
    SELECT window_start, event_type, count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value,
           {unit_sum_sql("value", 2)} / count(*) AS avg_value
    FROM x GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream join: purchases matched to the same user's
    clicks within the preceding hour, driven to completion (append mode —
    inner-join matches emit as both sides arrive)."""
    from codecdb_queryengine_spark.streaming import events as E

    stream = E.read_events_stream(spark, sf_dir)
    # 4 state stores per partition (two sides x key/keyWithIndex): halve the
    # store count again vs the single-store aggs (see run_to_memory).
    res = E.run_to_memory(
        E.purchases_with_recent_click(stream),
        "q_events_stream_join",
        output_mode="append",
        state_partitions=max(4, spark.sparkContext.defaultParallelism // 4),
    )
    return res.select("user_id", "purchase_id", "click_id").orderBy(
        "user_id", "purchase_id", "click_id"
    )


_EVENTS_STREAM_JOIN_SQL = """
    SELECT p.user_id AS user_id, p.event_id AS purchase_id, c.event_id AS click_id
    FROM events p JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND p.user_id = c.user_id
     AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
    ORDER BY user_id, purchase_id, click_id
"""


def _stream_tmpdir(prefix: str, sf_dir: str) -> str:
    """Per-(process, sf_dir) sink dir with stale-sibling reaping.

    Name = (prefix, pid, md5-of-sf_dir): the pid keeps concurrent processes
    from clobbering each other's live stream output/checkpoint, and the md5
    digest — NOT Python's PYTHONHASHSEED-randomized hash() — makes the
    per-sf_dir suffix stable so THIS process reuses (wipes) one fixed path
    per run instead of minting fresh leaks.  Dirs from dead processes are
    reaped by liveness check (/proc/<pid> gone), bounding the host
    footprint to one copy per live process.  Wiping our own dir before
    streaming makes each run a full re-stream, not a no-op resume.
    """
    import glob
    import hashlib
    import os
    import re
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = tempfile.gettempdir()
    base = os.path.join(tmp, f"{prefix}_{os.getpid()}_{tag}")
    # Reap only names matching THIS prefix's exact '<prefix>_<pid>_<hex8>'
    # shape: a bare '{prefix}_*' glob would also match a sibling family
    # whose prefix extends this one (e.g. '<prefix>_v2_...'), misparse its
    # pid slot, and delete a LIVE process's checkpoint.
    shape = re.compile(re.escape(prefix) + r"_(\d+)_[0-9a-f]{8}$")
    for stale in glob.glob(os.path.join(tmp, f"{prefix}_*")):
        if stale == base:
            shutil.rmtree(stale, ignore_errors=True)
            continue
        m = shape.match(os.path.basename(stale))
        if m and not os.path.exists(f"/proc/{m.group(1)}"):
            shutil.rmtree(stale, ignore_errors=True)
    return base


def events_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate materialization (sinks.materialize_rollup):
    the events stream rolls up into per-(hour, event_type) rows appended
    to a checkpointed parquet serving table as each window finalizes —
    append mode emits a window exactly once, after the watermark (2 h)
    passes its end.  The oracle recomputes which windows MUST have been
    finalized from max(ts): every emitted row immutable, none missing,
    none early.
    """
    from codecdb_queryengine_spark.streaming import events as E
    from codecdb_queryengine_spark.streaming import sinks

    base = _stream_tmpdir("sg_stream_rollup", sf_dir)
    # stateful windowed agg behind a FILE sink: pin the state-store count
    # like run_to_memory does for the memory-sink gates (64 stores of
    # per-microbatch load/commit overhead otherwise — r11 optimization)
    with E.state_partition_scope(spark):
        q = sinks.materialize_rollup(
            E.read_events_stream(spark, sf_dir), f"{base}/out", f"{base}/ckpt"
        )
        q.awaitTermination()
    return sinks.read_parquet_sink(spark, f"{base}/out").orderBy(
        "window_start", "event_type"
    )


_EVENTS_STREAM_ROLLUP_SQL = f"""
    WITH b AS (SELECT max(ts) AS mx FROM events)
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n, {unit_sum_sql("value", 2)} AS sum_value
    FROM events, b
    WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= mx - INTERVAL 2 HOUR
    GROUP BY 1, 2 ORDER BY 1, 2
"""


def events_stream_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-sink path through the oracle gate: the events stream appends
    to a checkpointed parquet sink partitioned by event_type (exactly-once
    via the file-sink commit log), the committed files are read back
    through the same commit log, and their rollup must equal the batch
    aggregate of the source table — proving no event was lost, duplicated,
    or left uncommitted by the sink.  Output lands in a fresh tempdir per
    run (bounded: the previous invocation's directory is deleted first, so
    repeated bench/gate runs hold at most one events-table copy on disk).
    """
    from codecdb_queryengine_spark.streaming import events as E
    from codecdb_queryengine_spark.streaming import sinks

    stream = E.read_events_stream(spark, sf_dir)
    base = _stream_tmpdir("sg_stream_files", sf_dir)
    q = sinks.stream_to_parquet(
        stream, f"{base}/out", f"{base}/ckpt", partition_by=("event_type",)
    )
    q.awaitTermination()
    return (
        sinks.read_parquet_sink(spark, f"{base}/out")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            unit_sum(F.col("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


_EVENTS_STREAM_FILES_SQL = f"""
    SELECT event_type, count(*) AS n,
           {unit_sum_sql("value", 2)} AS sum_value
    FROM events GROUP BY event_type ORDER BY event_type
"""


def events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join (dimension enrichment) + stateful agg,
    driven to completion and gated against the batch join twin."""
    from codecdb_queryengine_spark.streaming import events as E

    tables = load_tables(spark, sf_dir)
    stream = E.read_events_stream(spark, sf_dir)
    res = E.run_to_memory(
        E.static_enriched_totals(stream, tables["customer"], tables["nation"]),
        "q_events_stream_enrich",
        output_mode="complete",
    )
    return res.orderBy("n_name")


_EVENTS_STREAM_ENRICH_SQL = f"""
    SELECT n_name, count(*) AS n,
           {unit_sum_sql("value", 2)} AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
"""


# --- corpus preparation (decontamination / packing / filtering / masking) --


def docs_stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming shard ingest with cross-shard dedup — the streaming face
    of dedup_incremental: the incoming shard (new docs ∪ a re-ingest of
    even-id reference docs under fresh ids) arrives as a file stream and
    anti-joins the STATIC already-ingested corpus on content digest, so
    only never-seen documents land.

    Stateless per microbatch, with the SAME bloom-prefilter shape as the
    batch operator: the one-row bloom map broadcasts into the stream
    (definite-new rows pass a pure map-side bit-test and never join), and
    only bloom-positives pay the stream-static anti-join against the
    digest set — so per microbatch the dominant shard stream stays
    map-side, exactly the membership.dedup_against_reference plan.  No
    state store, no watermark.  Oracle: the batch anti-join (same row set
    as dedup_incremental — the bloom's false positives are re-checked).
    """
    from codecdb_queryengine_spark.operators.membership import dedup_against_reference
    from codecdb_queryengine_spark.streaming import events as E

    s1 = (
        E.read_table_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 5 != 0)
        .select("doc_id", "text")
    )
    s2 = (
        E.read_table_stream(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    ref = load_tables(spark, sf_dir)["documents"].filter(F.col("doc_id") % 5 == 0)
    # the batch operator's plan is stream-compatible end to end (bloom
    # broadcast + map-side bit test + stream-static anti-join on the
    # bloom-positive slice) — ONE implementation serves both faces
    kept = dedup_against_reference(s1.unionByName(s2), ref, "text", "doc_id")
    res = E.run_to_memory(kept, "q_docs_stream_ingest", output_mode="append")
    return res.orderBy("doc_id")


def docs_stream_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming document quality scoring: the docs file stream scored
    row-wise with the same expression-only quality/langid functions the
    batch queries use (stateless append — scan-side scoring is exactly
    the shape that keeps a 100-TB ingest stream map-side), rolled up per
    language batch-side after the drain.  Oracle: the batch twin."""
    from codecdb_queryengine_spark.streaming import events as E

    stream = E.read_table_stream(spark, sf_dir, "documents")
    # floor(q·1e6 + 0.5) micro-unit anchor — order-free BIGINT sum and no
    # double→decimal cast knife edge (see docs_quality_by_source)
    scored = stream.select(
        "doc_id",
        "lang",
        F.floor(T.quality_score("text") * F.lit(1e6) + F.lit(0.5)).alias("qm"),
    )
    res = E.run_to_memory(scored, "q_docs_stream_quality", output_mode="append")
    return (
        res.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("qm").cast("double") / F.lit(1e6)).alias("quality_sum"),
        )
        .orderBy("lang")
    )


_DOCS_STREAM_QUALITY_SQL = f"""
    SELECT lang, count(*) AS n_docs,
           CAST(CAST(sum(CAST(floor({_SQL_QUALITY} * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS DOUBLE) / 1000000.0 AS quality_sum
    FROM documents GROUP BY lang ORDER BY lang
"""


def events_stream_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring-in-stream: per-type mean/stddev computed ONCE from
    the static (historical) events table broadcast into the live stream,
    which flags z-score outliers row-wise — the production pattern of a
    trained model scoring an unbounded stream (stateless append, no state
    store; contrast events_anomaly, which is the batch training pass).
    Gated output: per-type outlier count + exact value volume,
    equal to the batch computation since the stream replays the table."""
    from codecdb_queryengine_spark.streaming import events as E

    static = load_tables(spark, sf_dir)["events"]
    stats = static.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sd")
    )
    stream = E.read_events_stream(spark, sf_dir)
    flagged = (
        stream.join(F.broadcast(stats), "event_type")
        .withColumn("z", (F.col("value") - F.col("mu")) / F.col("sd"))
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_type", "value")
    )
    res = E.run_to_memory(flagged, "q_events_stream_score", output_mode="append")
    return (
        res.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_outliers"),
            unit_sum(F.col("value"), 2).alias("outlier_value_sum"),
        )
        .orderBy("event_type")
    )


def emb_stream_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN-index ingestion: the embeddings file stream is
    ENCODED in-stream — each vector assigned to its nearest IVF centroid
    by a pure expression fold over the centroid model embedded as a
    literal (the model-broadcast pattern: ~C·d floats, collected once
    driver-side like every deployed scorer) — fully stateless append, no
    state store, no join.  Rolled up to per-list counts batch-side after
    the drain; oracle = the batch IVF assignment (same dot/|c| ranking
    and min-c_id tie-break as similarity.ivf_topk).
    """
    from codecdb_queryengine_spark.streaming import events as E

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = (
        emb.filter(F.col("vec_id") % 29 == 0)
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_vec"))
        .collect()
    )
    # NULL embeddings would fold to the init sentinel while the oracle's
    # NULLS-LAST ranking assigns a centroid — exclude them on both sides
    stream = E.read_table_stream(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    encoded = stream.select(
        F.col("vec_id").alias("n_id"),
        S.ivf_assign_expr("embedding", cents).alias("c_list"),
    )
    res = E.run_to_memory(encoded, "q_emb_stream_encode", output_mode="append")
    return (
        res.groupBy("c_list")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("c_list")
    )


def emb_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone serving composition: the embeddings stream is encoded
    in-stream (stateless expression-fold assignment against the broadcast
    quantizer model) and appended EXACTLY-ONCE into the persisted IVF
    index's partitioned list layout (file-sink commit log); the drained
    index then answers the standard top-k query through the
    partition-pruned read path (sources/ann_index.ivf_index_topk).

    Every stage is the value-gated primitive it composes — the in-stream
    assignment is emb_stream_encode's, the storage layout and probe path
    are sim_ann_ivf_indexed's — so the whole ingest→index→serve loop is
    gated by the same exact sim_ann_ivf oracle.
    """
    from codecdb_queryengine_spark.sources import ann_index as AI
    from codecdb_queryengine_spark.sources import io as IO
    from codecdb_queryengine_spark.streaming import events as E
    from codecdb_queryengine_spark.streaming import sinks as SK

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents_df = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    # fresh: the file sink's commit log must not see a prior invocation's
    # ingested lists or the stream would (correctly) append nothing new
    base = _scratch_dir("ivf_stream_index", sf_dir, fresh=True)
    cents_df.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    cents = cents_df.select("c_id", "c_vec").collect()
    stream = E.read_table_stream(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    enc = stream.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_vec"),
        S.norm(F.col("embedding")).alias("n_norm"),
        S.ivf_assign_expr("embedding", cents).alias("c_list"),
    )
    q = SK.stream_to_parquet(
        enc,
        os.path.join(base, "lists"),
        os.path.join(base, "ckpt"),
        partition_by=("c_list",),
        # the quantizer is already driver-side: size each micro-batch's
        # write to the K directories it creates (guide §2.2/§6)
        n_write_tasks=IO.write_task_count(spark, len(cents)),
    )
    q.awaitTermination()
    return AI.ivf_index_topk(spark, base, _query_vectors(emb), k=_TOP_K, nprobe=2)


def emb_stream_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streamed ANN-index COMPACTION (the vector twin of
    docs_stream_index_compact, r6 verdict item 5): the embeddings corpus
    is ingested into the persisted IVF list layout as FOUR micro-batches
    (staged as four input files, maxFilesPerTrigger=1 — each trigger
    appends its own small files into every touched c_list partition),
    the layout is compacted with sources/io.compact_partitioned (keeps
    the c_list directory partitioning, atomic swap), and the compacted
    index serves the standard top-k through the same DPP-pruned read
    path — gated by the exact sim_ann_ivf oracle with a `files_shrunk`
    contract column the oracle asserts TRUE."""
    from codecdb_queryengine_spark.sources import ann_index as AI
    from codecdb_queryengine_spark.sources import io as IO
    from codecdb_queryengine_spark.streaming import sinks as SK

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents_df = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    base = _scratch_dir("ivf_stream_index_compact", sf_dir, fresh=True)
    cents_df.write.mode("overwrite").parquet(os.path.join(base, "centroids"))
    cents = cents_df.select("c_id", "c_vec").collect()
    staged = os.path.join(base, "in")
    emb.filter(F.col("embedding").isNotNull()).select(
        "vec_id", "embedding"
    ).repartition(4).write.mode("overwrite").parquet(staged)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    enc = stream.select(
        F.col("vec_id").alias("n_id"),
        F.col("embedding").alias("n_vec"),
        S.norm(F.col("embedding")).alias("n_norm"),
        S.ivf_assign_expr("embedding", cents).alias("c_list"),
    )
    lists_path = os.path.join(base, "lists")
    q = SK.stream_to_parquet(
        enc, lists_path, os.path.join(base, "ckpt"), partition_by=("c_list",),
        # each of the four micro-batches writes ~K list dirs from what
        # would otherwise be ONE input-file task (guide §2.2/§6)
        n_write_tasks=IO.write_task_count(spark, len(cents)),
    )
    q.awaitTermination()
    files_before = IO.data_file_count(lists_path)
    IO.compact_partitioned(
        spark, lists_path, partition_by=("c_list",), target_file_bytes=1 << 30
    )
    files_after = IO.data_file_count(lists_path)
    topk = AI.ivf_index_topk(spark, base, _query_vectors(emb), k=_TOP_K, nprobe=2)
    return topk.withColumn("files_shrunk", F.lit(files_after < files_before))


def emb_stream_ivfpq_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The memory-scale twin of emb_stream_index_ingest: quantizers are
    Lloyd-trained offline (similarity.ivfpq_train_micro — the standard
    train-offline / encode-online split), the embeddings stream is
    compressed IN-STREAM to its M PQ codes (similarity.ivfpq_encode_micro
    is a stateless literal-model projection, so it runs unchanged on a
    streaming frame) and appended EXACTLY-ONCE into the codes-only IVFADC
    list layout; the drained index answers ADC top-k through the
    DPP-pruned read path (sources/ann_index.ivfpq_index_topk_micro).
    Everything stays BIGINT end to end, so the whole
    stream→compress→index→serve loop is gated by the same bit-exact
    sim_ann_ivfpq_lloyd oracle."""
    from codecdb_queryengine_spark.sources import ann_index as AI
    from codecdb_queryengine_spark.streaming import events as E
    from codecdb_queryengine_spark.streaming import sinks as SK

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    # fresh: the file sink's commit log must not see a prior invocation's
    # ingested lists or the stream would (correctly) append nothing new
    base = _scratch_dir("ivfpq_stream_index", sf_dir, fresh=True)
    AI._write_model_table(
        spark, os.path.join(base, "centroids"), sorted(cents),
        (("c_id", "long"), ("c", "array")),
    )
    AI._write_model_table(
        spark, os.path.join(base, "codebooks"), sorted(cbs),
        (("m", "long"), ("c_id", "long"), ("c_sub", "array")),
    )
    stream = E.read_table_stream(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    enc = S.ivfpq_encode_micro(stream, cents, cbs, dim=64)
    q = SK.stream_to_parquet(
        enc,
        os.path.join(base, "lists"),
        os.path.join(base, "ckpt"),
        partition_by=("c_list",),
    )
    q.awaitTermination()
    return AI.ivfpq_index_topk_micro(
        spark, base, _query_vectors(emb), k=_TOP_K, nprobe=2
    )


def emb_encode_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-gated parity between the two IVF assignment implementations
    (r4 verdict item 5): the oracle-mirrorable expression fold
    (similarity.ivf_assign_expr — what emb_stream_encode gates) and the
    Arrow batch-matmul fast path (similarity.ivf_assign_arrow — what a
    production ingest stream runs, 3× faster scoring, previously pinned
    only in tests).  Both assign every corpus vector; the query emits the
    exact integer counts (total, mismatches) — mismatches can only arise
    from numpy pairwise- vs fold left-summation on near-tied centroids,
    and on this corpus there are none, which the oracle now asserts per
    gate run instead of per test run.

    The tie-margin assumption is itself a CHECKED precondition (r7
    ADVICE): `n_margin_tight` counts vectors whose best-vs-runner-up
    centroid-similarity margin is below 1e-9 — five orders of magnitude
    above the ~1e-14 divergence float64 summation order can introduce,
    yet far below any real margin on this corpus.  The oracle states 0,
    so if a future corpus DOES carry a near-tie, this column goes red
    alongside (or instead of) n_mismatch and the failure attributes
    straight to the float-order artifact rather than reading as an
    assignment-logic regression in emb_stream_encode_fast."""
    emb = load_tables(spark, sf_dir)["embeddings"].filter(
        F.col("embedding").isNotNull()
    )
    cents_df = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    cents = cents_df.select("c_id", "c_vec").collect()
    cmodel = F.broadcast(S._model_1row(cents_df, "c_id", "c_vec", "c_norm"))
    sims = F.array_sort(
        F.transform(
            F.col("model"),
            lambda c: S.dot(F.col("embedding"), c["c_vec"]) / c["c_norm"],
        )
    )
    fold = emb.crossJoin(cmodel).select(
        F.col("vec_id").alias("n_id"),
        S.ivf_assign_expr("embedding", cents).alias("c_fold"),
        (F.element_at(sims, -1) - F.element_at(sims, -2)).alias("margin"),
    )
    arrow = S.ivf_assign_arrow(emb, centroids=cents_df)
    return fold.join(arrow, "n_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum((F.col("c_fold") != F.col("c_list")).cast("long")).alias("n_mismatch"),
        F.sum((F.col("margin") < F.lit(1e-9)).cast("long")).alias("n_margin_tight"),
    )


_EMB_ENCODE_PARITY_SQL = """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(0 AS BIGINT) AS n_margin_tight
    FROM embeddings WHERE embedding IS NOT NULL
"""


def emb_stream_encode_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """emb_stream_encode's vectorized twin: the same stateless in-stream
    IVF assignment through ONE Arrow batch matmul per partition
    (similarity.ivf_assign_arrow) instead of the interpreted 69-centroid
    expression fold — the throughput path for a production ingest stream.
    VALUE-gated against the expression fold's oracle (r6 verdict item 2
    retired the rows-only category): numpy's pairwise summation could in
    principle diverge from the left-to-right fold on near-tied centroids,
    but emb_encode_parity proves zero assignment mismatches on this corpus
    per gate run (and tests/test_ann_recall.py pins equality on separated
    data), so the per-list counts here hash bit-exact against the same
    _emb_stream_encode_sql oracle the fold form uses — a future near-tie
    divergence would surface as a hash mismatch here AND a nonzero
    n_mismatch in emb_encode_parity, pointing straight at the cause."""
    from codecdb_queryengine_spark.streaming import events as E

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = emb.filter(F.col("vec_id") % 29 == 0).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("c_vec"),
        S.norm(F.col("embedding")).alias("c_norm"),
    )
    stream = E.read_table_stream(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    encoded = S.ivf_assign_arrow(stream, centroids=cents)
    res = E.run_to_memory(encoded, "q_emb_stream_encode_fast", output_mode="append")
    return (
        res.groupBy("c_list")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("c_list")
    )


def _emb_stream_encode_sql(dim: int = 64, centroid_mod: int = 29) -> str:
    def dotvc(va: str, vb: str) -> str:
        return " + ".join(
            f"CAST({va}[{d + 1}] AS DOUBLE) * CAST({vb}[{d + 1}] AS DOUBLE)"
            for d in range(dim)
        )

    sim = f"({dotvc('v.embedding', 'c.c_vec')}) / sqrt({dotvc('c.c_vec', 'c.c_vec')})"
    return f"""
        WITH cents AS (
            SELECT vec_id AS c_id, embedding AS c_vec
            FROM embeddings WHERE vec_id % {centroid_mod} = 0),
        assign AS (
            SELECT n_id, c_id AS c_list FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {sim} DESC, c.c_id ASC) AS r
                FROM embeddings v CROSS JOIN cents c
                WHERE v.embedding IS NOT NULL) WHERE r = 1)
        SELECT c_list, count(*) AS n_vectors
        FROM assign GROUP BY c_list ORDER BY c_list
    """


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing word 3-shingles
    with the held-out eval slice (doc_id % 23 == 0 stands in for the
    benchmark set).  Eval shingle set is broadcast; the corpus is never
    shuffled on shingles (operators/corpus.py:31)."""
    docs = load_tables(spark, sf_dir)["documents"]
    train = docs.filter(F.col("doc_id") % 23 != 0)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    return C.decontaminate(train, ev, "text", "doc_id", k=3)


_DECONTAM_SQL = f"""
    WITH ev AS (
        SELECT DISTINCT unnest({_sql_word_shingles(3)}) AS s
        FROM documents WHERE doc_id % 23 = 0
    ),
    tr AS (
        SELECT doc_id, unnest({_sql_word_shingles(3)}) AS s
        FROM documents WHERE doc_id % 23 <> 0
    )
    SELECT tr.doc_id, count(*) AS n_contaminated
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id
"""


def docs_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash-LSH candidates BETWEEN the
    training corpus and the eval slice, exact Jaccard verified — catches
    paraphrase-level contamination where whole documents are similar, not
    just sharing a few shingles (dedup.cross_minhash_pairs; same eval
    split as docs_decontaminate)."""
    docs = load_tables(spark, sf_dir)["documents"]
    train = docs.filter(F.col("doc_id") % 23 != 0)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    return D.cross_minhash_pairs(
        train, ev, "text", "doc_id", num_hashes=8, bands=2, shingle_words=3,
        threshold=0.12,
    ).orderBy("id_a", "id_b")


def _cross_minhash_sql(
    num_hashes: int = 8, bands: int = 2, k: int = 3, thr: float = 0.12
) -> str:
    r = num_hashes // bands
    mins = _sql_minhash_mins(num_hashes)
    band_keys = ", ".join(
        "concat_ws('_', " + ", ".join(f"m{b * r + j}" for j in range(r)) + f") AS bk{b}"
        for b in range(bands)
    )

    def chain(name: str, where: str) -> str:
        band_union = " UNION ALL ".join(
            f"SELECT mh_id, {b} AS band, bk{b} AS band_key FROM sigs_{name}"
            for b in range(bands)
        )
        return f"""
        sh_{name} AS (
            SELECT mh_id, shingles FROM (
                SELECT doc_id AS mh_id, {_sql_word_shingles(k)} AS shingles
                FROM documents WHERE {where})
            WHERE len(shingles) > 0),
        sig0_{name} AS (SELECT mh_id, shingles, {mins} FROM sh_{name}),
        sigs_{name} AS (SELECT *, {band_keys} FROM sig0_{name}),
        bk_{name} AS ({band_union})"""

    return f"""
        WITH {chain("a", "doc_id % 23 <> 0")},
        {chain("b", "doc_id % 23 = 0")},
        cand AS (
            SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
            FROM bk_a a JOIN bk_b b
              ON a.band = b.band AND a.band_key = b.band_key)
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   CAST(len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))) AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))))
                     AS jaccard
            FROM cand
            JOIN sh_a sa ON sa.mh_id = id_a
            JOIN sh_b sb ON sb.mh_id = id_b)
        WHERE jaccard >= {thr}
        ORDER BY id_a, id_b
    """


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per-doc token offset within its
    pack bucket and the fixed-256-token training sequences it spans."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.pack_offsets(
        docs, T.token_count("text"), "doc_id", budget=256, n_buckets=8
    )


_PACK_SQL = f"""
    SELECT doc_id, bucket, n_tokens, tok_offset,
           CAST(floor(tok_offset / 256.0) AS BIGINT) AS seq_first,
           CAST(floor((tok_offset + greatest(n_tokens, 1) - 1) / 256.0) AS BIGINT)
             AS seq_last
    FROM (
        SELECT doc_id, doc_id % 8 AS bucket,
               CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
               CAST(COALESCE(SUM(CAST({_SQL_NTOK} AS BIGINT)) OVER (
                   PARTITION BY doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS tok_offset
        FROM documents)
"""


def docs_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-chunk occupancy of the packed corpus: how many docs and tokens
    land in each fixed-256-token training sequence (the fill-rate report a
    packing pass emits).  Each doc explodes into only the chunks it spans
    (≤ n_tokens/budget + 1 rows), token contribution clipped to the chunk
    boundaries — ints only, one (bucket, seq) shuffle.
    """
    budget = 256
    p = C.pack_offsets(
        load_tables(spark, sf_dir)["documents"],
        T.token_count("text"),
        "doc_id",
        budget=budget,
        n_buckets=8,
    )
    end = F.col("tok_offset") + F.col("n_tokens")
    chunk_lo = F.col("seq") * budget
    contrib = F.least(end, chunk_lo + budget) - F.greatest(
        F.col("tok_offset"), chunk_lo
    )
    return (
        p.select(
            "bucket",
            "tok_offset",
            "n_tokens",
            F.explode(F.sequence("seq_first", "seq_last")).alias("seq"),
        )
        .withColumn("contrib", contrib)
        .filter(F.col("contrib") > 0)
        .groupBy("bucket", "seq")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("contrib").alias("chunk_tokens"),
        )
        .orderBy("bucket", "seq")
    )


_PACK_CHUNKS_SQL = f"""
    WITH p AS ({_PACK_SQL}),
    x AS (
        SELECT bucket, tok_offset, n_tokens,
               unnest(range(seq_first, seq_last + 1)) AS seq
        FROM p),
    c AS (
        SELECT bucket, seq,
               least(tok_offset + n_tokens, seq * 256 + 256)
                 - greatest(tok_offset, seq * 256) AS contrib
        FROM x)
    SELECT bucket, seq, count(*) AS n_docs, CAST(sum(contrib) AS BIGINT) AS chunk_tokens
    FROM c WHERE contrib > 0
    GROUP BY bucket, seq ORDER BY bucket, seq
"""


def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Gopher-style quality rules -> per-rule flags + keep."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.quality_filter(docs, "text", "doc_id")


_QUALITY_FILTER_SQL = f"""
    SELECT doc_id, too_short, too_long, low_stop, high_punct, low_uniq,
           NOT (too_short OR too_long OR low_stop OR high_punct OR low_uniq)
             AS keep
    FROM (
        SELECT doc_id,
               ({_SQL_NTOK} < {C.MIN_TOKENS}) AS too_short,
               ({_SQL_NTOK} > {C.MAX_TOKENS}) AS too_long,
               (CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1)
                  < {C.MIN_STOPWORD_RATIO}) AS low_stop,
               (({_SQL_PUNCT}) > {C.MAX_PUNCT_RATIO}) AS high_punct,
               (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE)
                  / greatest({_SQL_NTOK}, 1) < {C.MIN_UNIQ_RATIO}) AS low_uniq
        FROM documents)
"""


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/lexicon masking audit: match count, masked length, md5 of the
    masked text (pins the exact rewrite without hashing full strings)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.redact(docs, "text", "doc_id")


_REDACT_SQL = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{C.MASK_PATTERN}')) AS BIGINT)
             AS n_masked,
           CAST(length(regexp_replace(text, '{C.MASK_PATTERN}', '{C.MASK_TOKEN}', 'g'))
             AS BIGINT) AS red_len,
           md5(regexp_replace(text, '{C.MASK_PATTERN}', '{C.MASK_TOKEN}', 'g'))
             AS red_md5
    FROM documents
"""


QUERIES = {
    "text_stats": text_stats,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_bpe_stats": text_bpe_stats,
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_verified": dedup_minhash_verified,
    "dedup_fuzzy": dedup_fuzzy,
    "dedup_canonical": dedup_canonical,
    "dedup_embedding": dedup_embedding,
    "dedup_semantic": dedup_semantic,
    "docs_dedup_segments": docs_dedup_segments,
    "docs_dedup_substrings": docs_dedup_substrings,
    "docs_search_index": docs_search_index,
    "docs_search_phrase": docs_search_phrase,
    "docs_search_ranked": docs_search_ranked,
    "docs_search_upserted": docs_search_upserted,
    "docs_search_purged": docs_search_purged,
    "docs_stream_mutations": docs_stream_mutations,
    "docs_search_cached": docs_search_cached,
    "docs_hybrid_search": docs_hybrid_search,
    "docs_hybrid_search_batch": docs_hybrid_search_batch,
    "docs_chunk_overlap": docs_chunk_overlap,
    "docs_stream_index_ingest": docs_stream_index_ingest,
    "docs_stream_index_compact": docs_stream_index_compact,
    "docs_stream_compact_selective": docs_stream_compact_selective,
    "docs_upsert_partitioned": docs_upsert_partitioned,
    "dedup_clusters": dedup_clusters,
    "graph_cc_chain": graph_cc_chain,
    "graph_cc_chain_ckpt": graph_cc_chain_ckpt,
    "dedup_keep_docs": dedup_keep_docs,
    "dedup_report": dedup_report,
    "dedup_simhash_clusters": dedup_simhash_clusters,
    "dedup_incremental": dedup_incremental,
    "docs_topterms": docs_topterms,
    "docs_bigrams": docs_bigrams,
    "docs_pmi": docs_pmi,
    "docs_mixture_weights": docs_mixture_weights,
    "docs_dsir_sample": docs_dsir_sample,
    "graph_pagerank": graph_pagerank,
    "graph_triangles": graph_triangles,
    "graph_pagerank_ckpt": graph_pagerank_ckpt,
    "docs_dup_spans": docs_dup_spans,
    "docs_winnow": docs_winnow,
    "sim_ann_sq8": sim_ann_sq8,
    "emb_pca_power": emb_pca_power,
    "emb_pca_project": emb_pca_project,
    "emb_pca_served": emb_pca_served,
    "events_variant_props": events_variant_props,
    "events_hll_rollup": events_hll_rollup,
    "docs_train_classifier": docs_train_classifier,
    "docs_binaryfile": docs_binaryfile,
    "docs_quality_by_source": docs_quality_by_source,
    "docs_shuffle_order": docs_shuffle_order,
    "docs_train_split": docs_train_split,
    "docs_downsample_stratified": docs_downsample_stratified,
    "docs_corpus_mix": docs_corpus_mix,
    "docs_sample_stratified": docs_sample_stratified,
    "docs_sample_weighted": docs_sample_weighted,
    "docs_decontaminate": docs_decontaminate,
    "docs_decontaminate_lsh": docs_decontaminate_lsh,
    "docs_pack_sequences": docs_pack_sequences,
    "docs_pack_chunks": docs_pack_chunks,
    "docs_quality_filter": docs_quality_filter,
    "text_redact": text_redact,
    "text_repetition": text_repetition,
    "docs_length_hist": docs_length_hist,
    "docs_tfidf": docs_tfidf,
    "text_countmin": text_countmin,
    "text_bpe_trained": text_bpe_trained,
    "text_heavy_hitters": text_heavy_hitters,
    "text_lm_score": text_lm_score,
    "docs_classify": docs_classify,
    "docs_novelty": docs_novelty,
    "docs_io_roundtrip": docs_io_roundtrip,
    "docs_compact_roundtrip": docs_compact_roundtrip,
    "events_funnel": events_funnel,
    "events_json_props": events_json_props,
    "events_resample": events_resample,
    "events_interpolate": events_interpolate,
    "events_ewma": events_ewma,
    "events_anomaly": events_anomaly,
    "events_retention": events_retention,
    "sim_topk": sim_topk,
    "sim_ann_lsh": sim_ann_lsh,
    "sim_ann_ivf": sim_ann_ivf,
    "sim_ann_ivf_indexed": sim_ann_ivf_indexed,
    "sim_ann_ivf_indexed_split": sim_ann_ivf_indexed_split,
    "sim_ann_ivf_indexed_append": sim_ann_ivf_indexed_append,
    "sim_ann_ivf_cached": sim_ann_ivf_cached,
    "sim_ann_ivf_appended_split": sim_ann_ivf_appended_split,
    "sim_ann_ivf_upserted": sim_ann_ivf_upserted,
    "emb_stream_mutations": emb_stream_mutations,
    "emb_stream_pq_mutations": emb_stream_pq_mutations,
    "sim_ann_ivf_filtered": sim_ann_ivf_filtered,
    "sim_ann_pq": sim_ann_pq,
    "sim_ann_ivfpq": sim_ann_ivfpq,
    "sim_ann_recall_ivf": sim_ann_recall_ivf,
    "sim_ann_recall_ivfpq": sim_ann_recall_ivfpq,
    "sim_ann_recall_lsh": sim_ann_recall_lsh,
    "sim_ann_ivfpq_reranked": sim_ann_ivfpq_reranked,
    "sim_ann_recall_ivfpq_reranked": sim_ann_recall_ivfpq_reranked,
    "sim_ann_ivf_reranked": sim_ann_ivf_reranked,
    "sim_ann_recall_ivf_reranked": sim_ann_recall_ivf_reranked,
    "sim_ann_lsh_reranked": sim_ann_lsh_reranked,
    "sim_ann_recall_lsh_reranked": sim_ann_recall_lsh_reranked,
    "sim_ann_ivfpq_curve": sim_ann_ivfpq_curve,
    "sim_ann_ivf_lloyd": sim_ann_ivf_lloyd,
    "sim_ann_ivf_lloyd_indexed": sim_ann_ivf_lloyd_indexed,
    "sim_ann_pq_lloyd": sim_ann_pq_lloyd,
    "sim_ann_ivfpq_lloyd": sim_ann_ivfpq_lloyd,
    "sim_ann_ivfpq_lloyd_indexed": sim_ann_ivfpq_lloyd_indexed,
    "sim_ann_ivfpq_filtered": sim_ann_ivfpq_filtered,
    "sim_ann_ivfpq_upserted": sim_ann_ivfpq_upserted,
    "mm_features": mm_features,
    "mm_decode_real": mm_decode_real,
    "mm_phash_dedup": mm_phash_dedup,
    "mm_phash_resized": mm_phash_resized,
    "mm_decode_audio": mm_decode_audio,
    "mm_decode_video": mm_decode_video,
    "mm_frames": mm_frames,
    "mm_ann": mm_ann,
    "events_window": events_window,
    "events_rolling": events_rolling,
    "events_sessionize": events_sessionize,
    "events_asof": events_asof,
    "events_asof_forward": events_asof_forward,
    "events_range_join": events_range_join,
    "events_stream_window": events_stream_window,
    "events_stream_totals": events_stream_totals,
    "events_stream_sessions": events_stream_sessions,
    "events_stream_dedup": events_stream_dedup,
    "events_stream_sliding": events_stream_sliding,
    "events_stream_join": events_stream_join,
    "events_stream_files": events_stream_files,
    "events_stream_enrich": events_stream_enrich,
    "events_stream_rollup": events_stream_rollup,
    "docs_stream_ingest": docs_stream_ingest,
    "docs_stream_quality": docs_stream_quality,
    "events_stream_score": events_stream_score,
    "emb_stream_encode": emb_stream_encode,
    "emb_stream_encode_fast": emb_stream_encode_fast,
    "emb_encode_parity": emb_encode_parity,
    "emb_label_centroids": emb_label_centroids,
    "emb_label_eval": emb_label_eval,
    "emb_stream_index_ingest": emb_stream_index_ingest,
    "emb_stream_index_compact": emb_stream_index_compact,
    "emb_stream_ivfpq_ingest": emb_stream_ivfpq_ingest,
}

# Entries whose build only plans over the base tables — no Spark job, no
# file, no stream — so the registry analyzes each once per session
# (catalog.plan_once).  Index, stream, mutation and build-time-training
# entries are absent: their build does the work being asked for.
PLAN_ONCE = frozenset({
    "text_stats",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_bpe_stats",
    "dedup_exact",
    "dedup_minhash",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_minhash_verified",
    "dedup_fuzzy",
    "dedup_canonical",
    "docs_dedup_segments",
    "docs_dedup_substrings",
    "docs_chunk_overlap",
    "dedup_incremental",
    "docs_topterms",
    "docs_bigrams",
    "docs_pmi",
    "docs_mixture_weights",
    "docs_dsir_sample",
    "graph_triangles",
    "docs_dup_spans",
    "docs_winnow",
    "events_variant_props",
    "events_hll_rollup",
    "docs_quality_by_source",
    "docs_train_split",
    "docs_downsample_stratified",
    "docs_corpus_mix",
    "docs_sample_stratified",
    "docs_sample_weighted",
    "docs_decontaminate",
    "docs_decontaminate_lsh",
    "docs_pack_sequences",
    "docs_pack_chunks",
    "docs_quality_filter",
    "text_redact",
    "text_repetition",
    "docs_length_hist",
    "docs_tfidf",
    "text_countmin",
    "text_lm_score",
    "docs_classify",
    "docs_novelty",
    "events_funnel",
    "events_json_props",
    "events_resample",
    "events_interpolate",
    "events_ewma",
    "events_anomaly",
    "events_retention",
    "sim_topk",
    "sim_ann_lsh",
    "sim_ann_ivf",
    "sim_ann_pq",
    "sim_ann_recall_ivf",
    "sim_ann_recall_lsh",
    "sim_ann_ivf_reranked",
    "sim_ann_recall_ivf_reranked",
    "sim_ann_lsh_reranked",
    "sim_ann_recall_lsh_reranked",
    "mm_features",
    "mm_decode_real",
    "mm_phash_dedup",
    "mm_phash_resized",
    "mm_decode_audio",
    "mm_decode_video",
    "mm_frames",
    "mm_ann",
    "events_window",
    "events_rolling",
    "events_sessionize",
    "events_asof",
    "events_asof_forward",
    "events_range_join",
    "emb_label_centroids",
})


ORACLE: dict[str, str] = {
    "text_stats": _TEXT_STATS_SQL,
    "text_quality": _TEXT_QUALITY_SQL,
    "text_langid": _TEXT_LANGID_SQL,
    "text_fingerprint": _TEXT_FP_SQL,
    "text_bpe_stats": _TEXT_BPE_SQL,
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_minhash": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(max_hamming=3, bands=5, bits=60),
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_minhash_verified": _minhash_verified_sql(),
    "dedup_fuzzy": _DEDUP_FUZZY_SQL,
    "dedup_canonical": _DEDUP_CANONICAL_SQL,
    "dedup_embedding": _emb_dup_auto_sql(),
    "dedup_semantic": _semdedup_sql(),
    "docs_dedup_segments": _DEDUP_SEGMENTS_SQL,
    "docs_dedup_substrings": _DEDUP_SUBSTRINGS_SQL,
    "docs_search_index": _search_index_sql(),
    "docs_search_phrase": _search_phrase_sql(),
    "docs_search_ranked": _search_ranked_sql(),
    "docs_search_upserted": _search_upserted_sql(),
    "docs_stream_mutations": _search_upserted_sql(),
    "docs_search_cached": _search_upserted_sql(),
    "docs_hybrid_search": _hybrid_search_sql(),
    "docs_hybrid_search_batch": _hybrid_batch_sql(),
    "docs_chunk_overlap": _chunk_overlap_sql(),
    "docs_search_purged": _search_ranked_sql(
        src="mutated", pre_cte=_TI_MUTATED_CTE + "\n        "
    ),
    "docs_stream_index_ingest": _search_index_sql(),
    "docs_upsert_partitioned": _DOCS_UPSERT_SQL,
    "docs_stream_compact_selective": _DOCS_SEL_COMPACT_SQL,
    "docs_stream_index_compact": "SELECT s.*, TRUE AS files_shrunk FROM ("
    + _search_index_sql()
    + ") s",
    "dedup_clusters": _dedup_clusters_sql(),
    "graph_cc_chain": _GRAPH_CC_CHAIN_SQL,
    "graph_cc_chain_ckpt": _GRAPH_CC_CHAIN_SQL,
    "emb_encode_parity": _EMB_ENCODE_PARITY_SQL,
    "emb_label_centroids": _label_centroids_sql(),
    "emb_label_eval": _label_eval_sql(),
    "dedup_keep_docs": _dedup_keep_sql(),
    "dedup_report": _dedup_report_sql(),
    "dedup_simhash_clusters": _simhash_clusters_sql(),
    "dedup_incremental": _DEDUP_INCR_SQL,
    "docs_topterms": _DOCS_TOPTERMS_SQL,
    "docs_bigrams": _BIGRAMS_SQL,
    "docs_pmi": _PMI_SQL,
    "docs_mixture_weights": _MIXTURE_SQL,
    "docs_dsir_sample": _DSIR_SQL,
    "graph_pagerank": _pagerank_sql(),
    "graph_triangles": _TRIANGLES_SQL,
    "graph_pagerank_ckpt": _pagerank_sql(),
    "docs_dup_spans": _DUP_SPANS_SQL,
    "docs_winnow": _WINNOW_SQL,
    "sim_ann_sq8": _sq8_sql(),
    "emb_pca_power": _pca_power_sql(),
    "emb_pca_project": _pca_project_sql(),
    "emb_pca_served": _pca_project_sql(),
    "events_variant_props": _VARIANT_SQL,
    "events_hll_rollup": _HLL_SQL,
    "docs_train_classifier": _train_classifier_sql(),
    "docs_binaryfile": _BINARYFILE_SQL,
    "docs_quality_by_source": _QUALITY_BY_SOURCE_SQL,
    "docs_shuffle_order": _DOCS_SHUFFLE_SQL,
    "docs_train_split": _DOCS_SPLIT_SQL,
    "docs_downsample_stratified": _sample_stratified_sql(),
    "docs_corpus_mix": _corpus_mix_sql(),
    "docs_sample_stratified": _DOCS_SAMPLE_SQL,
    "docs_sample_weighted": _DOCS_SAMPLE_WEIGHTED_SQL,
    "docs_decontaminate": _DECONTAM_SQL,
    "docs_decontaminate_lsh": _cross_minhash_sql(),
    "docs_pack_sequences": _PACK_SQL,
    "docs_pack_chunks": _PACK_CHUNKS_SQL,
    "docs_quality_filter": _QUALITY_FILTER_SQL,
    "text_redact": _REDACT_SQL,
    "text_repetition": _REPETITION_SQL,
    "docs_length_hist": _LENGTH_HIST_SQL,
    "docs_tfidf": _TFIDF_SQL,
    "text_countmin": _countmin_sql(),
    "text_heavy_hitters": _HEAVY_HITTERS_SQL,
    "text_bpe_trained": _BPE_TRAINED_SQL,
    "text_lm_score": _LM_SCORE_SQL,
    "docs_classify": _CLASSIFY_SQL,
    "docs_novelty": _docs_novelty_sql(),
    "docs_io_roundtrip": _IO_ROUNDTRIP_SQL,
    "docs_compact_roundtrip": _COMPACT_ROUNDTRIP_SQL,
    "events_funnel": _EVENTS_FUNNEL_SQL,
    "events_json_props": _EVENTS_JSON_SQL,
    "events_resample": _EVENTS_RESAMPLE_SQL,
    "events_interpolate": _EVENTS_INTERPOLATE_SQL,
    "events_ewma": _EVENTS_EWMA_SQL,
    "events_anomaly": _EVENTS_ANOMALY_SQL,
    "events_retention": _EVENTS_RETENTION_SQL,
    "sim_topk": _SIM_TOPK_SQL,
    "sim_ann_lsh": _ann_sql(),
    "sim_ann_ivf": _ivf_sql(),
    "sim_ann_ivf_indexed": _ivf_sql(),
    "sim_ann_ivf_indexed_split": _ivf_sql(),
    "sim_ann_ivf_indexed_append": _ivf_sql(),
    "sim_ann_ivf_cached": _ivf_sql(),
    "sim_ann_ivf_appended_split": _ivf_sql(),
    "sim_ann_ivf_upserted": _ivf_sql(corpus="mutated", pre_cte=_UPSERTED_PRE_CTE),
    # the drained CDC stream equals the one-batch mutation (disjoint
    # update/delete slices), so the oracle is sim_ann_ivf_upserted's verbatim
    "emb_stream_mutations": _ivf_sql(corpus="mutated", pre_cte=_UPSERTED_PRE_CTE),
    "emb_stream_pq_mutations": _ivf_pq_lloyd_sql(mutated=True),
    "sim_ann_ivf_filtered": _ivf_sql(cand_where="WHERE v.label = 1"),
    "sim_ann_pq": _pq_sql(),
    "sim_ann_ivfpq": _ivf_pq_sql(),
    "sim_ann_recall_ivf": _recall_sql(_ivf_sql(k=_RECALL_K)),
    "sim_ann_recall_ivfpq": _recall_sql(_ivf_pq_sql(k=_RECALL_K)),
    "sim_ann_recall_lsh": _recall_sql(_ann_sql(k=_RECALL_K)),
    "sim_ann_ivfpq_reranked": _reranked_sql(_ivf_pq_sql(k=_RERANK_R)),
    "sim_ann_recall_ivfpq_reranked": _recall_sql(
        _reranked_sql(_ivf_pq_sql(k=_RERANK_R), k=_RECALL_K)
    ),
    "sim_ann_ivf_reranked": _reranked_sql(_ivf_coarse_short_sql()),
    "sim_ann_recall_ivf_reranked": _recall_sql(
        _reranked_sql(_ivf_coarse_short_sql(), k=_RECALL_K)
    ),
    "sim_ann_lsh_reranked": _reranked_sql(_lsh_collision_short_sql()),
    "sim_ann_recall_lsh_reranked": _recall_sql(
        _reranked_sql(_lsh_collision_short_sql(), k=_RECALL_K)
    ),
    "sim_ann_ivfpq_curve": _ivfpq_curve_sql(),
    "sim_ann_ivf_lloyd": _ivf_lloyd_sql(),
    "sim_ann_ivf_lloyd_indexed": _ivf_lloyd_sql(),
    "sim_ann_pq_lloyd": _pq_lloyd_sql(),
    "sim_ann_ivfpq_lloyd": _ivf_pq_lloyd_sql(),
    "sim_ann_ivfpq_lloyd_indexed": _ivf_pq_lloyd_sql(),
    "sim_ann_ivfpq_filtered": _ivf_pq_lloyd_sql(cand_filter="e.label = 1"),
    "sim_ann_ivfpq_upserted": _ivf_pq_lloyd_sql(mutated=True),
    "mm_features": _mm_sql(),
    "mm_decode_real": _mm_decode_real_sql(),
    "mm_phash_dedup": _mm_phash_sql(),
    "mm_phash_resized": _mm_phash_resized_sql(),
    "mm_decode_audio": _mm_decode_audio_sql(),
    "mm_decode_video": _MM_DECODE_VIDEO_SQL,
    "mm_frames": _MM_FRAMES_SQL,
    "mm_ann": _mm_ann_sql(),
    "events_window": _EVENTS_WINDOW_SQL,
    "events_rolling": _EVENTS_ROLLING_SQL,
    "events_sessionize": _EVENTS_SESSION_SQL,
    "events_asof": _EVENTS_ASOF_SQL,
    "events_asof_forward": _EVENTS_ASOF_FWD_SQL,
    "events_range_join": _EVENTS_RANGE_SQL,
    "events_stream_window": _EVENTS_STREAM_WINDOW_SQL,
    "events_stream_totals": _EVENTS_STREAM_TOTALS_SQL,
    "events_stream_sessions": _EVENTS_STREAM_SESSIONS_SQL,
    "events_stream_dedup": _EVENTS_STREAM_DEDUP_SQL,
    "events_stream_sliding": _EVENTS_STREAM_SLIDING_SQL,
    "events_stream_join": _EVENTS_STREAM_JOIN_SQL,
    "events_stream_files": _EVENTS_STREAM_FILES_SQL,
    "events_stream_enrich": _EVENTS_STREAM_ENRICH_SQL,
    "events_stream_rollup": _EVENTS_STREAM_ROLLUP_SQL,
    "docs_stream_ingest": _DEDUP_INCR_SQL,
    "docs_stream_quality": _DOCS_STREAM_QUALITY_SQL,
    "events_stream_score": _EVENTS_ANOMALY_SQL,
    "emb_stream_encode": _emb_stream_encode_sql(),
    "emb_stream_encode_fast": _emb_stream_encode_sql(),
    "emb_stream_index_ingest": _ivf_sql(),
    "emb_stream_index_compact": "SELECT s.*, TRUE AS files_shrunk FROM ("
    + _ivf_sql()
    + ") s",
    "emb_stream_ivfpq_ingest": _ivf_pq_lloyd_sql(),
}
