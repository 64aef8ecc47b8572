"""Deduplication operators for large-scale corpus pipelines.

No counterpart exists in the reference engine (its world is TPC-H/SSB —
SURVEY.md §2); these are the driver-mandated extensions, built Spark-first:

- exact_dedup          hash-groupBy on a content digest (one shuffle)
- minhash_lsh_*        shingle → MinHash signature (scan-side Arrow UDF,
                       no explode) → band keys → bucket self-join → verified
                       Jaccard.  The standard near-dup pipeline: candidate
                       generation is O(n·bands) shuffle, verification runs
                       only inside buckets — never the O(n²) cross join.
- simhash              per-token 32-bit hash, per-bit majority vote folded
                       into one aggregate pass (explode only over tokens).
- ngram_jaccard_pairs  exact Jaccard via shingle inverted index self-join —
                       the verification primitive; at scale it runs on LSH
                       candidates, not the full corpus.
- embedding_near_dups  cosine near-duplicate pairs over a vector column.
- semantic_dedup       SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
                       exact-Lloyd k-means clusters over embeddings, then a
                       within-cluster quantized-cosine prune — pairwise cost
                       is bounded by cluster size, never the full corpus.
- segment_dedup        sub-document segment-level dedup (the RefinedWeb /
                       Gopher "remove duplicated lines across the corpus"
                       rule — Penedo et al. 2023, arXiv:2306.01116 §3.3 —
                       with a deterministic fixed-width token segmenter in
                       place of newline splitting): keep-first across the
                       whole corpus, rebuild each document from surviving
                       segments.
- exact_substring_dedup  ExactSubstr span removal (Lee et al. 2022,
                       arXiv:2107.06499 §4.1): remove every token covered
                       by a duplicated k-gram window that is not the
                       corpus-wide first occurrence, rebuild the document
                       from the surviving positions.  The surgery half of
                       docs_dup_spans' measurement.

Everything is built from pyspark.sql.functions so each operator has an
exact DuckDB mirror in oracle/dedup.py.
"""

from __future__ import annotations

# Module-level so the pandas-UDF type hints (stringified by the future
# annotations import) resolve against module globals.
import re

import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.functions import pandas_udf

from codecdb_queryengine_spark.functions import text as T


def _spread(df: DataFrame, key: str) -> DataFrame:
    """Ensure at least defaultParallelism partitions before CPU-heavy
    per-row hashing.  Local single-file parquet arrives as ONE partition,
    serializing all md5 work; at cluster scale inputs already exceed the
    target and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content digest.

    100-TB note: groupBy on md5 digest is one hash shuffle with map-side
    partial agg; digests are uniform so no skew.
    """
    return (
        df.withColumn("digest", F.md5(F.col(content_col)))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def canonical_text(c) -> "F.Column":
    """Canonical form for fuzzy-exact dedup: lowercase, strip every
    character outside [a-z0-9 ], collapse whitespace runs, trim.  Catches
    the case/punctuation/spacing variants exact_dedup misses while
    staying a pure column expression with an exact DuckDB mirror."""
    col = F.col(c) if isinstance(c, str) else c
    lowered = F.lower(col)
    stripped = F.regexp_replace(lowered, "[^a-z0-9 ]", "")
    collapsed = F.regexp_replace(stripped, " +", " ")
    return F.trim(collapsed)


def canonical_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """exact_dedup over the canonical text form: one md5-digest shuffle,
    same scale shape, but case/punctuation/whitespace variants of the
    same content collapse into one group."""
    return (
        df.withColumn("digest", F.md5(canonical_text(content_col)))
        .groupBy("digest")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def minhash_signatures(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 8,
    shingle_words: int = 3,
) -> DataFrame:
    """id, shingles, MinHash signature — computed scan-side, no shuffle
    (beyond the parallelism spread for pathological single-partition inputs).

    One Arrow-batched pandas UDF computes tokens → shingles → signature per
    batch: whitespace-regex tokens, first-occurrence-distinct word k-grams,
    signature element i = min over shingles of hex chars
    [8·(i%4), 8·(i%4)+8) of md5(prefix_{i//4} || shingle) — four 32-bit
    hashes per digest (functions/text.py HASHES_PER_DIGEST).  Python's
    hashlib.md5 is bit-identical to DuckDB's md5 and the hex-slice mins are
    plain string compares, so the oracle's SQL mirror pins the result
    exactly.  Measured ~10× faster than the same tree as Spark
    higher-order-function lambdas (transform/aggregate are interpreted per
    element, ~1 ms/doc, against ~0.1 ms/doc here); Arrow moves only
    (id, text) in and (shingles, sig) out.

    Docs shorter than shingle_words words have NO shingles: their signature
    would be all-null and every such doc would share the one empty band_key
    per band, collapsing into a single giant LSH bucket whose candidate join
    is quadratic in the short-doc count.  They can never pass Jaccard
    verification anyway — they are dropped before banding.
    """
    import hashlib

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    shingler = _shingler(shingle_words)
    n_digests = -(-num_hashes // T.HASHES_PER_DIGEST)
    prefixes = [T.minhash_digest_prefix(j).encode() for j in range(n_digests)]
    slots = [divmod(i, T.HASHES_PER_DIGEST) for i in range(num_hashes)]

    out_type = StructType(
        [
            StructField("shingles", ArrayType(StringType())),
            StructField("sig", ArrayType(StringType())),
        ]
    )

    @pandas_udf(returnType=out_type)
    def mh(texts: pd.Series) -> pd.DataFrame:
        sh_out, sig_out = [], []
        for text in texts:
            shingles = shingler(text)
            if not shingles:
                sh_out.append([])
                sig_out.append(None)
                continue
            digests = [
                [hashlib.md5(p + s.encode()).hexdigest() for s in shingles]
                for p in prefixes
            ]
            sig = [
                min(h[8 * slot : 8 * slot + 8] for h in digests[j]) for j, slot in slots
            ]
            sh_out.append(shingles)
            sig_out.append(sig)
        return pd.DataFrame({"shingles": sh_out, "sig": sig_out})

    return (
        _spread(df, id_col)
        .select(F.col(id_col).alias("mh_id"), mh(F.col(content_col)).alias("__mh"))
        .select("mh_id", F.col("__mh.shingles").alias("shingles"), F.col("__mh.sig").alias("sig"))
        .filter(F.size("shingles") > 0)
    )


def _shingler(k: int):
    """text -> its distinct word k-grams in first-occurrence order, as the
    oracle's list_distinct over whitespace-split tokens builds them; empty
    when the text has fewer than k words.  Built per call, so the pandas
    UDFs that use it ship it by value to the Python workers."""
    ws = re.compile(r"\s+")

    def shingles(text: str | None) -> list[str]:
        toks = ws.split(text.strip()) if text is not None else []
        if len(toks) < k:
            return []
        return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)))

    return shingles


def shingle_sets(
    df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_words: int = 3,
) -> DataFrame:
    """(mh_id, shingles): distinct word k-gram sets per doc (empty sets
    dropped), built per Arrow batch exactly as minhash_signatures builds
    them."""
    from pyspark.sql.types import ArrayType, StringType

    shingler = _shingler(shingle_words)

    @pandas_udf(returnType=ArrayType(StringType()))
    def sh(texts: pd.Series) -> pd.Series:
        return pd.Series([shingler(text) for text in texts])

    return (
        _spread(df, id_col)
        .select(F.col(id_col).alias("mh_id"), sh(F.col(content_col)).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )


def minhash_band_keys(sig_df: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Explode the signature into (band_idx, band_key) rows.

    band_key concatenates the band's signature slice; equal keys = candidate
    bucket.  Output size = n_docs × bands.
    """
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("_", F.slice("sig", b * rows_per_band + 1, rows_per_band)).alias("key"),
        )
        for b in range(bands)
    ]
    return sig_df.select(
        "mh_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("mh_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("band_key"))


def minhash_candidate_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_words: int = 3,
) -> DataFrame:
    """Distinct unordered candidate pairs sharing ≥1 LSH band."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, content_col, id_col, num_hashes, shingle_words)
    return _candidate_pairs_from_sig(sig, bands, rows_per_band)


def _candidate_pairs_from_sig(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """Bucket-grouped pair expansion over a precomputed signature frame.

    One shuffle on the band key — see operators/bucketing.py for why this
    beats the band self-join.
    """
    from codecdb_queryengine_spark.operators.bucketing import bucket_candidate_pairs

    bk = minhash_band_keys(sig, bands, rows_per_band)
    return bucket_candidate_pairs(bk, "mh_id", ["band", "band_key"])


def minhash_verified_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """The composed production dedup pipeline: LSH candidate generation
    followed by exact Jaccard verification on candidates ONLY.

    Verification is a per-pair array_intersect on the two shingle sets —
    JVM-side, O(|A|+|B|) per candidate — instead of the corpus-wide
    inverted-index self-join (ngram_jaccard_pairs), whose pair stream is
    quadratic in shingle document-frequency.  Cost scales with the number
    of LSH candidates, i.e. with the true near-duplicate density.
    """
    # One signature frame feeds BOTH candidate generation and verification:
    # the banding branches and the two verify lookups are shuffles of the
    # same subplan, so the shingle+md5 scan work is shared via exchange
    # reuse instead of recomputed four times.  (Zero-shingle docs are
    # filtered inside minhash_signatures; they can't reach verification
    # because candidates are generated from the same filtered frame.)
    sig = minhash_signatures(df, content_col, id_col, num_hashes, shingle_words)
    cand = _candidate_pairs_from_sig(sig, bands, num_hashes // bands)
    sets = sig.select(F.col("mh_id").alias("jid"), "shingles")
    a = sets.select(F.col("jid").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sets.select(F.col("jid").alias("id_b"), F.col("shingles").alias("sh_b"))
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            (
                n_common
                / (F.size("sh_a") + F.size("sh_b") - n_common)
            ).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def cross_minhash_pairs(
    corpus: DataFrame,
    probe: DataFrame,
    content_col: str,
    id_col: str,
    num_hashes: int = 8,
    bands: int = 2,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus LSH near-dup pairs (corpus × probe) — the FUZZY form
    of benchmark decontamination: minhash-band candidates BETWEEN two
    different frames, exact Jaccard verified on candidates only.

    Contrast corpus.decontaminate (exact shared-shingle counts via a
    broadcast of the probe's full shingle set): here the broadcast is the
    probe's band keys — probe_rows·bands keys instead of every distinct
    shingle — and the match criterion is whole-document similarity, which
    catches paraphrase-level contamination that a handful of shared
    shingles does not.  The corpus side never shuffles for candidate
    generation (map-side broadcast join); only candidates pay the
    verify join.
    """
    rpb = num_hashes // bands
    sig_a = minhash_signatures(corpus, content_col, id_col, num_hashes, shingle_words)
    sig_b = minhash_signatures(probe, content_col, id_col, num_hashes, shingle_words)
    bk_a = minhash_band_keys(sig_a, bands, rpb).withColumnRenamed("mh_id", "id_a")
    bk_b = minhash_band_keys(sig_b, bands, rpb).withColumnRenamed("mh_id", "id_b")
    cand = (
        bk_a.join(F.broadcast(bk_b), ["band", "band_key"])
        .select("id_a", "id_b")
        .distinct()
    )
    a = sig_a.select(F.col("mh_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sig_b.select(F.col("mh_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    n_common = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return (
        cand.join(a, "id_a")
        .join(F.broadcast(b), "id_b")
        .withColumn(
            "jaccard",
            (n_common / (F.size("sh_a") + F.size("sh_b") - n_common)).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    shingle_words: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity via inverted-index self-join.

    |A∩B| from the shingle-equality join, sizes from the per-doc shingle
    counts; jaccard = c / (|A| + |B| - c).  At 100 TB this runs on LSH
    candidates (minhash_candidate_pairs), not all pairs.
    """
    sets = shingle_sets(df, content_col, id_col, shingle_words).withColumnRenamed(
        "mh_id", "jid"
    )
    sh = sets.select("jid", F.explode("shingles").alias("shingle"))
    # per-doc sizes straight from the array length — avoids re-running the
    # explode+shuffle a third time for a count the scan already knows
    sizes = sets.select("jid", F.size("shingles").alias("n_shingles"))
    a = sh.select(F.col("jid").alias("id_a"), "shingle")
    b = sh.select(F.col("jid").alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed("jid", "id_a").withColumnRenamed("n_shingles", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("jid", "id_b").withColumnRenamed("n_shingles", "size_b"), "id_b")
        .withColumn(
            "jaccard",
            (F.col("n_common") / (F.col("size_a") + F.col("size_b") - F.col("n_common"))).cast(
                "double"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def fuzzy_pairs(
    df: DataFrame,
    content_col: str,
    id_col: str,
    prefix_len: int = 40,
    max_edits: int = 8,
) -> DataFrame:
    """Edit-distance near-dup pairs: blocking on the first token, then
    exact Levenshtein verification on the content prefix — the classic
    fuzzy-matching shape (block to bound candidates, verify exactly).

    Blocking is the same one-shuffle bucket machinery as the LSH paths
    (bucketing.bucket_verified_pairs) with the Levenshtein check FUSED
    into the in-bucket expansion, so only true pairs reach the distinct.
    levenshtein() runs JVM-side and has the identical classic definition
    in DuckDB, so (id_a, id_b, edits) is oracle-exact.

    100-TB note: candidate count is Σ block², bounded by first-token
    frequency — for real titles/names add a length-bucket component to the
    block key (a parameter change to the bk frame, same machinery).  The
    verify uses Spark's BOUNDED levenshtein(a, b, k) — band-limited DP
    that aborts past k, O(k·prefix_len) per candidate instead of
    O(prefix_len²) (measured 11.3 s → ~4 s on the sf0.1 word-soup blocks);
    it returns -1 past the bound, which the oracle mirrors as a plain
    `levenshtein ≤ k` since surviving pairs carry the exact distance.
    """
    bk = df.select(
        F.col(id_col).alias("fz_id"),
        F.substring(F.col(content_col), 1, prefix_len).alias("prefix"),
        F.element_at(T.tokens(content_col), 1).alias("block"),
    ).filter(F.col("block").isNotNull() & (F.col("block") != ""))
    from codecdb_queryengine_spark.operators.bucketing import bucket_verified_pairs

    # bounded levenshtein computed ONCE: the keep-predicate reads the
    # emitted field (-1 = past the bound) instead of re-running the DP
    verify = (
        "struct(a.id AS id_a, b.id AS id_b, "
        f"CAST(levenshtein(a.p, b.p, {int(max_edits)}) AS BIGINT) AS edits)"
    )
    return bucket_verified_pairs(
        bk, "fz_id", "prefix", ["block"], verify, keep_sql="p.edits >= 0"
    )


def simhash(df: DataFrame, content_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """Per-document SimHash: majority vote of per-token hash bits.

    Token hash = first bits/4 hex chars of md5 (engine-portable).  One
    explode over tokens, one groupBy with `bits` conditional sums — no
    per-bit explode, so the shuffle stays n_tokens wide, not n_tokens×bits.

    `bits` must be a multiple of 4 and ≤ 60: the hash lives in a signed
    long, and keeping it under 2^60 makes every band div/mod in
    simhash_near_dups unsigned-safe with no special-casing — the
    corpus-scale recipe its docstring describes (wider hash → wider band
    keys → band-key space grows with n) is literally `bits=60, bands=5`.
    """
    if bits % 4 or not (0 < bits <= 60):
        raise ValueError(f"bits must be a multiple of 4 in (0, 60], got {bits}")
    tok = _spread(df, id_col).select(
        F.col(id_col).alias("sh_id"),
        F.explode(T.tokens(content_col)).alias("tok"),
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, bits // 4), 16, 10).cast("long")
    )
    votes = [
        F.sum(
            F.when(F.expr(f"(h div {2**j}) % 2") == 1, 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    voted = tok.groupBy("sh_id").agg(*votes)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return voted.select("sh_id", sim.cast("long").alias("simhash"))


def simhash_near_dups(
    sim_df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
) -> DataFrame:
    """Pairs within Hamming distance over the simhash, via bit-band
    blocking (never an all-pairs join).

    Pigeonhole: split the `bits`-bit hash into `bands` equal bands — a
    pair differing in ≤ bands-1 bits must agree EXACTLY on ≥1 band, so
    band-bucket candidates are a superset of the answer whenever
    max_hamming < bands (asserted).  Candidate generation is n·bands rows
    into ONE bucket-key shuffle (bucketing.bucket_verified_pairs — same
    machinery as MinHash/hyperplane banding, with the hamming check fused
    into the in-bucket expansion so only true pairs reach the distinct).

    Scale honesty: banding replaces the O(n²) all-pairs join with
    O(n·bands + Σ bucket²), and the band key space is 2^(bits/bands) — at
    32 bits / 4 bands that is only 256 buckets per band, so the in-bucket
    quadratic term re-emerges once n ≫ 2^(bits/bands)·√(pairs budget)
    (≈ millions of docs).  The corpus-scale recipe is wider hashes so the
    key space grows with n (bits=60, bands=5 → 12-bit bands works TODAY —
    simhash() caps bits at 60 so every div/mod here stays in the positive
    signed-long range; tested against brute force), or blocking on
    (band, key) pairs of two bands (C(bands,2) keys of 2×width); both are
    parameter changes to this shape, not different algorithms.  The
    expansion evaluates per bucket in one task — bucket size bounds the
    per-task work, which is exactly the key-space sizing above.
    """
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole blocking requires max_hamming < bands "
            f"(got max_hamming={max_hamming}, bands={bands}): a pair can "
            f"differ in every band and still be within distance"
        )
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    band_bits = bits // bands
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(f"(simhash div {2 ** (b * band_bits)}) % {2 ** band_bits}").alias("key"),
        )
        for b in range(bands)
    ]
    bk = sim_df.select(
        F.col("sh_id"), F.col("simhash"), F.explode(F.array(*band_cols)).alias("bk")
    ).select(
        "sh_id",
        "simhash",
        F.col("bk.band").alias("band"),
        F.col("bk.key").alias("band_key"),
    )
    # Hamming verification runs INSIDE the per-bucket pair expansion (the
    # hash rides in the bucket struct, bucketing.bucket_verified_pairs),
    # so the post-expansion distinct shuffles only true near-dup pairs —
    # not every candidate (~2.8M candidates for 83k pairs at sf0.1), and
    # the two per-side join-backs disappear.
    from codecdb_queryengine_spark.operators.bucketing import bucket_verified_pairs

    verify = (
        "struct(a.id AS id_a, b.id AS id_b, "
        "CAST(bit_count(a.p ^ b.p) AS BIGINT) AS hamming, "
        f"bit_count(a.p ^ b.p) <= {int(max_hamming)} AS keep)"
    )
    return bucket_verified_pairs(bk, "sh_id", "simhash", ["band", "band_key"], verify)


# Planes-per-corpus-doubling policy for embedding_near_dups (r10 verdict
# item 2 — the fixed-plane default was the last measured scale-killer in a
# default path: 42× wall at 10× corpus, the `embdup_fixed` law in
# SCALING.md).  A fixed planes count fixes the band-key space, so bucket
# population — and the in-bucket quadratic pair expansion — grows linearly
# with the corpus.  Growing planes one per corpus doubling past _EMBDUP_N0
# holds per-bucket population ~constant: planes(n) = BASE +
# min(MAX_EXTRA, floor(log2(n // N0))) — exact-integer (bit_length), so the
# SQL oracle replays the same policy from count(*).  The stride fixes each
# band's plane IDENTITIES independent of the count (band b uses planes
# b·16 … b·16+planes−1): adding a plane only ever SPLITS existing buckets,
# so the signature family is refinement-stable as the corpus grows.
_EMBDUP_BASE_PLANES = 4
_EMBDUP_N0 = 2000
_EMBDUP_MAX_EXTRA = 8  # cap: 12 planes = 4096 buckets/band (~1M vectors);
#                        beyond that pass planes_per_band explicitly
_EMBDUP_PLANE_STRIDE = 16


def embdup_planes(n: int) -> int:
    """planes_per_band the auto policy picks for an n-vector corpus."""
    extra = (n // _EMBDUP_N0).bit_length() - 1 if n >= 2 * _EMBDUP_N0 else 0
    return _EMBDUP_BASE_PLANES + min(_EMBDUP_MAX_EXTRA, extra)


def embedding_near_dups(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    dim: int | None = None,
    bands: int = 4,
    planes_per_band: int | None = None,
    verify: str = "expr",
) -> DataFrame:
    """Cosine near-duplicate pairs over an array<float> column.

    With `dim` set (the scale path), candidates come from hyperplane-LSH
    banding (n·bands rows) and only candidates pay the cosine; without it,
    all-pairs brute force (verification form, ≤1e4 vectors only — at sf0.1
    the all-pairs form was measured 30× slower).

    `planes_per_band=None` (the DEFAULT since r11) applies the
    planes-per-corpus-doubling policy: planes = embdup_planes(df.count())
    with stride-16 plane identities (module comment above) — one cheap
    count action (parquet metadata on file sources) buys the ~linear scale
    curve; the fixed-plane form (pass planes_per_band explicitly — legacy
    packed plane layout, base_plane = b·planes) remains for contrast and
    for callers that pin their own key-space sizing.

    `verify` picks the candidate-scoring cosine:
    - "expr" (default): JVM zip_with/aggregate left-to-right double sum
      with per-side precomputed norms — bit-identical to an oracle that
      unrolls the same left-deep sum in SQL, so a 2-decimal-rounding
      boundary can never flip the compare hash (the r2 `dedup_embedding`
      failure was exactly that: numpy pairwise summation vs the oracle's
      summation order differing in the last ulp ON a .xx5 boundary).
    - "arrow": numpy einsum batch path — fastest for bulky candidate sets,
      but pairwise-summed, so only for consumers that don't hash-compare
      against an order-sensitive oracle.
    Candidate-set cost is identical either way; only candidates pay it.
    """
    from codecdb_queryengine_spark.operators.similarity import (
        cosine_arrow,
        cosine_pre,
        lsh_band_pairs,
        norm,
    )

    with_norm = verify == "expr"
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("vec_a"),
        *([norm(F.col(vec_col)).alias("norm_a")] if with_norm else []),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vec_b"),
        *([norm(F.col(vec_col)).alias("norm_b")] if with_norm else []),
    )
    if dim is not None:
        if planes_per_band is None:
            planes_per_band = embdup_planes(df.count())
            plane_stride: int | None = _EMBDUP_PLANE_STRIDE
        else:
            plane_stride = None  # legacy packed layout for explicit configs
        cand = lsh_band_pairs(
            df, dim, vec_col, id_col, bands, planes_per_band,
            plane_stride=plane_stride,
        )
        pairs = cand.join(a, "id_a").join(b, "id_b")
    else:
        pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    if with_norm:
        cos = cosine_pre(F.col("vec_a"), F.col("vec_b"), F.col("norm_a"), F.col("norm_b"))
    else:
        cos = cosine_arrow(F.col("vec_a"), F.col("vec_b"))
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    k: int = 8,
    stride: int = 37,
    iters: int = 2,
    tau_num: int = 2,
    tau_den: int = 5,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup by
    clustering embeddings and pruning near-duplicates WITHIN clusters only.

    1. Train k centroids with the exact-integer Lloyd recurrence
       (similarity.kmeans_lloyd_micro — micro-quantized vectors, BIGINT-L2
       argmin, round-half-away mean updates), so even training replays
       bit-for-bit in a SQL oracle.
    2. Assign every vector map-side (literal-model argmin expression — no
       N×K expansion, no shuffle).
    3. Within each cluster, a vector is a duplicate iff some SMALLER-id
       member is τ-similar; survivors are the cluster's dedup
       representatives ("keep first" — deterministic, order-free).

    The similarity test is the RATIONAL quantized cosine: over
    milli-quantized vectors (quantize_micro scale=1e3),
        cos ≥ τ  ⟺  dot > 0  AND  τ_den²·dot² ≥ τ_num²·|a|²·|b|²
    with τ = tau_num/tau_den — pure BIGINT arithmetic on both engines
    (milli components ≤ ~1e3 ⇒ dot ≤ ~6.4e7 ⇒ every product ≤ ~4e17,
    inside int64), so no float ever reaches the comparison.  The quantized
    cosine defines the operator's semantics; it differs from the float
    cosine by ≤ ~1e-3, which a corpus-dedup threshold absorbs.

    Scale shape: the tiny k-row model folds into map-side expressions; the
    only data shuffle is the ONE hash partition by c_id for the in-cluster
    self-join, and candidate pairs are bounded by Σ|cluster|² — k grows
    with the corpus (k ≈ N/target_cluster_size) exactly as SemDeDup
    prescribes, keeping per-cluster work constant.  The input is scanned
    by three map-side passes (pair sides a/b and the final flag join) —
    callers on hot paths persist `df` upstream, the embedding_near_dups
    precedent.

    Returns (id_col, c_id, kept): every input vector with its cluster id
    and whether it survives the prune.
    """
    from codecdb_queryengine_spark.operators import similarity as S

    cents = S.kmeans_lloyd_micro(
        df, vec_col=vec_col, id_col=id_col, dim=dim, k=k, stride=stride, iters=iters
    )
    vm = df.select(
        F.col(id_col).alias("n_id"),
        S.quantize_micro(F.col(vec_col)).alias("v"),
        S.quantize_micro(F.col(vec_col), 1e3).alias("v3"),
    )
    # int64-safety guard (r5 ADVICE): the rational cosine multiplies
    # td2·dot² against tn2·|a|²·|b|², so with |milli component| ≤ m the
    # largest product is max(td2, tn2)·(dim·m²)² — solve for the largest m
    # that provably stays inside int64 and fail LOUDLY (assert_true) on any
    # vector outside it instead of silently wrapping in non-ANSI Spark.
    # For dim=64, τ_den=5 that bound is m ≈ 3096, i.e. |x| ≲ 3.0 — roomy
    # for unit-normalized embeddings, violated by unnormalized ones.
    m_safe = int(
        (((1 << 63) - 1) / (max(tau_den, tau_num) ** 2 * dim * dim)) ** 0.25
    )
    guard = F.assert_true(
        F.array_max(F.transform("v3", lambda x: F.abs(x))) <= F.lit(m_safe),
        F.lit(
            f"semantic_dedup: milli-quantized |component| > {m_safe} would "
            f"overflow the int64 rational-cosine test — normalize the "
            f"embeddings (or raise the quantization scale) first"
        ),
    )
    assigned = (
        vm.select(
            "n_id",
            "v3",
            F.expr(f"({S._micro_argmin_sql('v', cents)}).c_id").alias("c_id"),
        )
        # assert_true returns NULL for passing rows, so the filter keeps
        # everything while forcing the guard's evaluation (a bare unused
        # column would be pruned away by Catalyst).
        .filter(guard.isNull())
        .withColumn("n2", S.dot_micro(F.col("v3"), F.col("v3")))
    )
    a = assigned.select(
        F.col("n_id").alias("id_a"), "c_id",
        F.col("v3").alias("va"), F.col("n2").alias("n2a"),
    )
    b = assigned.select(
        F.col("n_id").alias("id_b"), "c_id",
        F.col("v3").alias("vb"), F.col("n2").alias("n2b"),
    )
    tn2, td2 = tau_num * tau_num, tau_den * tau_den
    dot = S.dot_micro(F.col("va"), F.col("vb"))
    dropped = (
        a.join(b, "c_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dot", dot)
        .filter(
            (F.col("dot") > 0)
            & (F.lit(td2) * F.col("dot") * F.col("dot")
               >= F.lit(tn2) * F.col("n2a") * F.col("n2b"))
        )
        .select(F.col("id_b").alias("n_id"))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        assigned.join(dropped, "n_id", "left")
        .select(
            F.col("n_id").alias(id_col),
            "c_id",
            F.col("is_dup").isNull().alias("kept"),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_tokens: int = 8,
) -> DataFrame:
    """Sub-document segment-level dedup: the RefinedWeb / MassiveText
    "drop lines duplicated anywhere in the corpus" rule (Penedo et al.
    2023, arXiv:2306.01116 §3.3; Rae et al. 2021, arXiv:2112.11446 A.1.2),
    with a deterministic fixed-width token segmenter standing in for
    newline splitting (the test corpus has no line structure; a real
    corpus swaps the segmenter expression, same plan).

    A segment OCCURRENCE survives iff it is the corpus-wide first
    occurrence of that segment text, ordered by (id, seg_idx) — exact
    keep-first, no hashing, no floats.  Each document is rebuilt from its
    surviving segments in original order.

    Scale shape: rows explode ~n_tokens/seg_tokens ×, then exactly TWO
    hash shuffles — one partition-by-segment for the global first-
    occurrence window (same key distribution as any exact dedup; segment
    texts are high-cardinality so skew is bounded by true duplication),
    one partition-by-id for the rebuild.  No self-join, no candidate
    blowup: cost is linear in corpus token count, which is what lets the
    rule run over a 100 TB crawl.

    Returns (id_col, n_segs, n_kept, text_dedup).
    """
    from pyspark.sql import Window

    toks = T.tokens(text_col)
    nseg = F.ceil(F.size(toks) / F.lit(seg_tokens)).cast("int")
    segs_arr = F.transform(
        F.sequence(F.lit(0), nseg - F.lit(1)),
        lambda i: F.array_join(
            F.slice(toks, i * seg_tokens + F.lit(1), seg_tokens), " "
        ),
    )
    segs = df.select(
        F.col(id_col), F.posexplode(segs_arr).alias("seg_idx", "seg")
    )
    first = Window.partitionBy("seg").orderBy(id_col, "seg_idx")
    flagged = segs.withColumn(
        "kept", (F.row_number().over(first) == 1)
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("kept"), F.struct("seg_idx", "seg"))
                    )
                ),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("text_dedup"),
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Exact-substring deduplication with span REMOVAL and document
    reconstruction — the surgery half of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499 §4.1
    ExactSubstr), completing docs_dup_spans' measurement half.  The paper
    removes every duplicated ≥50-token substring from all but one
    occurrence; here at k-gram granularity (k=5 at gate scale — a real
    corpus raises k, same plan): a token is removed iff it is covered by
    a k-token window whose text occurs elsewhere in the corpus AND that
    window is not the corpus-wide FIRST occurrence of its text (ordered
    by (id, position) — exact keep-first, same canonical rule as
    segment_dedup, no hashing, no floats).

    Unlike segment_dedup's disjoint segments, k-gram windows OVERLAP, so
    removal works on the covered-position SET: duplicate windows explode
    to their k covered token positions, distinct, then an anti-join
    against the positioned token stream keeps the survivors and each
    document is rebuilt in original token order.

    Scale shape: the window stream is n_tokens rows (one per start
    offset); ONE partition-by-span-text shuffle for the global
    first-occurrence window (high-cardinality key — skew bounded by true
    duplication, exactly like any exact dedup); the covered-position set
    is ≤ k·dup_windows rows keyed by (id, position) — the distinct and
    the anti-join share that partitioning (one exchange, AQE-reused); one
    partition-by-id rebuild.  Everything is linear in corpus token count
    — the property that lets ExactSubstr run over a 100 TB crawl (the
    paper's suffix-array machinery is a single-node construction; the
    keyed-shuffle formulation is the distributed equivalent at fixed k).

    Returns (id_col, n_tokens, n_removed, clean_ntok, clean_md5) — the
    md5 pins the exact reconstructed text without hashing megabyte
    strings through the compare gate (the redact discipline).
    """
    from pyspark.sql import Window

    base = df.select(F.col(id_col), T.tokens(text_col).alias("tk"))
    spans = base.select(
        id_col,
        F.posexplode(
            T.word_shingles_all_from_tokens(F.col("tk"), k)
        ).alias("pos", "sh"),
    )
    first = Window.partitionBy("sh").orderBy(id_col, "pos")
    removed = (
        spans.withColumn("rn", F.row_number().over(first))
        # rn >= 2 already implies the span text occurs >= 2 times
        .filter(F.col("rn") >= 2)
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("p"),
        )
        .distinct()
    )
    tokpos = base.select(id_col, F.posexplode("tk").alias("p", "tok"))
    rebuilt = (
        tokpos.join(removed, [id_col, "p"], "left_anti")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("kept_ntok"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            ).alias("clean"),
        )
    )
    return (
        base.select(id_col, F.size("tk").cast("long").alias("n_tokens"))
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            (
                F.col("n_tokens") - F.coalesce(F.col("kept_ntok"), F.lit(0))
            ).cast("long").alias("n_removed"),
            F.coalesce(F.col("kept_ntok"), F.lit(0)).cast("long").alias(
                "clean_ntok"
            ),
            F.md5(F.coalesce(F.col("clean"), F.lit(""))).alias("clean_md5"),
        )
    )
