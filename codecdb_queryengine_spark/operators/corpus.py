"""Corpus-preparation operators for LLM training pipelines.

No counterpart exists in the reference engine (SURVEY.md §2.8 — its world
is TPC-H/SSB); these are driver-mandated extensions, built Spark-first:

- decontaminate      flag training docs that share word k-shingles with a
                     held-out eval/benchmark set (the standard n-gram
                     decontamination pass run before pretraining).
- pack_offsets       concat-and-chunk sequence packing: assign every doc a
                     token offset inside its pack bucket and the range of
                     fixed-size training sequences it lands in.
- quality_filter     composed Gopher-style keep/drop rules over the text
                     statistics in functions/text.py.
- redact             lexicon + PII masking via one alternation regex
                     (counts, masked length, and an md5 of the masked text
                     so the rewrite itself is oracle-pinned).
- dsir_weights /     DSIR importance resampling (Xie et al. 2023,
  gumbel_topk        arXiv:2302.03169): hashed-bigram importance
                     log-weights of every raw doc against a target domain,
                     then deterministic Gumbel-top-k sampling without
                     replacement — the data-selection pass that picks
                     which slice of a 100 TB crawl to train on.

Everything is pure `pyspark.sql.functions` column algebra so each operator
has an exact DuckDB mirror in oracle/text.py.
"""

from __future__ import annotations

# Module-level so the pandas-UDF type hints (stringified by the future
# annotations import) resolve against module globals.
import pandas as pd  # noqa: F401

from pyspark.sql import DataFrame, Window, functions as F

from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import dedup as D


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-doc count of distinct word k-shingles shared with an eval set.

    Output: (id_col, n_contaminated) for contaminated docs only.

    100-TB note: the eval side is benchmark-sized (10^3..10^5 docs), so its
    distinct shingle set is broadcast and the corpus side is filtered
    map-side during its scan — the only shuffle is the per-doc count over
    the (small) contaminated subset.  The corpus is never shuffled on
    shingles; compare the inverted-index self-join in dedup.py, which is
    reserved for corpus-vs-corpus work.  Shingles come from
    dedup.shingle_sets, Arrow-vectorized (measured ~2x the whole-query
    throughput of the interpreted transform-lambda tree).
    """
    ev = (
        D.shingle_sets(eval_docs, text_col, id_col, k)
        .select(F.explode("shingles").alias("s"))
        .distinct()
    )
    tr = D.shingle_sets(docs, text_col, id_col, k).select(
        F.col("mh_id").alias(id_col), F.explode("shingles").alias("s")
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy(id_col)
        # shingle arrays are distinct per doc, so count(*) counts
        # distinct contaminated shingles
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def pack_offsets(
    docs: DataFrame,
    token_count_col,
    id_col: str = "doc_id",
    budget: int = 256,
    n_buckets: int = 8,
) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style pretraining batches).

    Docs are hashed into `n_buckets` independent pack streams; within a
    bucket (ordered by id) each doc gets its running token offset, and from
    it the first/last fixed-`budget` training sequence it occupies.  A doc
    may straddle a chunk boundary — that IS concat-and-chunk semantics.

    Output: (id_col, bucket, n_tokens, tok_offset, seq_first, seq_last).

    100-TB note: one shuffle on the bucket key; each bucket's window sort
    is independent, so parallelism = n_buckets (set it >= cluster cores —
    buckets are only a determinism device, any count works).  No global
    sort, no driver state.
    """
    w = (
        Window.partitionBy("bucket")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        docs.select(
            F.col(id_col),
            F.pmod(F.col(id_col), F.lit(n_buckets)).cast("long").alias("bucket"),
            token_count_col.cast("long").alias("n_tokens"),
        )
        .withColumn("tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("seq_first", F.floor(F.col("tok_offset") / budget))
        .withColumn(
            "seq_last",
            F.floor(
                (F.col("tok_offset") + F.greatest(F.col("n_tokens"), F.lit(1)) - 1)
                / budget
            ),
        )
    )


# Gopher-style rule thresholds (Rae et al. 2021 use 50..100k tokens,
# stopword and symbol ratios; values here are scaled to the testdata corpus
# so every rule actually fires — the composition is the operator).
MIN_TOKENS = 20
MAX_TOKENS = 90
MIN_STOPWORD_RATIO = 0.02
MAX_PUNCT_RATIO = 0.20
MIN_UNIQ_RATIO = 0.35


def quality_filter(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Composed document-quality rules -> per-rule flags + keep verdict.

    Output: (id_col, too_short, too_long, low_stop, high_punct, low_uniq,
    keep).  Pure scan-side column algebra: zero shuffles, runs inside the
    parquet scan's projection at any scale.
    """
    ntok = T.token_count(text_col)
    too_short = (ntok < MIN_TOKENS).alias("too_short")
    too_long = (ntok > MAX_TOKENS).alias("too_long")
    low_stop = (T.stopword_ratio(text_col) < MIN_STOPWORD_RATIO).alias("low_stop")
    high_punct = (T.punct_ratio(text_col) > MAX_PUNCT_RATIO).alias("high_punct")
    low_uniq = (
        (T.distinct_token_count(text_col) / F.greatest(ntok, F.lit(1)))
        < MIN_UNIQ_RATIO
    ).alias("low_uniq")
    out = docs.select(id_col, too_short, too_long, low_stop, high_punct, low_uniq)
    return out.withColumn(
        "keep",
        ~(
            F.col("too_short")
            | F.col("too_long")
            | F.col("low_stop")
            | F.col("high_punct")
            | F.col("low_uniq")
        ),
    )


def repetition_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Gopher-style intra-document repetition: the fraction of word
    k-grams that are repeats of an earlier k-gram in the same doc.

    Output: (id_col, n_shingles, n_uniq_shingles, dup_ratio).  dup_ratio
    is a quotient of small ints — bit-identical across engines.  Pure
    scan-side, zero shuffles at any scale.  Shingles are counted per Arrow
    batch (the interpreted transform-lambda tree re-evaluates per element;
    same tradeoff as dedup.shingle_sets).
    """
    import re as _re

    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    ws = _re.compile(r"\s+")

    def shingles(text):
        toks = ws.split(text.strip()) if text is not None else []
        if len(toks) < k:
            return []
        return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]

    @pandas_udf(returnType=LongType())
    def n_all(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: len(shingles(t)))

    @pandas_udf(returnType=LongType())
    def n_uniq(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: len(set(shingles(t))))

    out = docs.select(
        F.col(id_col),
        n_all(F.col(text_col)).alias("n_shingles"),
        n_uniq(F.col(text_col)).alias("n_uniq_shingles"),
    )
    return out.withColumn(
        "dup_ratio",
        F.when(
            F.col("n_shingles") > 0,
            1.0 - F.col("n_uniq_shingles") / F.col("n_shingles"),
        ).otherwise(F.lit(0.0)),
    )


# One alternation, cross-dialect safe (Java regex AND RE2: no backrefs, no
# lookaround): email-shaped PII, long digit runs, and a lexicon of entity
# terms.  The corpus is synthetic word-salad, so the lexicon branch is what
# fires here; the PII branches document the production form.
MASK_PATTERN = (
    r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
    r"|\b[0-9]{9,}\b"
    r"|\b(?:customer|supplier|spark)\b"
)
MASK_TOKEN = "<MASK>"


def redact(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Mask PII/lexicon matches; emit audit columns, not the raw rewrite.

    Output: (id_col, n_masked, red_len, red_md5) — the md5 pins the exact
    masked text so the oracle verifies the rewrite without hashing
    megabyte-sized strings through the compare gate.

    100-TB note: scan-side projection (zero shuffles); regex runs once per
    doc inside whole-stage codegen.
    """
    red = F.regexp_replace(F.col(text_col), MASK_PATTERN, MASK_TOKEN)
    return docs.select(
        F.col(id_col),
        F.regexp_count(F.col(text_col), F.lit(MASK_PATTERN)).cast("long").alias(
            "n_masked"
        ),
        F.length(red).cast("long").alias("red_len"),
        F.md5(red).alias("red_md5"),
    )


def lm_scores(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Per-document unigram-LM mean surprisal (-log2 p(token) under the
    corpus's own MLE unigram model) — the KenLM-style perplexity proxy a
    quality filter thresholds on.

    Cross-engine float discipline: per-token surprisal is quantized to
    integer micro-bits (round(1e6·log2(total/cnt))) BEFORE the per-doc
    sum, so the sum is a BIGINT — order-free across engines — and the
    mean is one exact IEEE division chain.

    Scale: one vocabulary-sized count shuffle broadcast back to the token
    stream, a 1-row total broadcast, and one keyed per-doc aggregation
    with map-side combine.  Output: (id_col, n_tokens, bits_micro,
    avg_bits).
    """
    tok = df.select(F.col(id_col), F.explode(T.tokens(content_col)).alias("term"))
    counts = tok.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    term_surp = (
        counts.join(F.broadcast(total))
        .withColumn(
            "surp_micro",
            F.round(
                F.lit(1e6) * F.log2(F.col("total").cast("double") / F.col("cnt"))
            ).cast("long"),
        )
        .select("term", "surp_micro")
    )
    return (
        tok.join(F.broadcast(term_surp), "term")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("surp_micro").alias("bits_micro"),
        )
        .withColumn(
            "avg_bits",
            F.col("bits_micro").cast("double") / F.col("n_tokens") / F.lit(1e6),
        )
    )


# --- deterministic sampling / mixture materialization -------------------------


def sample_stratified(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    rates_per_10k: dict[str, int],
    default_per_10k: int = 10_000,
    salt: str = "sample|",
) -> DataFrame:
    """Per-stratum deterministic hash sampling — the corpus-rebalancing
    pass (downsample overrepresented languages/sources to target
    proportions): keep rows whose content-stable md5 bucket (of the key,
    mod 10,000) falls under their stratum's threshold (unlisted strata
    keep `default_per_10k`).

    The sampling a training pipeline wants is not TABLESAMPLE/rand():
    membership must be reproducible across runs, independent of
    partitioning, and stable under corpus growth (a row's fate never
    changes when neighbors arrive — the docs_train_split argument).  One
    pure filter projection: no shuffle, no state, no per-stratum scans."""
    for s, r in rates_per_10k.items():
        if not 0 <= r <= 10_000:
            raise ValueError(f"rate for stratum {s!r} outside [0, 10000]: {r}")
    thresh = F.lit(default_per_10k)
    for s, r in sorted(rates_per_10k.items()):
        thresh = F.when(F.col(stratum_col) == s, F.lit(r)).otherwise(thresh)
    b = F.pmod(T.md5_slice32(salt, F.col(key_col).cast("string")), F.lit(10_000))
    return df.filter(b < thresh)


def corpus_mix(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    weights: dict[str, tuple[int, int]],
    salt: str = "mix|",
) -> DataFrame:
    """Materialize a weighted training mixture: every row of stratum s is
    repeated floor(num/den) times, plus one more copy for the hash-chosen
    (num mod den)/den fraction — the epoch-weighting step that turns
    mixture WEIGHTS (docs_mixture_weights computes those) into an actual
    training corpus.  Weights are exact rationals, the fractional copy is
    the same content-stable md5 draw as sample_stratified, and the output
    carries the 0-based `epoch` of each copy, so the materialization is
    bit-reproducible and oracle-replayable.  Unlisted strata keep weight
    1.  Plan shape: one projection + explode(sequence) — rows scale with
    OUTPUT size (Σ w_s·n_s), never n·max_epochs; no shuffle."""
    for s, (num, den) in weights.items():
        if num < 0 or den <= 0:
            raise ValueError(f"weight for stratum {s!r} must be >=0/positive: {num}/{den}")
    base, rem, den_c = F.lit(1), F.lit(0), F.lit(1)
    for s, (num, den) in sorted(weights.items()):
        is_s = F.col(stratum_col) == s
        base = F.when(is_s, F.lit(num // den)).otherwise(base)
        rem = F.when(is_s, F.lit(num % den)).otherwise(rem)
        den_c = F.when(is_s, F.lit(den)).otherwise(den_c)
    draw = F.pmod(T.md5_slice32(salt, F.col(key_col).cast("string")), den_c)
    copies = base + (draw < rem).cast("int")
    return (
        df.withColumn("__c", copies)
        .filter(F.col("__c") > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(0), F.col("__c") - 1)))
        .drop("__c")
    )


def chunk_sliding(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Sliding-window chunking with overlap — the RAG / long-context prep
    that turns documents into retrieval- or training-sized windows:
    chunks start at 0, stride, 2·stride, … while the start is inside the
    document, each spanning up to `chunk_tokens` tokens (the final chunk
    is short).  stride < chunk_tokens gives the standard overlap.

    Output: (doc_id, chunk_id, start, end, n_chunk_tokens, chunk_text).
    Pure column algebra — explode(sequence) over the token arrays, rows
    scale with Σ n_tokens/stride, no shuffle, no UDF — and every field is
    exactly restatable in SQL (list slicing + range), so the operator is
    value-gated end to end."""
    if chunk_tokens <= 0 or stride <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = T.tokens(text_col)
    # NULL-text docs drop on BOTH engines: size(null) is -1 in Spark (a
    # sequence(0,-1) would raise), while DuckDB's range(0, greatest(NULL,1))
    # coerces greatest(NULL,1) to 1 and would emit a phantom zero-length
    # chunk — so the oracle carries a matching `WHERE text IS NOT NULL`
    # and the exclusion is the stated operator semantics
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        toks.alias("__toks"),
        F.size(toks).alias("__n"),
    ).filter(F.col("__toks").isNotNull()).withColumn(
        "start",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("__n") - 1, F.lit(0)),
                F.lit(stride),
            )
        ),
    )
    chunk_len = F.least(F.lit(chunk_tokens), F.col("__n") - F.col("start"))
    chunk = F.slice(F.col("__toks"), F.col("start") + 1, chunk_len)
    return d.select(
        "doc_id",
        (F.col("start") / stride).cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start"),
        (F.col("start") + chunk_len).cast("long").alias("end"),
        chunk_len.cast("long").alias("n_chunk_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def dsir_weights(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169 §3):
    estimate bag-of-hashed-bigram distributions for a TARGET domain (the
    rows where `is_target` holds) and the RAW pool (all rows), both with
    +1 Laplace smoothing over `buckets` hash buckets, then score every
    raw document with its importance log-weight
        log w(d) = Σ_ngram  ln( p_target[bucket] / p_raw[bucket] ).

    Cross-engine float discipline (the lm_scores pattern): the per-BUCKET
    log-ratio is quantized to integer micro-nats — one double chain
    round(1e6·ln((t+1)(R+B) / ((r+1)(T+B)))) on a model-sized table —
    BEFORE the per-doc sum, so each document's weight is an order-free
    BIGINT sum, bit-reproducible under any partitioning.

    Scale shape: the corpus is tokenized ONCE into per-(doc, bucket)
    feature counts (one keyed shuffle with map-side combine — the
    standard aggregate-before-reuse move, guide §2.3: the r11
    optimization round's rewrite of the original form, which evaluated
    the full bigram/md5 stream twice, once per distribution pass and
    once for scoring); both smoothed distributions derive from those
    counts in a `buckets`-row aggregate (conditional counts in the same
    pass — the target side is not a second scan), the bucket→weight map
    is `buckets` rows crossed with a 1-row total (broadcast, no
    collect), and each document's weight is Σ count·w_micro — the exact
    same BIGINT sum as scoring every bigram occurrence individually.
    Nothing grows with corpus size except the one linear pass.

    Returns (id_col, is_target, n_bigrams, logw_micro).  Docs with < 2
    tokens have no features and drop out (no weight is defined for them),
    exactly as in the reference implementation.
    """
    bg = df.select(
        F.col(id_col),
        is_target.alias("is_target"),
        F.explode(
            T.word_shingles_all_from_tokens(T.tokens(text_col), 2)
        ).alias("bigram"),
    ).withColumn(
        "b", F.pmod(T.md5_slice32("dsir|", F.col("bigram")), F.lit(buckets))
    )
    # one evaluation of the (tokenize, shingle, md5) stream; everything
    # below works off these counts
    bgc = bg.groupBy(id_col, "is_target", "b").agg(
        F.count(F.lit(1)).alias("_n")
    )
    bucket_counts = bgc.groupBy("b").agg(
        F.sum("_n").alias("r_cnt"),
        F.sum(F.when(F.col("is_target"), F.col("_n")).otherwise(0)).alias(
            "t_cnt"
        ),
    )
    totals = bucket_counts.agg(
        F.sum("r_cnt").alias("r_tot"), F.sum("t_cnt").alias("t_tot")
    )
    w = (
        bucket_counts.crossJoin(F.broadcast(totals))
        .withColumn(
            "w_micro",
            F.round(
                F.lit(1e6)
                * F.log(
                    (
                        (F.col("t_cnt") + 1).cast("double")
                        * (F.col("r_tot") + buckets).cast("double")
                    )
                    / (
                        (F.col("r_cnt") + 1).cast("double")
                        * (F.col("t_tot") + buckets).cast("double")
                    )
                )
            ).cast("long"),
        )
        .select("b", "w_micro")
    )
    return (
        bgc.join(F.broadcast(w), "b")
        .groupBy(id_col, "is_target")
        .agg(
            F.sum("_n").alias("n_bigrams"),
            F.sum(F.col("_n") * F.col("w_micro")).alias("logw_micro"),
        )
    )


def gumbel_topk(
    scored: DataFrame,
    weight_col: str = "logw_micro",
    id_col: str = "doc_id",
    k: int = 50,
    salt: str = "dsirg|",
) -> DataFrame:
    """Gumbel-top-k resampling — the without-replacement sampler DSIR
    pairs with its importance weights (Xie et al. 2023 §3; Vieira 2014):
    add independent Gumbel(0,1) noise to each log-weight and take the
    top k, which draws k items WITHOUT replacement with probability
    proportional to their (softmax) weights.

    The noise is deterministic and content-stable (the sample_stratified
    argument — a row's draw never changes with partitioning or corpus
    growth): u = (md5_slice32(salt, id) + 0.5) / 2^32 ∈ (0,1), then the
    standard inverse-CDF g = −ln(−ln u), micro-quantized through the one
    fixed double chain so the final score is BIGINT arithmetic.

    Scale: a pure projection plus one TakeOrdered top-k — no shuffle
    beyond the bounded-heap gather.  Ties broken by id for a total order.
    """
    h = T.md5_slice32(salt, F.col(id_col).cast("string"))
    u = (h.cast("double") + F.lit(0.5)) / F.lit(4294967296.0)
    out = (
        scored.withColumn(
            "gumbel_micro",
            F.round(F.lit(1e6) * -F.log(-F.log(u))).cast("long"),
        )
        .withColumn(
            "score_micro", F.col(weight_col) + F.col("gumbel_micro")
        )
    )
    return out.orderBy(F.desc("score_micro"), F.col(id_col)).limit(k)
