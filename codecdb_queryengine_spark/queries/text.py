"""Text-analysis and corpus-preparation scenarios: per-document statistics,
language and quality signals, term statistics, mixing and sampling,
decontamination, packing and filtering.

These and the other scenario modules (dedup, search, ann, media,
events) have no reference counterpart (SURVEY.md §2.8: the
reference has no streaming, no text/vector functions); they are the
extensions the 100-TB corpus use case needs.  Each entry's
DuckDB oracle (codecdb_queryengine_spark/oracle/) recomputes the identical
algorithm, md5-anchored so hashes agree bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import corpus as C
from codecdb_queryengine_spark.operators import dedup as D


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


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score per document."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", T.quality_score("text").alias("quality"))


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column (confusion counts)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return (
        docs.select("lang", T.lang_guess("text").alias("guess"))
        .groupBy("lang", "guess")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "guess")
    )


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document."""
    docs = load_tables(spark, sf_dir)["documents"]
    return docs.select("doc_id", T.fingerprint("text").alias("fp"))


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


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition ratio over word 3-grams (duplicates kept;
    the Gopher repetition-removal signal)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.repetition_stats(docs, "text", "doc_id", k=3)


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


# --- corpus preparation (decontamination / packing / filtering / masking) --


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing word 3-shingles
    with the held-out eval slice (doc_id % 23 == 0 stands in for the
    benchmark set).  Eval shingle set is broadcast; the corpus is never
    shuffled on shingles (operators/corpus.py:31)."""
    docs = load_tables(spark, sf_dir)["documents"]
    train = docs.filter(F.col("doc_id") % 23 != 0)
    ev = docs.filter(F.col("doc_id") % 23 == 0)
    return C.decontaminate(train, ev, "text", "doc_id", k=3)


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


def docs_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: per-doc token offset within its
    pack bucket and the fixed-256-token training sequences it spans."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.pack_offsets(
        docs, T.token_count("text"), "doc_id", budget=256, n_buckets=8
    )


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


def docs_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed Gopher-style quality rules -> per-rule flags + keep."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.quality_filter(docs, "text", "doc_id")


def text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/lexicon masking audit: match count, masked length, md5 of the
    masked text (pins the exact rewrite without hashing full strings)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return C.redact(docs, "text", "doc_id")


QUERIES = {
    "text_stats": text_stats,
    "text_quality": text_quality,
    "text_langid": text_langid,
    "text_fingerprint": text_fingerprint,
    "text_bpe_stats": text_bpe_stats,
    "docs_chunk_overlap": docs_chunk_overlap,
    "docs_topterms": docs_topterms,
    "docs_bigrams": docs_bigrams,
    "docs_pmi": docs_pmi,
    "docs_mixture_weights": docs_mixture_weights,
    "docs_dsir_sample": docs_dsir_sample,
    "docs_train_classifier": docs_train_classifier,
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
}

PLAN_ONCE = frozenset({
    "text_stats",
    "text_quality",
    "text_langid",
    "text_fingerprint",
    "text_bpe_stats",
    "docs_chunk_overlap",
    "docs_topterms",
    "docs_bigrams",
    "docs_pmi",
    "docs_mixture_weights",
    "docs_dsir_sample",
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
})
