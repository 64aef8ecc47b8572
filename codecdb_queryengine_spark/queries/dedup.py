"""Deduplication and graph scenarios: exact, MinHash, SimHash, n-gram,
fuzzy and embedding near-dup detection, duplicate clustering and keep
decisions, span-level dedup, and the graph algorithms (connected
components, PageRank, triangles) they run on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import dedup as D
from codecdb_queryengine_spark.queries.scenario import _scratch_dir


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    return D.exact_dedup(docs, "text", "doc_id")


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (8 hashes, 2 bands of 4, 3-word shingles)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.minhash_candidate_pairs(docs, "text", "doc_id", num_hashes=8, bands=2)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.simhash(docs, "text", "doc_id")


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


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard pairs above threshold (verification primitive)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.ngram_jaccard_pairs(docs, "text", "doc_id", shingle_words=3, threshold=0.12)


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


def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy near-dup pairs: first-token blocking + fused
    Levenshtein verification on the 40-char prefix (dedup.fuzzy_pairs)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.fuzzy_pairs(docs, "text", "doc_id", prefix_len=40, max_edits=8).orderBy(
        "id_a", "id_b"
    )


def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end scale-path dedup: LSH candidates -> exact Jaccard verify
    on candidates only (per-pair array intersect, no inverted-index join)."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.minhash_verified_pairs(
        docs, "text", "doc_id", num_hashes=8, bands=2, shingle_words=3, threshold=0.12
    )


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


def docs_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document segment-level dedup (operators/dedup.segment_dedup):
    the RefinedWeb "drop lines duplicated anywhere in the corpus" rule
    with a fixed 8-token segmenter, keep-first by (doc_id, seg_idx),
    documents rebuilt from surviving segments.  All-integer + string —
    value-gated end to end including the reconstructed text."""
    docs = load_tables(spark, sf_dir)["documents"]
    return D.segment_dedup(docs, "text", "doc_id", seg_tokens=8)


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


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_simhash": dedup_simhash,
    "dedup_simhash_pairs": dedup_simhash_pairs,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_verified": dedup_minhash_verified,
    "dedup_fuzzy": dedup_fuzzy,
    "dedup_canonical": dedup_canonical,
    "dedup_embedding": dedup_embedding,
    "docs_dedup_segments": docs_dedup_segments,
    "docs_dedup_substrings": docs_dedup_substrings,
    "dedup_clusters": dedup_clusters,
    "graph_cc_chain": graph_cc_chain,
    "graph_cc_chain_ckpt": graph_cc_chain_ckpt,
    "dedup_keep_docs": dedup_keep_docs,
    "dedup_report": dedup_report,
    "dedup_simhash_clusters": dedup_simhash_clusters,
    "dedup_incremental": dedup_incremental,
    "graph_pagerank": graph_pagerank,
    "graph_triangles": graph_triangles,
    "graph_pagerank_ckpt": graph_pagerank_ckpt,
    "docs_dup_spans": docs_dup_spans,
    "docs_winnow": docs_winnow,
}

PLAN_ONCE = frozenset({
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
    "dedup_incremental",
    "graph_triangles",
    "docs_dup_spans",
    "docs_winnow",
})
