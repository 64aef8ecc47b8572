"""Text-index scenarios: boolean, phrase, BM25-ranked and hybrid search over
the persisted postings layouts, their upsert/purge/compaction lifecycle
and CDC streams, and the corpus file layouts they are built from.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import similarity as S
from codecdb_queryengine_spark.queries.scenario import (
    _ensure_layout,
    _mutation_stream,
    _scratch_dir,
)


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
    from codecdb_queryengine_spark.sources import text_index as TI
    from codecdb_queryengine_spark.streaming import sinks as SK

    docs = load_tables(spark, sf_dir)["documents"]
    base = _scratch_dir("text_index_cdc", sf_dir, fresh=True)
    path = os.path.join(base, "index")
    TI.text_index_build(docs, path)

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
    stream = _mutation_stream(
        spark, base, (gen1, gen2), "op STRING, doc_id BIGINT, text STRING"
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


QUERIES = {
    "docs_search_index": docs_search_index,
    "docs_search_phrase": docs_search_phrase,
    "docs_search_ranked": docs_search_ranked,
    "docs_search_upserted": docs_search_upserted,
    "docs_search_purged": docs_search_purged,
    "docs_stream_mutations": docs_stream_mutations,
    "docs_search_cached": docs_search_cached,
    "docs_hybrid_search": docs_hybrid_search,
    "docs_hybrid_search_batch": docs_hybrid_search_batch,
    "docs_stream_index_ingest": docs_stream_index_ingest,
    "docs_stream_index_compact": docs_stream_index_compact,
    "docs_stream_compact_selective": docs_stream_compact_selective,
    "docs_upsert_partitioned": docs_upsert_partitioned,
    "docs_binaryfile": docs_binaryfile,
    "docs_io_roundtrip": docs_io_roundtrip,
    "docs_compact_roundtrip": docs_compact_roundtrip,
}

PLAN_ONCE: frozenset[str] = frozenset()
