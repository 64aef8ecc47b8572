"""Persisted inverted text index: build once as a bucket-partitioned
postings layout, serve conjunctive term queries reading only the buckets
the query terms hash to.

The text analog of sources/ann_index: the reference engine's world has no
full-text surface (its tables are TPC-H/SSB — SURVEY.md §2), but a corpus
store that answers "which documents contain all of these terms?" is a
standard capability next to the dedup/decontamination operators — e.g.
benchmark-contamination audits look up exact benchmark phrases corpus-wide.

Layout contract:
- `<path>/postings`: (doc_id, term) DISTINCT pairs, partitioned by
  `t_bucket = md5_slice32("ti|" + term) % num_buckets`.  Partitioning by
  a hash bucket (not the raw term) keeps the directory fanout fixed while
  still letting a term query prune: the query's bucket set is computable
  AT PLAN TIME (md5 is engine- and driver-side reproducible), so the scan
  reads only |distinct buckets(terms)| partitions — static pruning, no
  DPP subquery needed — and the parquet `term IN (...)` pushdown prunes
  row groups within each bucket.

Scale shape: build is one explode + one repartition-by-bucket write
(linear in corpus token count); a k-term query reads ≤ k/num_buckets of
the postings regardless of corpus size, and the conjunctive AND is one
groupBy(doc_id) count over just those postings.
"""

from __future__ import annotations

import hashlib
import os

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.session import run_parallel
from codecdb_queryengine_spark.sources.io import (
    fs_exists,
    invalidate_layout,
    serve_memo,
    write_task_count,
)


# Every read-back of a layout this module writes names its schema instead
# of running Spark's schema-inference job (one job per read).  Each schema
# is declared next to its writer; tests/test_plan_once.py pins each to what
# Spark infers from a layout the writers produce.  A layout's doc_id is the
# corpus's long key.
def _cols(**types) -> StructType:
    return StructType([StructField(n, t) for n, t in types.items()])


# Bucket-partitioned layout writes pay per-TASK overhead, not per-row, at
# maintenance scale: repartition("t_bucket") inherits spark.sql.shuffle.
# partitions (64 locally) and 64 tasks writing ≤32 bucket dirs measured
# 1.45 s vs 0.63 s at 8 tasks for the identical layout (r11 optimization
# round, guide §2.2/§6 — fewer, larger write tasks).  io.write_task_count
# sizes them at ~BUCKETS_PER_WRITE_TASK dirs per task.
BUCKETS_PER_WRITE_TASK = 4


def _write_bucketed(rows: DataFrame, out: str, n_tasks: int) -> None:
    """The bucket-partitioned layout write (builds, upsert deltas and purge
    folds; _write_layout's ranked rows arrive partitioned already):
    `n_tasks` write tasks, one directory per t_bucket."""
    _write_partitioned(rows.repartition(n_tasks, "t_bucket"), out)


def _write_partitioned(rows: DataFrame, out: str) -> None:
    """Write rows already hash-partitioned by t_bucket, one task each."""
    rows.write.mode("overwrite").partitionBy("t_bucket").parquet(out)


def _bucket_of(term: str, num_buckets: int) -> int:
    """Driver-side mirror of functions/text.md5_slice32('ti|', term) —
    bit-identical to the JVM md5 build-side expression, so plan-time
    pruning and the stored layout can never disagree."""
    return int(hashlib.md5(f"ti|{term}".encode()).hexdigest()[:8], 16) % num_buckets


def _meta_path(path: str, layout: str) -> str:
    """Each physical layout under `path` (postings / postings_pos /
    postings_tf) gets its OWN meta table.  A single shared `<path>/meta`
    let two layouts built at the same path with different bucket counts
    clobber each other, and the loser would then be pruned with the wrong
    modulus — the silent wrong-answer class the meta table exists to
    prevent (r5 ADVICE)."""
    return os.path.join(path, f"meta_{layout}")


def _write_meta(
    spark: SparkSession, path: str, num_buckets: int, layout: str = "postings"
) -> None:
    """Persist the layout's bucket count next to the postings.  A search
    pruning with a DIFFERENT modulus than the build silently drops every
    posting whose bucket doesn't collide — a wrong-answer class, not an
    error — so the layout records the constant and searches read it back
    instead of trusting their caller."""
    import pyarrow as pa

    from codecdb_queryengine_spark.sources import io as IO

    IO.tiny_meta_write(
        spark,
        _meta_path(path, layout),
        pa.table({"num_buckets": pa.array([int(num_buckets)], type=pa.int32())}),
    )


def _read_buckets(
    spark: SparkSession, path: str, fallback: int, layout: str = "postings"
) -> int:
    """Bucket count from the layout's own meta table; `fallback` only for
    pre-meta layouts (neither the per-layout meta nor the legacy shared
    `<path>/meta` exists).  Existence is checked explicitly so a genuine
    read error (permissions, corrupt parquet, transient FS failure)
    PROPAGATES instead of silently reintroducing the wrong-modulus prune
    the meta table guards against."""
    from codecdb_queryengine_spark.sources import io as IO

    for meta in (_meta_path(path, layout), os.path.join(path, "meta")):
        t = IO.tiny_meta_read(spark, meta)
        if t is not None:
            if not t.num_rows:
                # An existing meta dir with zero rows is a read anomaly,
                # not a pre-meta layout: a silently-wrong modulus is a
                # wrong-answer prune, so it must propagate (r11 ADVICE).
                raise ValueError(f"{meta}: bucket meta table has no rows")
            return int(t.column("num_buckets")[0].as_py())
    return fallback


def _buckets_of_layout(
    spark: SparkSession, path: str, fallback: int, layout: str, cached: bool
) -> int:
    """_read_buckets with the serve cache: the meta read is a (tiny) Spark
    job per query — a long-lived serving process pays it once."""
    return serve_memo(
        spark,
        _meta_path(path, layout),
        lambda: _read_buckets(spark, path, fallback, layout=layout),
        cached,
    )


POSTINGS_SCHEMA = _cols(doc_id=LongType(), term=StringType(), t_bucket=IntegerType())


class _Tokens(NamedTuple):
    """The one tokenize projection, (doc_id, tokens) over `frame`, that
    every layout's rows derive from through one row function per layout;
    the builds, the upsert delta writes and the public *_postings_of all go
    through them, so no two paths can tokenize or bucket differently.

    Over the corpus the two columns stay EXPRESSIONS, so each layout's
    generator tokenizes inline, exactly once per row: a projected
    (doc_id, tokens) frame would make Spark infer `size(tokens) > 0`
    below posexplode and push it into the scan, re-running the tokenizer.
    _persisted turns them into the cached columns."""

    frame: DataFrame
    doc_id: Column
    tokens: Column


def _tokenized(docs: DataFrame, text_col: str, id_col: str) -> _Tokens:
    return _Tokens(docs, F.col(id_col).alias("doc_id"), T.tokens(text_col))


def _persisted(toks: _Tokens) -> _Tokens:
    frame = toks.frame.select(toks.doc_id, toks.tokens.alias("tokens")).persist()
    return _Tokens(frame, F.col("doc_id"), F.col("tokens"))


def _bucket(num_buckets: int) -> Column:
    return (T.md5_slice32("ti|", F.col("term")) % num_buckets).cast("int")


def _distinct_rows(toks: _Tokens, num_buckets: int) -> DataFrame:
    return toks.frame.select(
        toks.doc_id, F.explode(F.array_distinct(toks.tokens)).alias("term")
    ).withColumn("t_bucket", _bucket(num_buckets))


def postings_of(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 32,
) -> DataFrame:
    """(doc_id, term, t_bucket): per-document DISTINCT terms with their
    layout bucket.  A stateless projection + explode, so it runs unchanged
    on a STREAMING frame — the in-stream indexing path
    (docs_stream_index_ingest) and the batch build share this exact
    expression, which is what keeps the two layouts interchangeable."""
    return _distinct_rows(_tokenized(docs, text_col, id_col), num_buckets)


def text_index_build(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 32,
) -> None:
    """Explode per-document DISTINCT terms and persist the postings
    partitioned by term bucket."""
    text_index_build_all(docs, path, text_col, id_col, num_buckets, ("postings",))


def text_index_search_all(
    spark: SparkSession,
    path: str,
    terms: list[str],
    num_buckets: int = 32,
    cached: bool = False,
) -> DataFrame:
    """doc_ids containing ALL `terms`: postings-intersection as one count.

    The bucket literals are computed driver-side, so partition pruning is
    static (the scan lists only those directories); the `term IN` filter
    reaches parquet as a pushed predicate.  Postings are distinct
    (doc, term) pairs, so `count(*) == len(terms)` is the exact AND.
    """
    want = sorted(set(terms))
    num_buckets = _buckets_of_layout(spark, path, num_buckets, "postings", cached)
    buckets = sorted({_bucket_of(t, num_buckets) for t in want})
    postings = _live_rows(spark, path, "postings", cached)
    hits = postings.filter(
        F.col("t_bucket").isin(buckets) & F.col("term").isin(want)
    )
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == len(want))
        .select("doc_id")
    )


# --- positional postings: phrase queries ------------------------------------


POSTINGS_POS_SCHEMA = _cols(
    doc_id=LongType(), pos=IntegerType(), term=StringType(), t_bucket=IntegerType()
)


def _positional_rows(toks: _Tokens, num_buckets: int) -> DataFrame:
    """(doc_id, pos, term, t_bucket): EVERY token occurrence with its
    0-based position — the positional layout phrase queries need (the
    distinct layout answers AND/OR membership but cannot see adjacency).
    ~n_tokens rows instead of distinct-terms rows; same bucketing."""
    return toks.frame.select(
        toks.doc_id, F.posexplode(toks.tokens).alias("pos", "term")
    ).withColumn("t_bucket", _bucket(num_buckets))


def text_index_build_positional(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 32,
) -> None:
    """Persist the positional postings under `<path>/postings_pos`,
    bucket-partitioned like the distinct layout."""
    text_index_build_all(docs, path, text_col, id_col, num_buckets, ("postings_pos",))


def text_index_search_phrase(
    spark: SparkSession,
    path: str,
    phrase: list[str],
    num_buckets: int = 32,
    cached: bool = False,
) -> DataFrame:
    """doc_ids containing the exact token phrase: the classic positional-
    postings join — occurrences of phrase[i] at position p+i for every i,
    intersected on (doc_id, anchor position).  Bucket pruning and term
    pushdown are identical to the AND search; the joins run only over the
    phrase terms' pruned postings, keyed by (doc_id, pos) — no corpus
    scan, no row explosion beyond the terms' occurrence lists."""
    if not phrase:  # explicit: assert is stripped under python -O (r9 ADVICE)
        raise ValueError("text_index_search_phrase: empty phrase")
    num_buckets = _buckets_of_layout(spark, path, num_buckets, "postings_pos", cached)
    buckets = sorted({_bucket_of(t, num_buckets) for t in phrase})
    postings = _live_rows(spark, path, "postings_pos", cached)
    hits = postings.filter(
        F.col("t_bucket").isin(buckets) & F.col("term").isin(sorted(set(phrase)))
    ).select("doc_id", "pos", "term")
    anchor = hits.filter(F.col("term") == phrase[0]).select(
        "doc_id", F.col("pos").alias("p0")
    )
    for i, t in enumerate(phrase[1:], start=1):
        nxt = hits.filter(F.col("term") == t).select(
            "doc_id", (F.col("pos") - i).alias("p0")
        )
        anchor = anchor.join(nxt, ["doc_id", "p0"])
    return anchor.select("doc_id").distinct()


# --- ranked retrieval (BM25-shaped) -----------------------------------------


POSTINGS_TF_SCHEMA = _cols(
    doc_id=LongType(), term=StringType(), tf=LongType(), t_bucket=IntegerType()
)
DOCLENS_SCHEMA = _cols(doc_id=LongType(), dl=LongType())


def _tf_rows(
    toks: _Tokens, num_buckets: int, n_tasks: int | None = None
) -> DataFrame:
    """(doc_id, term, tf, t_bucket): per-document term frequencies, the
    ranked layout's rows for both the batch build and the upsert deltas.

    `n_tasks`: hash-partition the token rows by t_bucket into that many
    partitions before the groupBy, exactly as _write_bucketed would
    partition the result.  That partitioning already clusters the
    (doc_id, term, t_bucket) groups, so the aggregate adds no shuffle and
    its output is written as it stands: one shuffle per ranked write."""
    rows = _positional_rows(toks, num_buckets)
    if n_tasks is not None:
        rows = rows.repartition(n_tasks, "t_bucket")
    return rows.groupBy("doc_id", "term", "t_bucket").agg(F.count(F.lit(1)).alias("tf"))


def _doclens_rows(toks: _Tokens) -> DataFrame:
    # a NULL text has no tokens: dl 0, as the oracle's sum(dl) skips it
    # (size() of a NULL array is -1 with ANSI off)
    dl = F.coalesce(F.array_size(toks.tokens), F.lit(0)).cast("long").alias("dl")
    return toks.frame.select(toks.doc_id, dl)


def text_index_build_ranked(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 32,
) -> None:
    """Persist the ranked-retrieval layout: `<path>/postings_tf`
    (doc_id, term, tf) bucket-partitioned like the other layouts, plus
    `<path>/doclens` (doc_id, dl) — the per-document statistics BM25-style
    scoring needs."""
    text_index_build_all(docs, path, text_col, id_col, num_buckets, ("postings_tf",))


def _bm25(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k1: float,
    b: float,
    num_buckets: int,
    cached: bool,
) -> tuple[DataFrame, list[Column], Column]:
    """The one BM25 scorer (text_index_search_ranked documents the
    formula): (doc_id, term, part) over the live postings of `terms`
    (sorted, distinct), the per-term pivot aggregates p0..pN, and the score
    that sums them in that FIXED term order — coalesced to 0.0 for a term
    the group lacks.  Each search groups the parts its own way, applies the
    pivot, and keeps its own top-k cut."""
    num_buckets = _buckets_of_layout(spark, path, num_buckets, "postings_tf", cached)
    buckets = sorted({_bucket_of(t, num_buckets) for t in terms})
    tfp = (
        _live_rows(spark, path, "postings_tf", cached)
        .filter(F.col("t_bucket").isin(buckets) & F.col("term").isin(terms))
        .select("doc_id", "term", "tf")
    )
    doclens = _live_rows(spark, path, "doclens", cached)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    dfs = tfp.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    hits = (
        tfp.join(doclens, "doc_id")
        .join(F.broadcast(dfs), "term")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf_r = ((F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)) / (
        F.col("df").cast("double") + F.lit(0.5)
    )
    tff = (F.col("tf").cast("double") * F.lit(k1 + 1.0)) / (
        F.col("tf").cast("double")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    parts = hits.select("doc_id", "term", (idf_r * tff).alias("part"))
    pivot = [
        F.max(F.when(F.col("term") == t, F.col("part"))).alias(f"p{i}")
        for i, t in enumerate(terms)
    ]
    score = F.coalesce(F.col("p0"), F.lit(0.0))
    for i in range(1, len(terms)):
        score = score + F.coalesce(F.col(f"p{i}"), F.lit(0.0))
    return parts, pivot, score.alias("score")


def text_index_search_ranked(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 10,
    k1: float = 1.25,
    b: float = 0.75,
    num_buckets: int = 32,
    cached: bool = False,
) -> DataFrame:
    """Top-k documents by a BM25-shaped score over the persisted ranked
    layout (Robertson & Zaragoza 2009, "The Probabilistic Relevance
    Framework"): per query term,

        part(t, d) = idf_r(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))

    with the RATIONAL idf  idf_r = (N − df + 0.5)/(df + 0.5) — the inside
    of BM25's log, used without the log.  The log is monotone, so the
    PER-TERM preference order is classical BM25's; the cross-engine reason
    is harder: ln() is the one op here that is not IEEE-correctly-rounded
    (JVM vs DuckDB libm differ at the last ulp — the classifier_logit
    sigmoid note), while +,−,×,÷ on exact-integer inputs are deterministic
    in any IEEE engine.  A serving stack that wants the textbook ln(idf)
    drops it in unchanged — same plan, same layout.

    The per-document score sums the ≤|terms| parts in FIXED term order
    (one pivoted column per query term, added left-to-right), so the
    double is reproducible under any partitioning or merge order.

    Scale shape: bucket pruning + term pushdown as in the boolean search;
    df comes from the pruned postings themselves (one k-row aggregate),
    corpus stats (N, Σdl) are a 1-row broadcast, and the final top-k is a
    TakeOrderedAndProject — no corpus scan anywhere.
    """
    if not terms:  # explicit: assert is stripped under python -O (r9 ADVICE)
        raise ValueError("text_index_search_ranked: empty query")
    parts, pivot, score = _bm25(
        spark, path, sorted(set(terms)), k1, b, num_buckets, cached
    )
    return (
        parts.groupBy("doc_id")
        .agg(*pivot)
        .select("doc_id", score)
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def text_index_search_ranked_batch(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    k1: float = 1.25,
    b: float = 0.75,
    num_buckets: int = 32,
    cached: bool = False,
) -> DataFrame:
    """BM25 top-k for a BATCH of queries in ONE pass over the serving
    layout (r8 verdict item 3 — the single-query form answers one term
    set per plan; a serving stack amortizes the postings scan over the
    whole in-flight batch): `queries` is [(q_id, terms)], the postings
    scan is pruned ONCE to the union of every query's buckets/terms, a
    broadcast (q_id, term) join fans each matching posting out to the
    queries that asked for its term, and ranking is a
    Window.partitionBy(q_id) — every stage parallel in the batch, never
    a single-partition window.

    Scores are bit-identical to the single-query path: per-term parts
    come from the same scorer, _bm25 (df per term is a property of the
    corpus, not of the batch), and each (q_id, doc) score sums its parts
    in the FIXED global sorted-union term order via one pivoted column
    per term — terms a query didn't ask for are absent by the fan-out
    join and coalesce to 0.0.  Output: (q_id, doc_id, score, rk)."""
    # explicit, not assert (stripped under python -O, and the failure would
    # otherwise surface later as an opaque unresolved-column error on p0 —
    # the score expression seeds from the first pivoted term column)
    if not queries or not all(ts for _, ts in queries):
        raise ValueError(
            "text_index_search_ranked_batch: empty batch or a query with "
            "no terms — every (q_id, terms) entry needs at least one term"
        )
    union_terms = sorted({t for _, ts in queries for t in ts})
    parts, pivot, score = _bm25(spark, path, union_terms, k1, b, num_buckets, cached)
    qdf = spark.createDataFrame(
        sorted((int(q), t) for q, ts in queries for t in set(ts)),
        "q_id long, term string",
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        parts.join(F.broadcast(qdf), "term")
        .groupBy("q_id", "doc_id")
        .agg(*pivot)
        .select("q_id", "doc_id", score)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


# --- mutation lifecycle: upsert / delete / purge ------------------------------
#
# A 100-TB corpus mutates, and a document's terms hash across ~every bucket,
# so "rewrite the touched partitions" (the ANN index's upsert shape,
# sources/ann_index.ivf_index_upsert) degenerates to a full rewrite here.
# The standard answer — Lucene's liveDocs, Delta Lake's deletion vectors,
# every LSM store — is base + delta + tombstones:
#
# - `<path>/docgen` (doc_id, gen, deleted): ONE row per document ever
#   mutated, carrying the latest generation.  Small (the mutation set
#   between purges, not the corpus), broadcast at serve time, and the
#   COMMIT POINT: an upsert is visible exactly when its docgen swap lands.
# - `<path>/<layout>_delta/gen=N/t_bucket=M/`: the re-tokenized postings of
#   generation N's updated documents, written BEFORE the docgen swap with
#   per-generation directory overwrite — a crashed upsert leaves orphan
#   delta rows that no docgen row references (invisible to serving) and a
#   retry overwrites them in place, so replay cannot double-post.
# - serving overlays: base postings minus every mutated doc (broadcast
#   anti-join), plus delta rows whose (doc_id, gen) matches a live docgen
#   row.  Bucket pruning and term pushdown hit BOTH scans — the delta is
#   partitioned gen/t_bucket, so the same static bucket literals prune it.
# - `text_index_purge` folds the overlay back into each base layout
#   (journaled whole-layout swaps — io.swap_layout), then drops docgen and
#   the deltas.  O(corpus) by nature, like any LSM major compaction; run it
#   on the merge policy's schedule, not per mutation.
#
# Crash ordering is safe at every point: purge swaps bases first (the
# overlay of a folded base re-derives the same rows: base minus mutated
# docs plus their delta rows == base), drops docgen second (serving
# becomes base-only, which is now correct), deltas last (orphaned delta
# generations are unreferenced, and a post-purge upsert re-numbers from
# gen=1 OVERWRITING each gen directory before any docgen row can point
# at it again).

# Each postings layout's row function (doclens rides with postings_tf).
_LAYOUTS = {
    "postings": _distinct_rows,
    "postings_pos": _positional_rows,
    "postings_tf": _tf_rows,
}
_LAYOUT_SCHEMAS = {
    "postings": POSTINGS_SCHEMA,
    "postings_pos": POSTINGS_POS_SCHEMA,
    "postings_tf": POSTINGS_TF_SCHEMA,
    "doclens": DOCLENS_SCHEMA,
}
DOCGEN_SCHEMA = _cols(doc_id=LongType(), gen=IntegerType(), deleted=BooleanType())


def _write_layout(
    layout: str, toks: _Tokens, num_buckets: int, out: str, n_tasks: int
) -> None:
    """Write one postings layout of `toks` (builds and upsert deltas)."""
    if layout == "postings_tf":
        _write_partitioned(_tf_rows(toks, num_buckets, n_tasks), out)
    else:
        _write_bucketed(_LAYOUTS[layout](toks, num_buckets), out, n_tasks)


def _delta_schema(layout: str) -> StructType:
    """A `<layout>_delta` read: the layout's file columns, then the
    partition columns in path order — gen=N, and t_bucket=M for postings
    layouts."""
    fields = _LAYOUT_SCHEMAS[layout].fields
    return StructType(
        [f for f in fields if f.name != "t_bucket"]
        + [StructField("gen", IntegerType())]
        + [f for f in fields if f.name == "t_bucket"]
    )


def _docgen_path(path: str) -> str:
    return os.path.join(path, "docgen")


def _delta_root(path: str, layout: str) -> str:
    return os.path.join(path, f"{layout}_delta")


def _read_docgen(spark: SparkSession, path: str) -> DataFrame | None:
    """The mutation registry, or None for a never-mutated layout.  Rolls
    an interrupted docgen swap forward first, so a reader after a crash
    sees the committed generation (the manifest is written only after the
    staged table is complete — io.recover_swap's contract)."""
    from codecdb_queryengine_spark.sources import io as IO

    dg = _docgen_path(path)
    IO.recover_swap(dg)
    if not fs_exists(spark, dg):
        return None
    return spark.read.schema(DOCGEN_SCHEMA).parquet(dg)


# Opt-in cached serving (io.serve_memo): a long-lived serving process passes
# cached=True to reuse the RESOLVED overlay plan (base scan + docgen + delta
# join) and the layout's bucket count across queries.  Every in-module
# mutation (build, upsert, purge) invalidates its layout; out-of-band
# mutations need an explicit invalidate_layout(path).
def _live_rows(
    spark: SparkSession, path: str, layout: str, cached: bool = False
) -> DataFrame:
    """The layout's CURRENT rows (a postings layout or doclens): base rows
    of never-mutated documents plus the latest-generation delta rows of
    live mutated ones.  Everything docgen-shaped is broadcast (the mutation
    set between purges, not the corpus); a bucket/term filter applied by
    the caller pushes into both parquet scans, so serving keeps the
    static-prune scale shape.  `cached=True` memoizes the resolved overlay
    plan (io.serve_memo)."""
    if cached:
        key = os.path.join(path, layout)
        return serve_memo(spark, key, lambda: _live_rows(spark, path, layout), True)
    base = spark.read.schema(_LAYOUT_SCHEMAS[layout]).parquet(os.path.join(path, layout))
    dg = _read_docgen(spark, path)
    if dg is None:
        return base
    live = base.join(F.broadcast(dg.select("doc_id")), "doc_id", "left_anti")
    delta_dir = _delta_root(path, layout)
    if fs_exists(spark, delta_dir):
        keep = dg.filter(~F.col("deleted")).select("doc_id", "gen")
        cur = (
            spark.read.schema(_delta_schema(layout))
            .parquet(delta_dir)
            .join(F.broadcast(keep), ["doc_id", "gen"])
            .select(*base.columns)
        )
        live = live.unionByName(cur)
    return live


def _stage_docgen(path: str, new_dg: DataFrame) -> str:
    """Write the new docgen generation to its staging sibling WITHOUT
    committing.  Safe to run concurrently with the delta writes: nothing
    reads `.staging`, and a crash before _promote_docgen leaves no
    manifest — recover_swap is a no-op and the orphaned staging dir is
    simply overwritten by the next upsert."""
    staging = _docgen_path(path) + ".staging"
    new_dg.coalesce(1).write.mode("overwrite").parquet(staging)
    return staging


def _promote_docgen(spark: SparkSession, path: str, staging: str) -> None:
    """The atomic docgen commit: journaled swap (or a bare rename when no
    docgen exists yet — the rename itself is the atomic commit).  Must
    run only after every delta of the generation has fully landed."""
    from codecdb_queryengine_spark.sources import io as IO

    dg = _docgen_path(path)
    if fs_exists(spark, dg):
        IO.swap_layout(dg, staging)
    else:
        os.rename(staging, dg)


def text_index_upsert(
    path: str,
    updates: DataFrame | None = None,
    delete_ids: DataFrame | None = None,
    *,
    spark: SparkSession | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> int:
    """Document UPDATE + DELETE against every layout persisted at `path`,
    O(mutation batch) — no base file is read or rewritten.  `updates` is
    (id, new_text); `delete_ids` a one-column id frame.  Protocol (see the
    section comment): re-tokenized delta postings land first under
    `<layout>_delta/gen=N` (directory overwrite — a replayed batch cannot
    double-post), then the docgen swap commits the generation.  Returns
    the committed generation number, or 0 for an EMPTY mutation batch
    (no generation is committed — the CDC sink's drained-tail case).

    A document may be updated and deleted across calls in any order; within
    ONE call a doc_id in both frames raises (ambiguous latest state), as do
    duplicate ids in `updates` and NULL ids (an anti-join can never match
    NULL — the silent-loss class upsert_partitioned guards against)."""
    if updates is None and delete_ids is None:
        raise ValueError("text_index_upsert: nothing to do — no updates, no deletes")
    if spark is None:
        spark = (updates if updates is not None else delete_ids).sparkSession

    batch = None
    if updates is not None:
        batch = updates.select(F.col(id_col).alias("doc_id")).withColumn(
            "deleted", F.lit(False)
        )
    if delete_ids is not None:
        del_ids = delete_ids.select(
            F.col(delete_ids.columns[0]).alias("doc_id")
        ).distinct().withColumn("deleted", F.lit(True))
        batch = del_ids if batch is None else batch.unionByName(del_ids)
    # ONE aggregate pass answers the whole guard (r12: the per-op
    # distinct counts ride along, so the precise dup/overlap diagnosis no
    # longer needs follow-up jobs) plus op presence — an EMPTY batch (a
    # drained CDC stream's tail) returns 0 without committing a
    # generation, and a delete-only batch skips the delta writes below.
    g = batch.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.count(F.when(F.col("doc_id").isNull(), 1)).alias("n_null"),
        F.count(F.when(~F.col("deleted"), 1)).alias("n_upd"),
        F.countDistinct(F.when(~F.col("deleted"), F.col("doc_id"))).alias("nd_upd"),
        F.countDistinct(F.when(F.col("deleted"), F.col("doc_id"))).alias("nd_del"),
    ).first()
    if not g["n"]:
        return 0
    if g["n_null"]:
        raise ValueError("text_index_upsert: NULL doc_id in the mutation batch")
    if g["n_upd"] != g["nd_upd"]:
        raise ValueError("text_index_upsert: duplicate doc_id in updates")
    if g["nd"] != g["nd_upd"] + g["nd_del"]:
        raise ValueError(
            "text_index_upsert: doc_id in both updates and delete_ids — "
            "ambiguous latest state; split into two calls"
        )

    old_dg = _read_docgen(spark, path)
    if old_dg is None:
        new_gen = 1
    else:
        # exact int64 max from the docgen parquet row-group statistics —
        # no Spark job on local paths; the aggregate remains the schemed-
        # storage fallback
        from codecdb_queryengine_spark.sources import io as IO

        mx = IO.tiny_meta_col_max(_docgen_path(path), "gen")
        new_gen = (
            int(mx) if mx is not None else old_dg.agg(F.max("gen")).first()[0]
        ) + 1

    layouts = [l for l in _LAYOUTS if fs_exists(spark, os.path.join(path, l))]
    if not layouts:
        raise ValueError(f"text_index_upsert: no index layouts at {path}")
    if updates is not None and g["n_upd"]:
        # size the delta shuffle to the BATCH (the guard agg already knows
        # it): a typical mutation batch is thousands of docs, and a fixed
        # 32-way repartition would pay 32 tasks to write a few hundred rows
        # each — per-job overhead, not data, dominates maintenance cost
        n_tasks = write_task_count(spark, int(g["n"]), per_task=2000)
        toks = _tokenized(updates, text_col, id_col)

        def _delta_write(layout: str) -> None:
            nb = _read_buckets(spark, path, 32, layout=layout)
            out = os.path.join(_delta_root(path, layout), f"gen={new_gen}")
            _write_layout(layout, toks, nb, out, n_tasks)

        def _doclens_delta() -> None:
            (
                _doclens_rows(toks)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(_delta_root(path, "doclens"), f"gen={new_gen}"))
            )

        writes = [lambda l=l: _delta_write(l) for l in layouts]
        if "postings_tf" in layouts:
            writes.append(_doclens_delta)
    else:
        writes = []

    batch = batch.select(
        "doc_id", F.lit(new_gen).cast("int").alias("gen"), "deleted"
    )  # DOCGEN_SCHEMA's column order
    if old_dg is None:
        new_dg = batch
    else:
        survivors = old_dg.join(
            F.broadcast(batch.select("doc_id")), "doc_id", "left_anti"
        )
        new_dg = survivors.unionByName(batch)
    # Independent writes — the per-layout deltas AND the docgen STAGING —
    # run up to 3 in flight (guide §2.6).  The commit protocol is
    # unchanged: nothing reads the staging sibling, so only the promote
    # below (after every delta of the generation has fully landed)
    # publishes the new generation; crash replay is as before.
    writes.append(lambda: _stage_docgen(path, new_dg))
    staged = run_parallel(spark, writes, 3)[-1]
    _promote_docgen(spark, path, staged)
    invalidate_layout(path)
    return new_gen


def text_index_purge(spark: SparkSession, path: str) -> list[str]:
    """Fold the delta overlay back into each base layout — the LSM major
    compaction.  O(corpus) by nature; run on the merge policy's schedule.
    Each base is rewritten from its own overlay and promoted through the
    journaled whole-layout swap, then docgen is dropped (the serve flips to
    base-only, now complete), then the orphaned delta directories.  Crash-
    safe at every boundary — the section comment walks the orderings.
    Returns the layout names folded; no-op (empty list) when never mutated."""
    import shutil

    from codecdb_queryengine_spark.sources import io as IO

    if _read_docgen(spark, path) is None:
        return []
    layouts = [l for l in _LAYOUTS if fs_exists(spark, os.path.join(path, l))]

    # Folds are independent whole-layout rewrites (any completion order is
    # crash-safe — a folded base re-derives the same rows under the
    # overlay), so run 3 in flight (guide §2.6) with each postings fold
    # sized to the bucket count like every other layout write.
    def _fold(layout: str) -> None:
        base_path = os.path.join(path, layout)
        IO.recover_swap(base_path)
        live = _live_rows(spark, path, layout)
        tmp = base_path + ".purging"
        if layout == "doclens":
            live.write.mode("overwrite").parquet(tmp)
        else:
            nb = _read_buckets(spark, path, 32, layout=layout)
            _write_bucketed(
                live, tmp, write_task_count(spark, nb, BUCKETS_PER_WRITE_TASK)
            )
        IO.swap_layout(base_path, tmp)

    folded = layouts + (["doclens"] if "postings_tf" in layouts else [])
    run_parallel(spark, [lambda l=l: _fold(l) for l in folded], 3)
    shutil.rmtree(_docgen_path(path))
    for layout in [*layouts, "doclens"]:
        shutil.rmtree(_delta_root(path, layout), ignore_errors=True)
    invalidate_layout(path)
    return layouts


def text_index_build_all(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_buckets: int = 32,
    layouts: tuple[str, ...] = ("postings", "postings_pos", "postings_tf"),
) -> None:
    """Build every requested serving layout from ONE tokenization pass —
    the one build core; the single-layout builders call it with one layout.

    Separate builds each re-scan and re-tokenize the corpus — three corpus
    reads for a full index at 100 TB.  For more than one layout this pass
    persists the token ARRAYS once and derives every layout's rows
    map-side from the cached arrays (array_distinct-explode, posexplode,
    size), paying exactly the per-layout bucket shuffles and reading the
    corpus once.  A single layout reads the corpus directly (a cache would
    only add its materializing job).
    """
    unknown = set(layouts) - set(_LAYOUTS)
    if unknown:
        raise ValueError(f"unknown layouts {sorted(unknown)}")
    spark = docs.sparkSession
    # persist the TOKEN ARRAYS, not an exploded shape: every layout's rows
    # then derive map-side from the cached arrays with exactly the
    # per-layout shuffles — no extra distinct/groupBy sneaks in
    shared = len(set(layouts)) > 1
    toks = _tokenized(docs, text_col, id_col)
    if shared:
        toks = _persisted(toks)
    n_tasks = write_task_count(spark, num_buckets, BUCKETS_PER_WRITE_TASK)

    def _build(layout: str) -> None:
        out = os.path.join(path, layout)
        _write_layout(layout, toks, num_buckets, out, n_tasks)
        _write_meta(spark, path, num_buckets, layout=layout)

    def _build_doclens() -> None:
        out = os.path.join(path, "doclens")
        _doclens_rows(toks).write.mode("overwrite").parquet(out)

    # The writes are INDEPENDENT jobs — run 2 in flight (guide §2.6) so one
    # write's task tail back-fills with the next write's tasks instead of
    # idling the executors.  A shared cache is materialized first so
    # concurrent jobs read it instead of racing to compute it.
    writes = [lambda l=l: _build(l) for l in _LAYOUTS if l in layouts]
    if "postings_tf" in layouts:
        writes.append(_build_doclens)
    try:
        if shared:
            toks.frame.count()  # materialize once, before the parallel reads
        run_parallel(spark, writes, 2)
    finally:
        if shared:
            toks.frame.unpersist()
    invalidate_layout(path)
