"""Streaming sinks: checkpointed, partitioned, restart-idempotent.

The reference's only sink is a stdout Printer (reference:
cpp/src/lqf/print.h:74-90); a 100-TB ingestion pipeline needs durable
sinks with exactly-once restarts.  Structured Streaming gives this via
the checkpoint + file-sink commit log: re-running a finished availableNow
trigger is a no-op, a killed run resumes from the last committed batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery


def stream_to_parquet(
    df: DataFrame,
    path: str,
    checkpoint: str,
    partition_by: tuple[str, ...] = (),
    available_now: bool = True,
    n_write_tasks: int | None = None,
) -> StreamingQuery:
    """Append a stream to a partitioned parquet table with exactly-once
    semantics (file-sink commit log under `checkpoint`).

    Partitioning by a low-cardinality derived column (hour/day) keeps
    file counts bounded and gives downstream scans partition pruning.

    `n_write_tasks` repartitions each micro-batch by the partition
    columns before the sink (r12, guide §2.2/§6): a micro-batch read
    from one input file is ONE task, and one task serially writing ~K
    partition directories is the measured-slow write shape (3.1 s for a
    ~140-dir layout vs 1.05 s spread over 8 tasks).  Callers size it
    from their known directory count (io.write_task_count), which keeps
    the knob scale-adaptive — the stateless shuffle itself is a few
    bytes per row and does not touch the commit-log protocol.
    """
    if partition_by and n_write_tasks:
        df = df.repartition(int(n_write_tasks), *partition_by)
    w = df.writeStream.format("parquet").option("path", path).option(
        "checkpointLocation", checkpoint
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def read_parquet_sink(spark: SparkSession, path: str) -> DataFrame:
    """Read back what the streaming sink committed (respects the sink's
    _spark_metadata commit log, so uncommitted files are invisible)."""
    return spark.read.parquet(path)


def materialize_rollup(
    events: DataFrame,
    path: str,
    checkpoint: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Hypertable-style continuous aggregate: the events stream rolls up
    into per-(window, event_type) rows appended to a parquet table as each
    window finalizes (append mode emits a window only once its end passes
    the watermark — so every materialized row is immutable and re-runs
    append nothing twice).

    The sink is the serving table: time-ordered, pre-aggregated,
    partition-prunable — the standard continuous-rollup pattern a
    TimescaleDB/Druid user expects, built from watermark + append + file
    commit log.  Windows newer than the watermark horizon stay pending in
    the state store until more data arrives.
    """
    from codecdb_queryengine_spark.streaming.events import windowed_counts

    rolled = windowed_counts(events, window=window, watermark=watermark)
    return stream_to_parquet(rolled, path, checkpoint)


def stream_apply_text_mutations(
    mutations: DataFrame,
    index_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """CDC into the persisted text index: a stream of document mutation
    events (`op` 'u'/'d', `doc_id`, `text`) applied per micro-batch through
    sources/text_index.text_index_upsert via foreachBatch — each committed
    batch becomes ONE mutation generation of the base+delta+tombstone
    protocol, so serving stays live between batches and never rewrites a
    base file.

    Delivery is Structured Streaming's foreachBatch contract
    (at-least-once): a batch REPLAYED after a crash bumps the generation
    again with the same content, and the serving state converges anyway —
    latest-wins over identical rows, with the replayed delta overwriting
    its own generation directory.  A real CDC feed should pre-reduce each
    batch to one terminal event per doc_id (text_index_upsert raises on a
    doc appearing as both update and delete in one call — ambiguous
    latest state)."""
    from pyspark.sql import functions as F

    from codecdb_queryengine_spark.sources import text_index as TI

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # No pre-probe job (r12): text_index_upsert's own fused guard
        # aggregate answers op presence — an empty batch returns 0 without
        # writing, a delete-only batch skips the delta writes.
        TI.text_index_upsert(
            index_path,
            updates=batch_df.filter(F.col("op") == "u").select("doc_id", "text"),
            delete_ids=batch_df.filter(F.col("op") == "d").select("doc_id"),
        )

    return (
        mutations.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_apply_vector_mutations(
    mutations: DataFrame,
    index_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """CDC into the persisted IVF vector index — the vector-side mirror of
    stream_apply_text_mutations: a stream of mutation events (`op` 'u'/'d',
    `vec_id`, `embedding`) applied per micro-batch through
    sources/ann_index.ivf_index_upsert via foreachBatch.  Each committed
    batch is one touched-lists rewrite (updates re-assigned against the
    layout's own persisted centroids, deletes dropped, journaled swap) —
    serving stays live between batches and untouched lists are never
    rewritten.

    Delivery is foreachBatch's at-least-once: a batch REPLAYED after a
    crash re-runs the same upsert, which is IDEMPOTENT — updates re-assign
    to the same lists with the same rows, deletes of already-deleted ids
    locate nothing — so the layout converges to the same state
    (tests/test_ann_index.test_ivf_upsert_replay_idempotent).

    The layout's own artifacts pick the family, the way append and upsert
    read their quantizers back from it: a `codebooks/` table means the
    codes-only IVFADC lists (updates RE-ENCODED against the persisted
    quantizer pair through ivfpq_index_upsert), otherwise flat IVF
    (ivf_index_upsert); the same touched-lists + journaled-swap contract
    either way.  A path with no `centroids/` is no index and raises.

    Intra-batch conflicts RAISE, exactly like the text twin (r9 ADVICE
    item 1): the event schema carries no ordering metadata, so a vec_id
    appearing as both 'u' and 'd' in one micro-batch (or duplicated in
    the updates, or NULL) has no well-defined terminal state — the
    upsert's batch guard fails the batch instead of silently resolving
    update-wins.  A real CDC feed pre-reduces each batch to one terminal
    event per vec_id before it reaches this sink."""
    from pyspark.sql import functions as F

    from codecdb_queryengine_spark.sources import ann_index as AI
    from codecdb_queryengine_spark.sources.io import fs_exists

    spark = mutations.sparkSession
    if not fs_exists(spark, os.path.join(index_path, "centroids")):
        raise ValueError(f"{index_path}: no centroids/ artifact — not a vector index")
    if fs_exists(spark, os.path.join(index_path, "codebooks")):
        upsert = AI.ivfpq_index_upsert
    else:
        upsert = AI.ivf_index_upsert

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        # No pre-probe job (r12): the upsert core's fused rollup guard
        # answers op presence itself, so the sink adds no probe action of
        # its own.  An empty batch pays only that guard aggregate over its
        # own events: the locate pass over the layout's (n_id, c_list)
        # projection runs only after the guard shows a non-empty batch.
        # A delete-only batch rides its (empty) update frame through the
        # same plan; the re-assignment expressions evaluate inside the
        # jobs the upsert already runs.
        upsert(
            index_path,
            updates=batch_df.filter(F.col("op") == "u").select("vec_id", "embedding"),
            delete_ids=batch_df.filter(F.col("op") == "d").select("vec_id"),
            spark=batch_df.sparkSession,
        )

    return (
        mutations.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
