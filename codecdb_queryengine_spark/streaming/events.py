"""Structured Streaming surface over the events stream.

The reference has no stream processing (SURVEY.md §2.8 — its `stream.h` is
an internal lazy-iterator utility, reference: cpp/src/lqf/stream.h:149,229);
this module is the driver-mandated extension.  Batch twins of these
aggregations live in queries/events.py (events_window / events_sessionize)
so the correctness oracle still applies; here the same transformations run
against an unbounded source with watermarks.

Scale design: one streaming shuffle per windowed agg keyed on
(window, event_type) — state store size is bounded by watermark horizon;
`availableNow` triggers let the same pipeline run as incremental batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import _fix_nanos, raw_schema
from codecdb_queryengine_spark.queries.sums import unit_sum, unit_total


def default_state_partitions(spark: SparkSession) -> int:
    """The state-store partition count policy run_to_memory documents:
    the `spark_graft.streaming.statePartitions` conf when set, else a
    flat 8.  The default is sized to the STATE, deliberately NOT to the
    core count (r12; was max(8, defaultParallelism // 2)): every store
    pays a fixed load/commit cost per microbatch, so until per-store
    state is large enough to bound task time, more stores is pure
    overhead — measured at 32 cores the windowed gates run ~1.2× faster
    at 8 stores than at 16, and the r11 scaling block showed every
    stateful gate FASTER at 8 cores (ratios 0.44-0.86) for the same
    reason.  A cluster deployment whose state spans executors sets the
    conf to ~(state rows / target rows per store) once at submit time;
    the count is fixed for the checkpoint's lifetime."""
    conf_v = spark.conf.get("spark_graft.streaming.statePartitions", None)
    return int(conf_v) if conf_v else 8


class state_partition_scope:
    """Context manager pinning spark.sql.shuffle.partitions for a
    STATEFUL streaming query's lifetime (a streaming query snapshots the
    conf at start and gets no AQE coalescing — see run_to_memory).  The
    scope must stay open until the query has fully drained
    (awaitTermination), because microbatches plan asynchronously after
    start()."""

    def __init__(self, spark: SparkSession, n: int | None = None) -> None:
        self.spark = spark
        self.n = n if n is not None else default_state_partitions(spark)

    def __enter__(self) -> "state_partition_scope":
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))
        return self

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def read_table_stream(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source stream over one sf-dir parquet table
    (one-file-per-trigger).

    readStream requires an explicit schema, and the testdata's `ts` column
    has shipped both as TIMESTAMP(MICROS) (a real timestamp) and as
    TIMESTAMP(NANOS) (surfaces as long under nanosAsLong, catalog.py) —
    take the raw schema the catalog read from the same file (no second
    schema-inference job), so the stream always matches the data, then
    apply the same nanos fix the catalog uses.  Going through the catalog
    also applies the session confs (notably shuffle.partitions: state-store
    count, no AQE coalescing).
    """
    schema = raw_schema(spark, sf_dir, table)
    # File stream sources require a directory; select the single table
    # file out of the sf dir with a glob filter.
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )
    return _fix_nanos(table, raw)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (see read_table_stream)."""
    return read_table_stream(spark, sf_dir, "events")


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # state-merge order is engine/runtime-dependent; the unit sum is
            # not
            unit_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_avg(events: DataFrame, window: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    """Sliding-window average value per event type (count and sum emitted
    alongside — the algebraic partials the average folds over).  The
    average is the exact sum over the count, so it too is independent of
    the state-merge order."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", window, slide), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            unit_sum(F.col("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
            (F.col("sum_value") / F.col("n")).alias("avg_value"),
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows per user (gap-based), the streaming twin of
    the batch lag/cumsum sessionization in queries/events.py."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, within: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id with bounded state:
    dropDuplicatesWithinWatermark keeps ids only for the watermark horizon,
    so state is O(events per horizon) — the streaming face of the batch
    exact_dedup operator (operators/dedup.py)."""
    return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(["event_id"])


def purchases_with_recent_click(
    events: DataFrame, lookback: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: each purchase paired with the same user's
    clicks in the preceding `lookback`.  Both sides watermarked so the
    join state expires; the time-range predicate bounds how long a click
    waits for a matching purchase."""
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {lookback}"))
    )
    return purchases.join(clicks, cond).select(
        F.col("p_user").alias("user_id"), "purchase_id", "click_id", "p_ts", "c_ts"
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, sum) maintained in
    arbitrary state with applyInPandasWithState — the escape hatch for
    stateful logic windowed aggs can't express (the batch twin is a plain
    groupBy, pinned in tests/test_streaming.py).

    State per key is two scalars — O(distinct users) store size, no
    per-event retention; Arrow-batched, never row-at-a-time Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key
        n, cents = state.get() if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            # integer cents (queries/sums.py): the running total is
            # order-free and engine-free
            cents += unit_total(pdf["value"].to_numpy(), 2)
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "sum_value": [cents / 100.0]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        "user_id long, n_events long, sum_value double",
        "n long, cents long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def static_enriched_totals(
    events: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Stream-static enrichment: join the event stream against a batch
    dimension (customer -> nation name), then aggregate per nation.

    The static side is joined per-microbatch with a broadcast hash join —
    no state store is involved for the join itself (contrast
    purchases_with_recent_click, which buffers both sides in state); only
    the final aggregation keeps state.  This is the streaming analog of
    the reference's fact-to-dimension joins (SURVEY.md §2.3), and at
    cluster scale the dimension is broadcast once per executor and reused
    across microbatches.
    """
    dim = (
        customer.select("c_custkey", "c_nationkey")
        .join(
            nation.select("n_nationkey", "n_name"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "n_name")
    )
    return (
        events.join(F.broadcast(dim), events.user_id == dim.c_custkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            unit_sum(F.col("value"), 2).alias("sum_value"),
        )
    )


def run_to_memory(
    stream_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming DF with an availableNow trigger into a memory
    sink; returns the completed result as a batch DataFrame.  Used by tests
    to pin streaming output against the batch twin.

    `state_partitions` sets the state-store partition count (a streaming
    query snapshots shuffle.partitions at start, with no AQE coalescing
    ever after).  Size it to the STATE, not the core count: every store
    pays a fixed load/commit cost per microbatch — including the empty
    watermark-advance batch availableNow always appends — so oversizing
    multiplies pure overhead (measured sf0.01: windowed agg 1.2 s at 16
    stores vs 1.4 s at 32; stream-stream join, which keeps 4 stores per
    partition, 4.7 s at 8 vs 15 s at 32).  At cluster scale pass the
    spark_graft.streaming.statePartitions conf instead — state that
    spans executors needs one store per concurrent task, and the count
    is fixed for the checkpoint's lifetime.
    """
    spark = stream_df.sparkSession
    with state_partition_scope(spark, state_partitions):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        # microbatches plan asynchronously after start() — only restore the
        # conf once the query has fully drained
        q.awaitTermination()
    return spark.table(query_name)
