"""SparkSession factory with scale-oriented defaults.

The reference engine runs one process with a 20-thread pool and one task per
Parquet row group (reference: cpp/src/lqf/stream.cc:9,
cpp/src/lqf/data_model.cc:966-970).  The Spark analog is local[N] with
row-group-sized input splits; on a real cluster the same code runs unchanged
with executors instead of threads.

Config rationale (each knob is the 100-TB design point, not a local hack):
- AQE on: runtime join-strategy switch, partition coalescing and skew-join
  splitting replace the reference's hand-chosen build sides and hash-table
  size hints (cpp/src/lqf/tpch/query3.cc:64).
- runtime bloom filter: Spark's native version of the reference's pervasive
  semi-join reduction (dimension filter pruning the fact scan before the
  join, cpp/src/lqf/join.h:179-199).
- broadcast threshold 64 MB: every TPC-H/SSB dimension (even at SF 10k,
  nation/region/supplier/part filtered) should hash-broadcast, never shuffle
  the fact table for a dim join.
- shuffle partitions default to 2x cores locally; on a cluster AQE coalesces
  from a deliberately-high initial number, so we set the initial high and let
  AQE shrink.
"""

from __future__ import annotations

import os

from collections.abc import Callable, Sequence
from typing import TypeVar

from pyspark.sql import SparkSession

_T = TypeVar("_T")


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    except ValueError:
        return 32


def get_spark(app_name: str = "codecdb-queryengine-spark", **extra_conf: str) -> SparkSession:
    """Build (or fetch) the session. extra_conf entries override defaults."""
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
        # --- adaptive execution: replaces the reference's hand-tuned plans
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime SMJ->broadcast re-planning is disabled: the static 64 MB
        # threshold below already broadcasts every dimension, so the runtime
        # conversion's only residual effect is re-collecting mid-query at the
        # driver — measured locally it destabilizes heavy expression plans
        # (5-25s spikes on the LSH dedup suite; steady ~4s without).
        # Coalescing and skew-splitting (the AQE wins that matter at 100 TB)
        # stay on.
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        # --- semi-join reduction, Spark-native (lqf FilterJoin analog).
        # NOTE: runtimeFilter.semiJoinReduction.enabled is deliberately NOT set:
        # enabling it together with the bloom filter hangs Spark 4.1 session
        # startup (observed locally); the bloom filter alone covers the
        # reference's FilterJoin pruning pattern.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # --- join planning
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- shuffle sizing: start high, AQE coalesces down
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        # --- scan sizing: ~1 task per parquet row group at typical 128MB groups
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # --- driver testdata writes TIMESTAMP(NANOS) parquet, which Spark 4
        # rejects; read as long and convert in the catalog (catalog.py).  Real
        # deployments write MICROS and keep full pushdown.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # NTZ-annotated MICROS parquet must read as regular timestamps for
        # watermarks/windows (see catalog._SESSION_CONFS rationale)
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- python boundary: Arrow everywhere we cross it
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- deterministic, oracle-friendly semantics
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed writes) land outside the repo
        .config("spark.sql.warehouse.dir", os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark-warehouse"))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def run_parallel(
    spark: SparkSession, jobs: Sequence[Callable[[], _T]], max_in_flight: int
) -> list[_T]:
    """Run independent driver-side jobs (no-argument callables that launch
    Spark actions) up to `max_in_flight` at once, so one job's task tail
    back-fills with the next job's tasks; results come back in `jobs`
    order.  A single job runs inline.

    Each job is wrapped with pyspark.inheritable_thread_target(spark) at
    call time, so its pool thread carries the caller's local properties as
    they are now — job group, description, scheduler pool — and the jobs
    it launches count under the caller's job group (a plain pool thread's
    jobs belong to no group)."""
    if len(jobs) <= 1:
        return [job() for job in jobs]
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    wrap = inheritable_thread_target(spark)
    if wrap is spark:  # pinned-thread mode off: threads share JVM properties
        wrap = lambda job: job  # noqa: E731
    with ThreadPoolExecutor(max_workers=max_in_flight) as pool:
        return list(pool.map(lambda job: job(), [wrap(job) for job in jobs]))
