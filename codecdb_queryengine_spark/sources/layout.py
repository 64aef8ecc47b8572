"""Data-layout operators: Z-order (Morton) clustering for multi-column
data skipping, and the row-group split the catalog scans its fact tables in.

No reference counterpart (the reference reads pre-made TPC-H parquet,
cpp/src/lqf/data_model.cc:239-260); this is the 100-TB table-maintenance
operator a lakehouse pipeline runs so that parquet min/max row-group stats
prune on EVERY interleaved column, not just the leading sort key: rows are
globally range-partitioned and sorted by the Morton interleave of the
chosen columns, so each output file covers a small hyper-rectangle of the
key space and a filter on ANY of the columns skips most files.

Spark-first: the z-value is a pure integer column expression (div/mod bit
extraction — portable to the DuckDB oracle verbatim), the layout pass is
repartitionByRange + sortWithinPartitions — one range-exchange shuffle,
exactly what a sorted write costs; no UDF, no driver involvement beyond
Spark's own range-boundary sampling.
"""

from __future__ import annotations

import os

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from codecdb_queryengine_spark.sources.io import write_task_count


def z_value(cols: Sequence[Column], bits: int = 10) -> Column:
    """Morton interleave of `bits` low bits of each column (non-negative
    ints): result bit (b·n + i) = bit b of cols[i].

    JVM-side shift/mask expressions; the DuckDB oracle mirror
    (z_value_sql) uses integer div/mod — bit-identical on non-negative
    inputs.  `bits·len(cols)` must stay < 63 to fit a signed long.
    """
    n = len(cols)
    if n < 2:
        raise ValueError("z_value needs >= 2 columns")
    if bits * n >= 63:
        raise ValueError(f"{bits} bits x {n} cols overflows a signed long")
    z: Column | None = None
    for b in range(bits):
        for i, c in enumerate(cols):
            term = F.shiftright(c.cast("long"), b).bitwiseAND(F.lit(1)) * F.lit(
                2 ** (b * n + i)
            )
            z = term if z is None else z + term
    assert z is not None
    return z.cast("long")


def z_value_sql(col_exprs: Sequence[str], bits: int = 10) -> str:
    """The identical interleave as DuckDB SQL text (// integer division)."""
    n = len(col_exprs)
    terms = [
        f"((CAST({c} AS BIGINT) // {2 ** b}) % 2) * {2 ** (b * n + i)}"
        for b in range(bits)
        for i, c in enumerate(col_exprs)
    ]
    return "(" + " + ".join(terms) + ")"


def zorder_write(
    df: DataFrame,
    cols: Sequence[str],
    path: str,
    bits: int = 10,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Write `df` clustered by the Z-order of `cols`: one range exchange on
    the z-value, an in-partition sort, then a parquet write (the z column
    itself is dropped — it is derivable).  Files end up covering disjoint
    z-ranges, so min/max stats prune on every clustered column.

    Every clustered column must fit in [0, 2^bits): values past the bit
    budget would WRAP in the interleave (1024 → 0 at bits=10), silently
    destroying the z-order ↔ column-order correlation the pruning promise
    rests on — so the bounds are checked up front (one cheap aggregate)
    and violations fail loudly; pre-bucket wide columns (e.g. `col % 2^b`
    or `col div scale`) before clustering.
    """
    n_rows = _check_bounds(df, cols, bits, "zorder_write")
    z = z_value([F.col(c) for c in cols], bits).alias("__z")
    zdf = df.withColumn("__z", z)
    n_tasks = num_files or write_task_count(
        df.sparkSession, n_rows, _SORT_ROWS_PER_TASK
    )
    zdf = zdf.repartitionByRange(n_tasks, "__z")
    zdf.sortWithinPartitions("__z").drop("__z").write.mode(mode).parquet(path)


# --- clustered-layout lifecycle: partitioned write / append / maintain --------
#
# `zorder_write` re-clusters the WHOLE table — correct, and O(corpus); at
# 100 TB a layout that can only be rebuilt cannot absorb a daily append.
# The lifecycle form splits the z-range into directories so maintenance
# can be selective (the lakehouse OPTIMIZE-ZORDER shape):
#
# - `zorder_write_partitioned`: the layout is partitioned by `z_hi`, the
#   top `prefix_bits` of the interleave (≤ 2^prefix_bits fixed dirs), and
#   sorted by the full z within each directory — min/max row-group stats
#   prune on every clustered column exactly as in the flat layout.
# - `zorder_append`: cluster the BATCH among itself and append its files
#   into the z_hi dirs it spans — O(batch).  Each appended file still
#   covers a small z-rectangle (the batch's own sort), so pruning degrades
#   only by the per-directory file count — clustering debt, not wrong
#   answers.
# - `zorder_maintain`: selective re-sort of ONLY the directories whose
#   file count breached `min_files` — io.compact_partitioned_selective
#   with the recomputed z as the in-file sort, journaled two-phase swap,
#   untouched directories byte-identical.  O(fragmented), not O(corpus).
#
# The interleave parameters ride in `<path>/_zmeta` (an underscore dir —
# invisible to partition discovery): an append or maintenance pass sorting
# with DIFFERENT (cols, bits, prefix_bits) than the build would silently
# destroy the clustering ↔ stats correlation pruning rests on, so both
# read the layout's own meta back instead of trusting their caller.


def _zmeta_path(path: str) -> str:
    import os

    return os.path.join(path, "_zmeta")


def _write_zmeta(
    df: DataFrame, path: str, cols: Sequence[str], bits: int, prefix_bits: int
) -> None:
    import pyarrow as pa

    from codecdb_queryengine_spark.sources import io as IO

    IO.tiny_meta_write(
        df.sparkSession,
        _zmeta_path(path),
        pa.table(
            {
                "cols": pa.array([list(cols)], type=pa.list_(pa.string())),
                "bits": pa.array([int(bits)], type=pa.int32()),
                "prefix_bits": pa.array([int(prefix_bits)], type=pa.int32()),
            }
        ),
    )


def _read_zmeta(spark, path: str) -> tuple[list[str], int, int]:
    from codecdb_queryengine_spark.sources import io as IO

    t = IO.tiny_meta_read(spark, _zmeta_path(path))
    if t is None or not t.num_rows:
        raise ValueError(
            f"{path}: no _zmeta artifact — not a zorder_write_partitioned "
            "layout (flat zorder_write layouts have no append path; rebuild "
            "or re-write partitioned)"
        )
    return (
        [str(c) for c in t.column("cols")[0].as_py()],
        int(t.column("bits")[0].as_py()),
        int(t.column("prefix_bits")[0].as_py()),
    )


# A sort-write's range exchange pays per-task overhead like every layout
# write (io.write_task_count): size it to the rows it is about to sort
# instead of inheriting spark.sql.shuffle.partitions.  Row count rides on
# the bounds aggregate the writers already run (no extra job); at cluster
# scale the shuffle-partitions cap keeps big tables saturating their
# executors.
_SORT_ROWS_PER_TASK = 32768


def _check_bounds(df: DataFrame, cols: Sequence[str], bits: int, who: str) -> int:
    """Validate the bit budget and return the frame's row count (the count
    rides in the same aggregate — callers size their range exchange with
    it for free)."""
    bounds = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.min(c).alias(f"{c}__mn") for c in cols],
        *[F.max(c).alias(f"{c}__mx") for c in cols],
    ).first()
    for c in cols:
        lo, hi = bounds[f"{c}__mn"], bounds[f"{c}__mx"]
        if lo is not None and (lo < 0 or hi >= 2**bits):
            raise ValueError(
                f"{who} column {c!r} spans [{lo}, {hi}] which exceeds the "
                f"{bits}-bit budget [0, {2**bits}); pre-bucket it or raise bits"
            )
    return int(bounds["__n"])


def _z_hi_frame(
    df: DataFrame, cols: Sequence[str], bits: int, prefix_bits: int
) -> DataFrame:
    z = z_value([F.col(c) for c in cols], bits)
    shift = bits * len(cols) - prefix_bits
    return df.withColumn("__z", z).withColumn(
        "z_hi", F.shiftright(F.col("__z"), shift)
    )


def zorder_write_partitioned(
    df: DataFrame,
    cols: Sequence[str],
    path: str,
    bits: int = 8,
    prefix_bits: int = 4,
) -> None:
    """Write `df` z-clustered into a `z_hi`-partitioned layout (top
    `prefix_bits` of the interleave as the directory key, full-z sort
    within) and persist the interleave parameters in `_zmeta`."""
    if not 0 < prefix_bits <= bits * len(cols):
        raise ValueError(f"prefix_bits {prefix_bits} out of (0, bits*n]")
    n_rows = _check_bounds(df, cols, bits, "zorder_write_partitioned")
    zdf = _z_hi_frame(df, cols, bits, prefix_bits)
    # range-partition on the full z, not hash on z_hi: tasks get contiguous
    # z-slices (parallel within a big directory, since z_hi is a z prefix)
    # and every file covers a disjoint z-rectangle
    (
        zdf.repartitionByRange(
            write_task_count(df.sparkSession, n_rows, _SORT_ROWS_PER_TASK), "__z"
        )
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .partitionBy("z_hi")
        .parquet(path)
    )
    _write_zmeta(df, path, cols, bits, prefix_bits)


def zorder_append(df: DataFrame, path: str) -> None:
    """Append a batch into an existing partitioned z-layout, O(batch):
    the batch is clustered among ITSELF with the layout's own persisted
    interleave parameters and its files land in the z_hi directories it
    spans — no base file is read or rewritten."""
    cols, bits, prefix_bits = _read_zmeta(df.sparkSession, path)
    n_rows = _check_bounds(df, cols, bits, "zorder_append")
    zdf = _z_hi_frame(df, cols, bits, prefix_bits)
    # range-partition on the full z, not hash on z_hi: tasks get contiguous
    # z-slices (parallel within a big directory, since z_hi is a z prefix)
    # and every file covers a disjoint z-rectangle
    (
        zdf.repartitionByRange(
            write_task_count(df.sparkSession, n_rows, _SORT_ROWS_PER_TASK), "__z"
        )
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("append")
        .partitionBy("z_hi")
        .parquet(path)
    )


def zorder_maintain(
    spark,
    path: str,
    min_files: int = 4,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> list[str]:
    """Selective re-cluster: re-sort ONLY the z_hi directories whose data-
    file count breached `min_files` (appends fragment just the directories
    they span), through io.compact_partitioned_selective's journaled swap
    with the recomputed full z as the in-file sort.  Untouched directories
    are never read and come through byte-identical.  Returns the relative
    dirs rewritten."""
    from codecdb_queryengine_spark.sources import io as IO

    cols, bits, _ = _read_zmeta(spark, path)
    return IO.compact_partitioned_selective(
        spark,
        path,
        partition_by=("z_hi",),
        min_files=min_files,
        target_file_bytes=target_file_bytes,
        sort_within_exprs=[z_value([F.col(c) for c in cols], bits)],
    )


# --- row-group split: the scan layout the catalog reads its fact tables in --
#
# Spark cannot split a parquet row group, so a table stored as one row group
# is scanned by one task however many cores wait.  The reference's block is
# a row group processed by one thread each; row_group_split gives a
# one-row-group file its equivalent: a copy cut into `n_files` files of one
# row group each, in the source's row order and with its parquet schema, so
# the scan runs one task per core.  It is written once, driver-side with
# pyarrow (the io.tiny_meta_write pattern), no Spark job.


def row_group_split(src: str, root: str, n_files: int) -> str | None:
    """The directory of a `n_files`-file, one-row-group-per-file copy of
    the local, non-empty parquet file `src`, under `root`; written unless
    already there.  None when a pyarrow round trip would change the
    source's parquet schema (e.g. INT96 timestamps): read the source then.

    The copy's name keys it by the source's absolute path, size and
    mtime_ns and by `n_files`, so a changed source gets a new copy; the
    copy is written to a temp dir and renamed into place, and a stale copy
    of the same source is removed rather than kept beside it."""
    import hashlib
    import shutil

    import pyarrow.parquet as pq

    src = os.path.abspath(src)
    st = os.stat(src)
    stem = os.path.basename(src).rsplit(".", 1)[0]
    prefix = f"{stem}-{hashlib.sha256(src.encode()).hexdigest()[:12]}-"
    version = f"{st.st_size}|{st.st_mtime_ns}|{n_files}".encode()
    out = os.path.join(root, prefix + hashlib.sha256(version).hexdigest()[:12])
    if not os.path.isdir(out):
        source = pq.ParquetFile(src)
        codec = source.metadata.row_group(0).column(0).compression
        tmp = f"{out}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        step = -(-source.metadata.num_rows // n_files)
        for i, part in enumerate(_row_chunks(source, step)):
            path = os.path.join(tmp, f"part-{i:05d}.parquet")
            pq.write_table(part, path, compression=codec, row_group_size=part.num_rows)
            if i == 0 and not pq.ParquetFile(path).schema.equals(source.schema):
                shutil.rmtree(tmp)
                return None
        try:
            os.rename(tmp, out)
        except OSError:  # another process renamed its copy into place first
            shutil.rmtree(tmp, ignore_errors=True)
    for name in os.listdir(root):
        if name.startswith(prefix) and ".tmp" not in name and name != os.path.basename(out):
            shutil.rmtree(os.path.join(root, name), ignore_errors=True)
    return out


def _row_chunks(source, step: int):
    """The rows of a pyarrow ParquetFile in order, as tables of `step`
    rows (the last one shorter), holding one chunk in memory at a time."""
    import pyarrow as pa

    buf, have = [], 0
    for batch in source.iter_batches(batch_size=min(step, 65536)):
        while batch.num_rows:
            take = batch.slice(0, step - have)
            buf.append(take)
            have += take.num_rows
            batch = batch.slice(take.num_rows)
            if have == step:
                yield pa.Table.from_batches(buf)
                buf, have = [], 0
    if buf:
        yield pa.Table.from_batches(buf)
