"""Focused tests for the r11 optimization round's operator-internal changes:
write-task sizing, the shared slot plan, driver-side tiny-meta IO, and the
streaming state-partition scope."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from codecdb_queryengine_spark.operators import similarity as S
from codecdb_queryengine_spark.sources import ann_index as AI
from codecdb_queryengine_spark.sources import io as IO
from codecdb_queryengine_spark.sources import layout as L
from codecdb_queryengine_spark.sources import text_index as TI


def test_write_task_count_bounds(spark):
    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert IO.write_task_count(spark, 0) == 1
    assert IO.write_task_count(spark, 1) == 1
    # never exceeds the session's shuffle parallelism (the cluster knob)
    assert IO.write_task_count(spark, 10**9) == cap
    # monotone in the directory count
    assert IO.write_task_count(spark, 64) <= IO.write_task_count(spark, 640)
    # per-task unit sizes: 16 dirs (default), 4 text-index buckets, 32768
    # sorted rows — ceil-divided, then capped
    for per_task in (
        IO._DIRS_PER_WRITE_TASK, TI.BUCKETS_PER_WRITE_TASK, L._SORT_ROWS_PER_TASK
    ):
        assert IO.write_task_count(spark, 0, per_task) == 1
        assert IO.write_task_count(spark, per_task, per_task) == 1
        assert IO.write_task_count(spark, per_task + 1, per_task) == min(2, cap)
        assert IO.write_task_count(spark, per_task * 10**6, per_task) == cap
    assert IO.write_task_count(spark, 32, TI.BUCKETS_PER_WRITE_TASK) == min(8, cap)
    assert IO.write_task_count(spark, 100_000, L._SORT_ROWS_PER_TASK) == min(4, cap)


def test_slot_plan_matches_ceil_rule():
    assert AI._slot_plan({3: 1, 7: 16, 5: 17}, 16) == [(3, 1), (5, 2), (7, 1)]
    # zero-row lists are the caller's business; min 1 slot when present
    assert AI._slot_plan({1: 0}, 16) == [(1, 1)]


def test_tiny_meta_roundtrip_both_engines(spark, tmp_path, monkeypatch):
    """pyarrow-written meta must be Spark-readable and vice versa — the
    local fast path and the schemed-storage Spark path share one on-disk
    format and read back the same table."""
    import pyarrow as pa

    table = pa.table(
        {
            "cols": pa.array([["a", "b"]], type=pa.list_(pa.string())),
            "bits": pa.array([8], type=pa.int32()),
            "ids": pa.array([[1, 2, 3]], type=pa.list_(pa.int64())),
        }
    )
    p1 = str(tmp_path / "meta_pa")
    IO.tiny_meta_write(spark, p1, table)
    assert [f.endswith(".parquet") for f in os.listdir(p1)] == [True]
    r = spark.read.parquet(p1).first()
    assert (list(r["cols"]), r["bits"], list(r["ids"])) == (["a", "b"], 8, [1, 2, 3])
    local = IO.tiny_meta_read(spark, p1)
    assert local.to_pylist() == table.to_pylist()
    assert IO.tiny_meta_read(spark, str(tmp_path / "missing")) is None

    # the schemed-storage branch: Spark writes and reads the same bytes
    monkeypatch.setattr(IO, "_local_fs_path", lambda path: None)
    p2 = str(tmp_path / "meta_spark")
    IO.tiny_meta_write(spark, p2, table)
    assert any(f.startswith("part-") for f in os.listdir(p2))
    remote = IO.tiny_meta_read(spark, p2)
    assert remote.to_pylist() == table.to_pylist()
    assert remote.schema.types == table.schema.types
    assert IO.tiny_meta_read(spark, p1).to_pylist() == local.to_pylist()
    assert IO.tiny_meta_read(spark, str(tmp_path / "missing")) is None
    monkeypatch.undo()
    assert IO.tiny_meta_read(spark, p2).to_pylist() == table.to_pylist()


def test_tiny_meta_col_max_exact(spark, tmp_path):
    p = str(tmp_path / "dg")
    spark.createDataFrame(
        [(1, 3), (2, 9), (3, 4)], "doc_id long, gen long"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    assert IO.tiny_meta_col_max(p, "gen") == 9
    assert IO.tiny_meta_col_max(p, "missing_col") is None
    assert IO.tiny_meta_col_max("s3a://x/y", "gen") is None


def test_one_file_per_partition_dir_after_sized_build(spark, tmp_path):
    """The sized exchange must keep the one-file-per-directory layout the
    serve contract (and the swap bookkeeping) relies on."""
    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 7 + i).cast("float") for i in range(4)]).alias(
            "embedding"
        ),
    )
    path = str(tmp_path / "idx")
    cents = S.kmeans_lloyd_micro(emb, dim=4, k=None, stride=29, iters=0)
    AI.ivf_index_build(emb, path, cents, max_list_rows=16)
    lists = os.path.join(path, "lists")
    for c_dir in os.listdir(lists):
        if not c_dir.startswith("c_list="):
            continue
        for slot_dir in os.listdir(os.path.join(lists, c_dir)):
            if not slot_dir.startswith("c_slot="):
                continue
            files = [
                f
                for f in os.listdir(os.path.join(lists, c_dir, slot_dir))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, (c_dir, slot_dir, files)


def test_state_partition_scope_restores(spark):
    from codecdb_queryengine_spark.streaming import events as E

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    with E.state_partition_scope(spark, 5):
        assert spark.conf.get("spark.sql.shuffle.partitions") == "5"
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    # default policy: conf override wins, else max(8, parallelism/2)
    assert E.default_state_partitions(spark) >= 8
