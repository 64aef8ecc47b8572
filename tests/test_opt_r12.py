"""Focused tests for the r12 round's correctness fixes (r11 ADVICE items):
the upsert slot plan counting lists touched only via assignment, the
file-scheme handling of the tiny-meta local fast path, and zero-row bucket
meta propagating instead of falling back to a wrong modulus."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from codecdb_queryengine_spark.sources import ann_index as AI
from codecdb_queryengine_spark.sources import io as IO
from codecdb_queryengine_spark.sources import text_index as TI


def _slot_rows(lists_path: str, spark, c_list: int) -> dict[int, int]:
    base = os.path.join(lists_path, f"c_list={c_list}")
    out = {}
    for d in sorted(os.listdir(base)):
        if not d.startswith("c_slot="):
            continue
        slot = int(d.split("=", 1)[1])
        out[slot] = spark.read.parquet(os.path.join(base, d)).count()
    return out


def test_upsert_slot_plan_counts_insert_only_target_lists(spark, tmp_path):
    """A list that receives upsert rows WITHOUT any of its existing rows
    being mutated keeps all existing rows in the rewrite — the slot plan
    must size from existing+new, or rows-per-slot silently exceeds the
    persisted max_list_rows cap (r11 ADVICE, high)."""
    path = str(tmp_path / "idx")
    rows = [(i, [0.0, float(5 + i % 3), 0.0, 0.0]) for i in range(1, 10)] + [
        (i, [float(3 + i % 2), 0.0, 0.0, 0.0]) for i in (101, 102, 103)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [(0, [1_000_000, 0, 0, 0]), (1, [0, 1_000_000, 0, 0])]  # micro units
    AI.ivf_index_build(emb, path, cents, max_list_rows=4)
    lists_path = os.path.join(path, "lists")
    assert len(_slot_rows(lists_path, spark, 1)) == 3  # ceil(9/4)

    # three brand-new ids land in list 1; no existing id is updated/deleted
    ups = spark.createDataFrame(
        [(i, [0.0, 7.0, 0.0, 0.0]) for i in (201, 202, 203)],
        "vec_id long, embedding array<float>",
    )
    AI.ivf_index_upsert(path, updates=ups)
    slots = _slot_rows(lists_path, spark, 1)
    assert sum(slots.values()) == 12
    assert len(slots) == 3  # ceil(12/4), not ceil(3/4)
    assert max(slots.values()) <= 4, slots
    got = {
        r["n_id"]
        for r in spark.read.parquet(lists_path)
        .filter("c_list = 1")
        .select("n_id")
        .collect()
    }
    assert got == set(range(1, 10)) | {201, 202, 203}


def test_local_fs_path_scheme_handling():
    assert IO._local_fs_path("/a/b") == "/a/b"
    assert IO._local_fs_path("rel/dir") == "rel/dir"
    assert IO._local_fs_path("file:/a/b") == "/a/b"
    assert IO._local_fs_path("file:///a/b") == "/a/b"
    assert IO._local_fs_path("file://localhost/a/b") == "/a/b"
    # Percent-escapes stay literal, NOT decoded: Spark's Hadoop Path keeps
    # them too (`write.parquet("file:/…/a%20b")` creates a directory
    # literally named `a%20b`, and Path(...).toUri().getPath() returns
    # `/…/a%20b`), so decoding here would send the pyarrow fast path to a
    # different directory than the Spark fallback.
    assert IO._local_fs_path("file:/a%20b") == "/a%20b"
    assert IO._local_fs_path("hdfs://nn/a") is None
    assert IO._local_fs_path("s3a://bucket/k") is None
    assert IO._local_fs_path("wasbs://c@acct/k") is None


def test_read_buckets_zero_row_meta_raises(spark, tmp_path):
    pa = pytest.importorskip("pyarrow")
    path = str(tmp_path / "ti")
    meta = TI._meta_path(path, "postings")
    IO.tiny_meta_write(spark, meta, pa.table({"num_buckets": pa.array([], type=pa.int32())}))
    with pytest.raises(ValueError, match="no rows"):
        TI._read_buckets(spark, path, 32)
    # pre-meta layouts still use the fallback
    assert TI._read_buckets(spark, str(tmp_path / "none"), 7) == 7


def test_ivfpq_train_driver_side_init_mirrors_distributed(spark):
    """The r12 shared-sample init: the residual-codebook init is computed
    driver-side (one sample collect feeds both quantizers).  Pin it
    bit-identical to the distributed form it replaced (residual slices of
    the stride-sampled vectors under the _micro_argmin_sql tie rule)."""
    from codecdb_queryengine_spark.operators import similarity as S

    rows = [
        (i, [float((i * 7 + j * 3) % 13 - 6) / 3.0 for j in range(8)])
        for i in range(0, 300)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # iters=0: both quantizers return their INIT verbatim
    cents, cbs = S.ivfpq_train_micro(
        emb, dim=8, k_coarse=2, stride=37, iters=0,
        num_subspaces=2, num_codewords=2,
    )
    vm = emb.select(
        F.col("vec_id").alias("n_id"),
        S.quantize_micro(F.col("embedding")).alias("v"),
    )
    best = S._micro_argmin_sql("v", cents, with_center=True)
    res = vm.selectExpr(
        "n_id", f"({best}).c_id AS c_list", f"zip_with(v, ({best}).c, (x,y)->x-y) AS r"
    )
    sub = 8 // 2
    ms = F.explode(F.array(F.lit(0).cast("long"), F.lit(1).cast("long"))).alias("m")
    rm = res.select("n_id", F.col("r"), ms).select(
        "n_id", "m",
        F.slice(F.col("r"), (F.col("m") * sub + 1).cast("int"), sub).alias("c"),
    )
    old_init = sorted(
        (int(r["m"]), int(r["n_id"]) // 37, [int(x) for x in r["c"]])
        for r in rm.filter(
            (F.col("n_id") % 37 == 0) & (F.col("n_id") < 37 * 2)
        ).collect()
    )
    assert cbs == old_init
    # and the coarse init equals the sampled micro vectors verbatim
    samp = {
        int(r["n_id"]): [int(x) for x in r["v"]]
        for r in vm.filter(
            (F.col("n_id") % 37 == 0) & (F.col("n_id") < 37 * 2)
        ).collect()
    }
    assert cents == sorted((nid // 37, v) for nid, v in samp.items())


def test_kmeans_init_cents_param_is_equivalent(spark):
    from codecdb_queryengine_spark.operators import similarity as S

    rows = [
        (i, [float((i * 5 + j) % 11 - 5) / 2.0 for j in range(4)])
        for i in range(0, 250)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    base = S.kmeans_lloyd_micro(emb, dim=4, k=3, stride=37, iters=2)
    vm = emb.select(
        F.col("vec_id").alias("n_id"),
        S.quantize_micro(F.col("embedding")).alias("v"),
    )
    init = sorted(
        (int(r["n_id"]) // 37, [int(x) for x in r["v"]])
        for r in vm.filter(
            (F.col("n_id") % 37 == 0) & (F.col("n_id") < 37 * 3)
        ).collect()
    )
    assert S.kmeans_lloyd_micro(
        emb, dim=4, k=3, stride=37, iters=2, init_cents=init
    ) == base
