"""Z-order layout tests: the interleave is a true Morton code, and
zorder_write produces files covering disjoint z-ranges (what makes
min/max stats prune on every clustered column)."""

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from codecdb_queryengine_spark.sources.layout import z_value, z_value_sql, zorder_write


def _py_z(vals, bits):
    z = 0
    for b in range(bits):
        for i, v in enumerate(vals):
            z += ((v >> b) & 1) << (b * len(vals) + i)
    return z


def test_z_value_matches_python_morton(spark):
    rows = [(x, y) for x in range(0, 64, 7) for y in range(0, 64, 5)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", z_value([F.col("x"), F.col("y")], bits=6)).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _py_z([x, y], 6)


def test_z_value_sql_matches_column_form(spark):
    rows = [(x, y) for x in range(0, 33, 3) for y in range(0, 33, 4)]
    df = spark.createDataFrame(rows, ["x", "y"])
    import duckdb

    sql_expr = z_value_sql(["x", "y"], bits=6)
    pdf = df.toPandas()
    oracle = duckdb.sql(f"SELECT x, y, {sql_expr} AS z FROM pdf").df()
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn("z", z_value([F.col("x"), F.col("y")], bits=6)).collect()
    }
    for _, row in oracle.iterrows():
        assert got[(row.x, row.y)] == row.z


def test_zorder_write_files_cover_disjoint_z_ranges(spark):
    out = tempfile.mkdtemp(prefix="sg_zorder_")
    try:
        df = spark.range(4096).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
            F.col("id").alias("payload"),
        )
        zorder_write(df, ["x", "y"], out, bits=6, num_files=8)
        back = spark.read.parquet(out).withColumn(
            "z", z_value([F.col("x"), F.col("y")], bits=6)
        )
        ranges = (
            back.withColumn("f", F.input_file_name())
            .groupBy("f")
            .agg(F.min("z").alias("lo"), F.max("z").alias("hi"), F.count("*").alias("n"))
            .collect()
        )
        assert len(ranges) > 1
        assert sum(r.n for r in ranges) == 4096
        spans = sorted((r.lo, r.hi) for r in ranges)
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2, f"overlapping file z-ranges: ({lo1},{hi1}) vs ({lo2},_)"
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_z_value_validations(spark):
    import pytest

    with pytest.raises(ValueError):
        z_value([F.col("x")], bits=4)
    with pytest.raises(ValueError):
        z_value([F.col("x"), F.col("y"), F.col("w")], bits=21)


# --- clustered-layout lifecycle -----------------------------------------------


def _lifecycle_rows(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 64).alias("a"),
            ((F.col("id") * 7) % 64).alias("b"),
        )
    )


def test_zorder_partitioned_roundtrip_and_meta(spark, tmp_path):
    from codecdb_queryengine_spark.sources import layout as L

    path = str(tmp_path / "zl")
    df = _lifecycle_rows(spark, 0, 2000)
    L.zorder_write_partitioned(df, ["a", "b"], path, bits=6, prefix_bits=3)
    back = spark.read.parquet(path)
    assert back.count() == 2000
    assert {r["k"] for r in back.collect()} == set(range(2000))
    cols, bits, prefix_bits = L._read_zmeta(spark, path)
    assert (cols, bits, prefix_bits) == (["a", "b"], 6, 3)
    # every row sits in the directory its z prefix names
    z = L.z_value([F.col("a"), F.col("b")], 6)
    bad = back.filter(F.col("z_hi") != F.shiftright(z, 6 * 2 - 3)).count()
    assert bad == 0


def test_zorder_append_then_maintain_equals_rebuild(spark, tmp_path):
    import glob

    from codecdb_queryengine_spark.sources import layout as L

    path = str(tmp_path / "zl")
    base = _lifecycle_rows(spark, 0, 2000)
    L.zorder_write_partitioned(base, ["a", "b"], path, bits=6, prefix_bits=3)
    # narrow append: a,b < 8 → z < 2^6 → z_hi == 0 only
    extra = (
        spark.range(2000, 2400)
        .select(
            F.col("id").alias("k"),
            (F.col("id") % 8).alias("a"),
            ((F.col("id") * 7) % 8).alias("b"),
        )
    )
    L.zorder_append(extra, path)
    back = spark.read.parquet(path)
    assert back.count() == 2400
    # the append fragmented ONLY z_hi=0
    def files_of(d):
        return [
            f
            for f in glob.glob(os.path.join(d, "*"))
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
        ]

    inventory_before = {
        d: sorted(files_of(os.path.join(path, d)))
        for d in os.listdir(path)
        if d.startswith("z_hi=")
    }
    touched = L.zorder_maintain(spark, path, min_files=1)
    assert touched == ["z_hi=0"], touched
    # untouched dirs byte-identical (same file inventory)
    for d, files in inventory_before.items():
        if d == "z_hi=0":
            continue
        assert sorted(files_of(os.path.join(path, d))) == files, d
    # contents unchanged by maintenance
    back2 = spark.read.parquet(path)
    assert back2.count() == 2400
    assert {r["k"] for r in back2.collect()} == set(range(2400))
    # and z_hi=0 is back to few files, each internally z-sorted
    z0 = files_of(os.path.join(path, "z_hi=0"))
    assert len(z0) <= 2, z0
    for f in z0:
        rows = spark.read.parquet(f).collect()
        zs = [
            sum(((r["a"] >> bit) & 1) * 2 ** (bit * 2) for bit in range(6))
            + sum(((r["b"] >> bit) & 1) * 2 ** (bit * 2 + 1) for bit in range(6))
            for r in rows
        ]
        assert zs == sorted(zs), f


def test_zorder_append_guards(spark, tmp_path):
    import pytest

    from codecdb_queryengine_spark.sources import layout as L

    path = str(tmp_path / "zl")
    with pytest.raises(ValueError, match="_zmeta"):
        L.zorder_append(_lifecycle_rows(spark, 0, 10), path)
    L.zorder_write_partitioned(
        _lifecycle_rows(spark, 0, 100), ["a", "b"], path, bits=6, prefix_bits=3
    )
    # out-of-budget append values fail loudly instead of wrapping
    wide = spark.range(5).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("a"), F.col("id").alias("b")
    )
    with pytest.raises(ValueError, match="bit budget"):
        L.zorder_append(wide, path)


def test_prebuilt_layout_fixture_reuses_base_and_serves_identically(
    spark, sf_dir, monkeypatch
):
    """r9 verdict item 3: with SPARK_GRAFT_PREBUILT_LAYOUTS=1 (bench-only)
    a pure-serve gate builds its base layout once per process — the second
    invocation must touch NO layout file (serve-only) and return identical
    rows.  With the env unset (the correctness gate), every invocation
    rebuilds as before (covered by the rest of the suite)."""
    from codecdb_queryengine_spark.queries import ann, scenario

    monkeypatch.setenv("SPARK_GRAFT_PREBUILT_LAYOUTS", "1")
    a = ann.QUERIES["sim_ann_ivf_indexed"](spark, sf_dir).collect()
    path = scenario._scratch_dir("ivf_index", sf_dir)
    assert os.path.exists(os.path.join(path, "_prebuilt_flat.ok"))

    def snapshot():
        out = {}
        for root, _, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getmtime(p)
        return out

    before = snapshot()
    b = ann.QUERIES["sim_ann_ivf_indexed"](spark, sf_dir).collect()
    assert snapshot() == before, "second invocation rewrote the layout"
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
