"""The catalog's scan layout: lineitem and orders stored as one row group
are scanned from an engine-owned copy with one row group per core, every
base-table schema comes from the parquet footers on the driver, and the
money sums give the same bits whatever the layout.

Pinned here: the copy's rows, schema and lifecycle (written once, replaced
when the source changes, never written over the source); a multi-row-group
source is read as it is; footer schemas equal Spark's inferred ones;
load_tables launches no job; and the entries whose sums follow the
queries/sums.py rule answer bit-identically on a split copy and on a
shuffled many-row-group input, each equal to its DuckDB oracle."""

import hashlib
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry
from codecdb_queryengine_spark import catalog
from codecdb_queryengine_spark.oracle import compare

# The entries that sum money over the fact tables with unit_sum, and the
# SQL-text twins that share their oracle text.
LAYOUT_ENTRIES = (
    "q1", "q6", "q8", "q11", "q14", "q14_plan", "q15", "q17", "q17_plan", "q22",
    "ext_rollup", "ext_cube", "ext_salted_join", "ext_pivot", "ext_unpivot",
    "ext_zorder", "ext_zorder_lifecycle",
    "q1_sql", "q6_sql", "q8_sql", "q11_sql", "q14_sql", "q15_sql", "q17_sql", "q22_sql",
)
# The entries that sum event values with unit_sum: batch, windowed and
# streaming (state merged across tasks).
EVENT_ENTRIES = (
    "events_window", "events_rolling", "events_anomaly", "events_resample",
    "events_stream_window", "events_stream_totals", "events_stream_dedup",
    "events_stream_sliding", "events_stream_rollup", "events_stream_files",
    "events_stream_enrich", "events_stream_score",
)


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def _split_root(spark):
    from codecdb_queryengine_spark.sources.io import _local_fs_path

    return os.path.join(
        _local_fs_path(spark.conf.get("spark.sql.warehouse.dir")), "row_group_splits"
    )


def _tree(root):
    return {
        os.path.join(d, n): os.stat(os.path.join(d, n)).st_mtime_ns
        for d, _, names in os.walk(root)
        for n in names
    }


def _copy_tables(src_dir, dst_dir, rewrite=None):
    """Copy every base table of src_dir into dst_dir; `rewrite` maps a
    table name to a function from its pyarrow table to (table, row group
    size) written in its place."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in catalog.TABLES:
        src = os.path.join(src_dir, f"{name}.parquet")
        dst = os.path.join(dst_dir, f"{name}.parquet")
        if rewrite and name in rewrite:
            table, rg = rewrite[name](pq.read_table(src))
            pq.write_table(table, dst, row_group_size=rg)
        else:
            shutil.copyfile(src, dst)


def _scanned(df):
    return sorted(f.removeprefix("file://") for f in df.inputFiles())


@pytest.fixture()
def fact_dir(spark, sf_dir, tmp_path):
    """A private copy of the test tables; the split copies made of its
    facts are removed afterwards."""
    d = str(tmp_path / "sf")
    _copy_tables(sf_dir, d)
    before = set(os.listdir(_split_root(spark))) if os.path.isdir(_split_root(spark)) else set()
    yield d
    catalog._catalogs.get(spark, {}).pop(d, None)
    for name in set(os.listdir(_split_root(spark))) - before:
        shutil.rmtree(os.path.join(_split_root(spark), name), ignore_errors=True)


def test_split_copy_holds_the_source_rows_and_leaves_the_source(spark, fact_dir):
    n = spark.sparkContext.defaultParallelism
    src = {t: os.path.join(fact_dir, f"{t}.parquet") for t in ("lineitem", "orders")}
    digests = {t: _digest(p) for t, p in src.items()}
    tables = catalog.load_tables(spark, fact_dir)
    for t, path in src.items():
        files = _scanned(tables[t])
        assert len(files) == n, t
        assert all(f.startswith(_split_root(spark)) for f in files), files
        assert [pq.ParquetFile(f).metadata.num_row_groups for f in files] == [1] * n
        source = pq.ParquetFile(path)
        assert all(pq.ParquetFile(f).schema.equals(source.schema) for f in files)
        # row order kept: the parts concatenate back into the source
        assert pa.concat_tables(pq.read_table(f) for f in files).equals(source.read())
        assert _digest(path) == digests[t]
    # the other tables are scanned where they are
    assert _scanned(tables["part"]) == [os.path.join(fact_dir, "part.parquet")]


def test_split_copy_is_written_once_and_replaced_when_the_source_changes(spark, fact_dir):
    root = _split_root(spark)
    catalog.load_tables(spark, fact_dir)
    first = _tree(root)
    catalog.reload_tables(spark, fact_dir)
    assert _tree(root) == first  # a second load writes nothing
    old = set(os.path.dirname(f) for f in _scanned(catalog.load_tables(spark, fact_dir)["lineitem"]))

    path = os.path.join(fact_dir, "lineitem.parquet")
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows - 1), path)
    tables = catalog.reload_tables(spark, fact_dir)
    new = set(os.path.dirname(f) for f in _scanned(tables["lineitem"]))
    assert new.isdisjoint(old)
    assert not any(os.path.exists(d) for d in old)  # the stale copy is gone, not kept
    assert tables["lineitem"].count() == table.num_rows - 1


def test_many_row_group_source_is_read_as_it_is(spark, fact_dir):
    n = spark.sparkContext.defaultParallelism
    path = os.path.join(fact_dir, "lineitem.parquet")
    table = pq.read_table(path)
    pq.write_table(table, path, row_group_size=-(-table.num_rows // n))
    assert pq.ParquetFile(path).metadata.num_row_groups == n
    tables = catalog.reload_tables(spark, fact_dir)
    assert _scanned(tables["lineitem"]) == [path]


def test_footer_schemas_equal_the_inferred_schemas(spark, sf_dir, tmp_path):
    catalog.ensure_session_confs(spark)
    for name in catalog.TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert catalog._footer_schema(spark, path) == spark.read.parquet(path).schema, name
    # TIMESTAMP(NANOS) columns read as long nanos under nanosAsLong
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    nanos = orders.set_column(
        orders.schema.get_field_index("o_orderdate"),
        "o_orderdate",
        orders.column("o_orderdate").cast(pa.timestamp("ns")),
    )
    path = str(tmp_path / "orders_ns.parquet")
    pq.write_table(nanos, path)
    footer = catalog._footer_schema(spark, path)
    assert footer == spark.read.parquet(path).schema
    assert footer["o_orderdate"].dataType.typeName() == "long"


def test_load_tables_launches_no_job(spark, sf_dir):
    catalog.load_tables(spark, sf_dir)  # any split copy already written
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    catalog.reload_tables(spark, sf_dir)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert dag.nextJobId() - first == 0


def _shuffled(n_groups):
    import numpy as np

    def rewrite(table):
        order = np.random.default_rng(7).permutation(table.num_rows)
        return table.take(pa.array(order)), -(-table.num_rows // n_groups)

    return rewrite


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _same_bits_on_both_layouts(spark, sf_dir, shuffled, entries):
    """Each entry equals its DuckDB oracle exactly on `sf_dir` and on
    `shuffled`, read with one scan task per row group, and answers the
    same rows on both."""
    queries, oracles = entry.queries(), entry.oracle_sql()
    answers = {}
    for name in entries:
        df = queries[name](spark, sf_dir)
        ok, detail = compare(df, oracles[name], sf_dir, ndigits=None)
        assert ok, (name, "shipped", detail)
        answers[name] = _rows(df)
    # small splits: one scan task per row group of the shuffled files
    conf = {"spark.sql.files.maxPartitionBytes": "8192", "spark.sql.files.openCostInBytes": "0"}
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        for name in entries:
            df = queries[name](spark, shuffled)
            ok, detail = compare(df, oracles[name], shuffled, ndigits=None)
            assert ok, (name, "shuffled", detail)
            assert _rows(df) == answers[name], name
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
        catalog._catalogs.get(spark, {}).pop(shuffled, None)


def test_layout_dependent_entries_answer_the_same_bits_on_every_layout(spark, sf_dir, tmp_path):
    """The shipped dir (one row group per table: the catalog scans a split
    copy) and a dir whose facts already hold many row groups in shuffled
    row order (read as they are, one task per row group) give bit-identical
    rows, and each equals its DuckDB oracle exactly."""
    n = spark.sparkContext.defaultParallelism
    shuffled = str(tmp_path / "shuffled")
    rewrite = _shuffled(2 * n)
    _copy_tables(sf_dir, shuffled, {"lineitem": rewrite, "orders": rewrite})
    assert len(catalog.load_tables(spark, sf_dir)["lineitem"].inputFiles()) == n
    assert _scanned(catalog.load_tables(spark, shuffled)["lineitem"]) == [
        os.path.join(shuffled, "lineitem.parquet")
    ]
    _same_bits_on_both_layouts(spark, sf_dir, shuffled, LAYOUT_ENTRIES)


def test_event_entries_answer_the_same_bits_on_every_layout(spark, sf_dir, tmp_path):
    """The same for the event sums, with `events` shuffled into many row
    groups: the batch, range-window and streaming forms all merge partial
    sums in an order the layout decides."""
    n = spark.sparkContext.defaultParallelism
    shuffled = str(tmp_path / "shuffled_events")
    _copy_tables(sf_dir, shuffled, {"events": _shuffled(2 * n)})
    path = os.path.join(shuffled, "events.parquet")
    assert pq.ParquetFile(path).metadata.num_row_groups == 2 * n
    _same_bits_on_both_layouts(spark, sf_dir, shuffled, EVENT_ENTRIES)
