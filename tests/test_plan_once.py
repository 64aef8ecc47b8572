"""Plan once, run many: registry entries marked plan-once build a plan over
the base tables and nothing else, so the registry analyzes each once per
(session, sf_dir) and serves later calls from a fresh Dataset over the kept
analyzed plan.  Pinned here: the marked builds launch no job, write no file
and start no stream; a cached call answers exactly like the first and runs
exactly as many jobs (nothing executed is skipped or reused); entries with
side effects are never cached; and the schema constants the text index
reads its layouts with equal what Spark would have inferred."""

import os
import re
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

import __spark_entry__ as entry
from codecdb_queryengine_spark import catalog
from codecdb_queryengine_spark.sources import text_index as TI

BENCHMARK_OPS = {
    "q1", "q3", "q6", "ssb_q1_1", "ssb_q2_1",
    "text_quality", "mm_phash_dedup", "dedup_exact", "sim_topk",
}


def _jobs(spark, group, fn):
    """Run fn under its own job group; return (result, jobs of the group,
    jobs of any thread — a build may run actions from a thread pool, whose
    threads do not carry the caller's job group)."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are reported asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group)), dag.nextJobId() - first


_SPARK_OWN = re.compile(r"^(blockmgr-|spark-[0-9a-f]{8}-|hsperfdata_)")


def _files(*roots):
    """Every file under roots, skipping Spark's own block-manager and temp
    dirs (earlier collects' shuffle files come and go there)."""
    out = {}
    for root in roots:
        for d, dirs, names in os.walk(root):
            dirs[:] = [x for x in dirs if not _SPARK_OWN.match(x)]
            for n in names:
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


class _StreamStarts:
    """Counts streaming-query starts through the session's listener bus."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        counter = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                counter.n += 1

            def onQueryProgress(self, event):
                pass

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.n = 0
        self.spark = spark
        self.listener = _L()
        spark.streams.addListener(self.listener)

    def close(self):
        self.spark.streams.removeListener(self.listener)


@pytest.fixture(scope="module")
def streams(spark):
    s = _StreamStarts(spark)
    yield s
    s.close()


@pytest.fixture(scope="module")
def write_roots(spark, tmp_path_factory):
    """Where a build could write: a private TMPDIR (index and scratch
    layouts go under tempfile.gettempdir()), the scratch dirs earlier
    tests already created, and the warehouse.  /tmp itself is shared with
    other processes, so it is not watched as a whole."""
    from codecdb_queryengine_spark.queries import scenario

    prev = tempfile.tempdir
    tempfile.tempdir = str(tmp_path_factory.mktemp("plan_once_tmp"))
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    yield [tempfile.tempdir, warehouse, *scenario._SCRATCH.values()]
    tempfile.tempdir = prev


def test_benchmark_ops_are_marked_and_side_effect_ops_are_not():
    assert BENCHMARK_OPS <= entry.PLAN_ONCE
    assert entry.PLAN_ONCE <= set(entry.queries())
    side_effects = entry.BENCH_LIFECYCLE | {"q3_bucketed", "q18_bucketed"}
    assert not entry.PLAN_ONCE & side_effects
    assert not any(n.endswith("_sql") for n in entry.PLAN_ONCE)


@pytest.mark.parametrize("name", sorted(entry.PLAN_ONCE))
def test_marked_entry_builds_without_side_effects_and_replays_exactly(
    spark, sf_dir, streams, write_roots, name
):
    fn = entry.queries()[name]
    build = fn.__wrapped__  # the module's own builder, never cached
    catalog.load_tables(spark, sf_dir)  # the catalog's reads are not the build's
    roots = write_roots
    before, starts = _files(*roots), streams.n
    fresh, n_group, n_any = _jobs(spark, f"po-build-{name}", lambda: build(spark, sf_dir))
    assert n_group == n_any == 0, f"{name}: building launched {n_any} job(s)"
    assert _files(*roots) == before, f"{name}: building wrote files"
    assert streams.n == starts and not spark.streams.active, f"{name}: building started a stream"

    first = fn(spark, sf_dir)  # the first registry call keeps the analyzed plan
    cached, _, n_any = _jobs(spark, f"po-cached-{name}", lambda: fn(spark, sf_dir))
    assert n_any == 0
    assert cached is not first  # a fresh Dataset: no QueryExecution is shared
    key_names = {k[0] for k in catalog._catalogs[spark][sf_dir].plans}
    assert name in key_names

    rows_fresh, jobs_fresh, _ = _jobs(spark, f"po-run1-{name}", fresh.collect)
    rows_cached, jobs_cached, _ = _jobs(spark, f"po-run2-{name}", cached.collect)
    assert cached.columns == fresh.columns
    assert rows_cached == rows_fresh
    assert jobs_cached == jobs_fresh > 0
    spark.catalog.clearCache()


@pytest.mark.parametrize("name", ["docs_stream_index_ingest", "sim_ann_ivf_indexed"])
def test_side_effect_entries_build_on_every_call(spark, sf_dir, name):
    from codecdb_queryengine_spark.queries import scenario

    fn = entry.queries()[name]
    assert name not in entry.PLAN_ONCE and not hasattr(fn, "__wrapped__")
    for _ in range(2):
        before = _files(*scenario._SCRATCH.values())
        fn(spark, sf_dir)
        assert _files(*scenario._SCRATCH.values()) != before  # it wrote its index again
    assert name not in {k[0] for k in catalog._catalogs[spark][sf_dir].plans}


def test_cache_key_and_lifetime(spark, sf_dir):
    """One build per (session, sf_dir, analysis confs); reload drops it."""
    calls = []

    def build(s, d):
        calls.append(d)
        return catalog.load_tables(s, d)["nation"].filter(F.col("n_nationkey") < 5)

    fn = catalog.plan_once("t_plan_once_probe", build)
    first = fn(spark, sf_dir).collect()
    assert fn(spark, sf_dir).collect() == first and len(calls) == 1
    prev = spark.conf.get("spark.sql.caseSensitive")
    spark.conf.set("spark.sql.caseSensitive", "true")
    try:
        assert fn(spark, sf_dir).collect() == first and len(calls) == 2
    finally:
        spark.conf.set("spark.sql.caseSensitive", prev)
    catalog.reload_tables(spark, sf_dir)
    assert fn(spark, sf_dir).collect() == first and len(calls) == 3
    assert fn(spark, sf_dir).collect() == first and len(calls) == 3


def test_session_caches_forget_collected_sessions():
    """Both session caches hold their sessions weakly: once a session is
    collected, a new one (which CPython may give the same id) finds no
    confs-applied mark and no catalog entry of the dead one."""
    import gc

    class _Session:
        pass

    dead = _Session()
    catalog._conf_applied.add(dead)
    catalog._catalogs[dead] = {"/nowhere": None}
    del dead
    gc.collect()
    fresh = _Session()
    assert fresh not in catalog._conf_applied
    assert fresh not in catalog._catalogs
    assert not any(isinstance(s, _Session) for s in [*catalog._conf_applied, *catalog._catalogs])


# --- schema constants of the text-index layouts --------------------------


def _inferred(spark, path):
    return spark.read.parquet(path).schema


def _as_nullable(schema):
    return StructType([StructField(f.name, f.dataType) for f in schema])


def _corpus(spark):
    rows = [(0, "alpha beta gamma"), (1, "alpha beta"), (2, "beta beta delta")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_text_index_schemas_match_inferred_batch_layouts(spark, tmp_path):
    sep, one = str(tmp_path / "sep"), str(tmp_path / "one")
    TI.text_index_build(_corpus(spark), sep, num_buckets=4)
    TI.text_index_build_positional(_corpus(spark), sep, num_buckets=4)
    TI.text_index_build_ranked(_corpus(spark), sep, num_buckets=4)
    TI.text_index_build_all(_corpus(spark), one, num_buckets=4)
    for base in (sep, one):
        for layout, schema in TI._LAYOUT_SCHEMAS.items():
            assert _inferred(spark, os.path.join(base, layout)) == schema, (base, layout)
    assert _inferred(spark, TI._meta_path(sep, "postings")) == TI._cols(num_buckets=IntegerType())


def test_text_index_schemas_match_inferred_mutation_layouts(spark, tmp_path):
    path = str(tmp_path / "ti")
    TI.text_index_build(_corpus(spark), path, num_buckets=4)
    TI.text_index_build_positional(_corpus(spark), path, num_buckets=4)
    TI.text_index_build_ranked(_corpus(spark), path, num_buckets=4)
    upd = spark.createDataFrame([(1, "gamma gamma")], "doc_id long, text string")
    assert TI.text_index_upsert(path, updates=upd) == 1
    assert _inferred(spark, TI._docgen_path(path)) == TI.DOCGEN_SCHEMA  # first generation
    dels = spark.createDataFrame([(2,)], "doc_id long")
    assert TI.text_index_upsert(path, updates=upd, delete_ids=dels) == 2
    assert _inferred(spark, TI._docgen_path(path)) == TI.DOCGEN_SCHEMA  # merged generation
    for layout in TI._LAYOUT_SCHEMAS:
        delta = TI._delta_root(path, layout)
        assert _inferred(spark, delta) == TI._delta_schema(layout), layout


def test_text_index_schema_matches_streamed_ingest(spark, sf_dir, tmp_path):
    from codecdb_queryengine_spark.streaming import events as E
    from codecdb_queryengine_spark.streaming import sinks as SK

    stream = E.read_table_stream(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    q = SK.stream_to_parquet(
        TI.postings_of(stream),
        str(tmp_path / "postings"),
        str(tmp_path / "ckpt"),
        partition_by=("t_bucket",),
    )
    q.awaitTermination()
    # a read through the sink's commit log keeps the writer's nullability
    # (explode's term is never null); the constant is the nullable form
    # every other read infers
    assert _as_nullable(_inferred(spark, str(tmp_path / "postings"))) == TI.POSTINGS_SCHEMA
