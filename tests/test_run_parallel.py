"""session.run_parallel, the one helper that overlaps independent Spark
actions: results keep job order, a single job runs inline, and every job
launched from its pool threads counts under the caller's job group."""

import threading
import time

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.sources import ann_index as AI
from codecdb_queryengine_spark.sources import text_index as TI


def test_results_keep_job_order_and_one_job_runs_inline(spark):
    from codecdb_queryengine_spark.session import run_parallel

    assert run_parallel(spark, [], 2) == []
    assert run_parallel(spark, [threading.get_ident], 3) == [threading.get_ident()]
    # later jobs finish first; the results still come back in job order
    jobs = [lambda i=i: time.sleep(0.05 * (4 - i)) or i for i in range(4)]
    assert run_parallel(spark, jobs, 2) == [0, 1, 2, 3]


def _group_and_launched(spark, group, fn):
    """(job ids the status tracker files under `group`, every job id the
    DAG scheduler handed out while fn ran — from any thread)."""
    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts arrive asynchronously
    in_group = set(sc.statusTracker().getJobIdsForGroup(group))
    return in_group, set(range(first, dag.nextJobId()))


def test_pool_jobs_count_under_the_callers_job_group(spark, sf_dir, tmp_path):
    """A text upsert overlaps its delta and docgen-staging writes, and a
    capped IVF build overlaps its centroid write with the per-list count:
    every job either launches is in the caller's job group."""
    path = str(tmp_path / "ti")
    docs = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma"), (2, "gamma")], "doc_id long, text string"
    )
    TI.text_index_build_all(docs, path, num_buckets=8)
    updates = spark.createDataFrame([(1, "gamma delta")], "doc_id long, text string")
    emb = load_tables(spark, sf_dir)["embeddings"]

    def mutate():
        TI.text_index_upsert(path, updates)
        AI.ivf_index_build(emb, str(tmp_path / "ivf"), max_list_rows=16)

    in_group, launched = _group_and_launched(spark, "run-parallel-jobs", mutate)
    assert len(launched) >= 5  # the delta writes, the staging, the IVF passes
    assert launched - in_group == set()
