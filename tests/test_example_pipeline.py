"""The composed pretraining-corpus pipeline (examples/pretrain_pipeline.py)
must run end-to-end with a monotone funnel and a readable partitioned
output."""

import importlib.util
import os

spec = importlib.util.spec_from_file_location(
    "pretrain_pipeline",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "pretrain_pipeline.py"),
)
pipeline_mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(pipeline_mod)


def test_pipeline_funnel_monotone_and_output_readable(spark, sf_dir, tmp_path):
    out = str(tmp_path / "corpus")
    final, funnel = pipeline_mod.build_corpus(spark, sf_dir, out)
    counts = [n for _, n in funnel]
    assert counts[0] > 0
    assert all(a >= b for a, b in zip(counts, counts[1:])), funnel
    assert counts[-1] > 0
    back = spark.read.parquet(out)
    assert back.count() == counts[-1]
    assert "bucket" in back.columns and "tok_offset" in back.columns
    # every surviving doc still carries its (masked) text
    assert back.filter("text IS NULL").count() == 0


ingest_spec = importlib.util.spec_from_file_location(
    "incremental_ingest",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "incremental_ingest.py"),
)
ingest_mod = importlib.util.module_from_spec(ingest_spec)
ingest_spec.loader.exec_module(ingest_mod)


def test_incremental_ingest_dedups_and_writes(spark, sf_dir, tmp_path):
    out = str(tmp_path / "shard")
    written, report = ingest_mod.ingest_shard(spark, sf_dir, out)
    stages = dict(report)
    # re-crawled corpus docs (the +100000 ids) must all be dropped
    assert stages["after cross-shard dedup"] <= stages["shard raw"]
    assert written.filter("doc_id >= 100000").count() == 0
    # the write is z-clustered: both clustered columns survive round-trip
    assert {"n_chars", "n_tokens", "avg_bits"} <= set(written.columns)
    assert stages["written"] == stages["after cross-shard dedup"]


search_spec = importlib.util.spec_from_file_location(
    "embedding_search",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "embedding_search.py"),
)
search_mod = importlib.util.module_from_spec(search_spec)
search_spec.loader.exec_module(search_mod)


def test_embedding_search_serves_with_sane_recall(spark, sf_dir, tmp_path):
    served, recall = search_mod.build_and_serve(spark, sf_dir, str(tmp_path / "idx"))
    rows = served.collect()
    assert len(rows) > 0
    # rk is a dense 1..k ranking per query and ADC scores are non-negative
    by_q = {}
    for r in sorted(rows, key=lambda r: (r.q_id, r.rk)):
        by_q.setdefault(r.q_id, []).append(r)
        assert r.adc_q >= 0
    for rs in by_q.values():
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        scores = [r.adc_q for r in rs]
        assert scores == sorted(scores)
    # the fixture's embeddings are near-random (test_ann_recall's note), so
    # exact recall under 32× compression + nprobe pruning is legitimately
    # small — the floor pins "far above the ~0.0125 random-guess baseline",
    # not SOTA recall
    assert recall >= 0.04


def test_embedding_search_rerank_stage_improves_or_holds_recall(
    spark, sf_dir, tmp_path
):
    """The r10 two-stage step in the walkthrough: re-ranking the ADC
    R-shortlist by exact cosine can only keep or improve recall@k vs the
    raw ADC ordering (the reranked k are the truly-nearest k within the
    shortlist), and its output carries exact cosines in brute-force rank
    order."""
    idx = str(tmp_path / "idx")
    _, recall_adc = search_mod.build_and_serve(spark, sf_dir, idx)
    reranked, recall_r = search_mod.rerank_stage(spark, sf_dir, idx)
    assert recall_r >= recall_adc
    by_q = {}
    for r in sorted(reranked.collect(), key=lambda r: (r.q_id, r.rk)):
        by_q.setdefault(r.q_id, []).append(r.cosine)
    for scores in by_q.values():
        assert scores == sorted(scores, reverse=True)


maint_spec = importlib.util.spec_from_file_location(
    "index_maintenance",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples", "index_maintenance.py"),
)
maint_mod = importlib.util.module_from_spec(maint_spec)
maint_spec.loader.exec_module(maint_mod)


def test_index_maintenance_example_end_to_end(spark, sf_dir, tmp_path, monkeypatch):
    """examples/index_maintenance.py runs every day-2 pass (text upsert and
    purge, IVF build/append/upsert/serve, z-order append and maintain);
    afterwards the IVF layout holds no deleted vector, every update, and
    still serves."""
    from pyspark.sql import functions as F

    from codecdb_queryengine_spark.catalog import load_tables
    from codecdb_queryengine_spark.sources import ann_index as AI

    work = str(tmp_path / "maint")
    monkeypatch.setattr("sys.argv", ["index_maintenance.py", sf_dir, work])
    assert maint_mod.main() == 0
    emb = load_tables(spark, sf_dir)["embeddings"]
    ai = os.path.join(work, "ivf_index")
    lists = spark.read.parquet(os.path.join(ai, "lists"))
    left = {r.n_id for r in lists.select("n_id").collect()}
    deleted = {r.vec_id for r in emb.filter(F.col("vec_id") % 17 == 3).collect()}
    assert left == {r.vec_id for r in emb.collect()} - deleted
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    assert AI.ivf_index_topk(spark, ai, queries, k=3).count() == 9
    for sub in ("text_index", "docs_zorder"):
        assert os.path.isdir(os.path.join(work, sub))
