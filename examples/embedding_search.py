#!/usr/bin/env python3
"""End-to-end embedding-retrieval serving, composed from the engine's
operators — the workflow a retrieval team runs to stand up ANN search
over a corpus:

    embeddings table
      -> train IVFADC        (Lloyd coarse centroids + Lloyd residual
                              codebooks, exact-integer micro space —
                              similarity.ivfpq_train_micro)
      -> build codes index   (codes-ONLY lists partitioned by coarse
                              list: M small codes per vector instead of
                              d floats — ann_index.ivfpq_index_build_micro)
      -> serve ADC top-k     (reads ONLY the nprobe probed partitions via
                              dynamic partition pruning —
                              ann_index.ivfpq_index_topk_micro)
      -> recall audit        (vs exact brute-force cosine top-k)
      -> two-stage re-rank   (IVFADC+R: the ADC R-shortlist's TRUE vectors
                              fetched via a broadcast shortlist join and
                              ranked by exact cosine —
                              similarity.exact_rerank; recall lift printed)

Run:  python examples/embedding_search.py [sf_dir] [index_dir]
Defaults: /root/testdata/sf0.001, a temp dir.  Prints the serving result
sample and recall@k against the exact scan.

Scale story (SCALE.md): training state is model-sized, the index stores
M bytes-per-vector codes, and a query set touches nprobe/K of the index's
partitions regardless of corpus size — the 1e10-vector serving shape.  At
100 TB only K (coarse lists), M×Kc (codebook size) and nprobe change.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.operators import similarity as S
from codecdb_queryengine_spark.sources import ann_index as AI


def build_and_serve(spark, sf_dir: str, index_dir: str, k: int = 5, n_queries: int = 5):
    """Train → persist → serve → audit.  Returns (results, recall@k)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )

    cents, cbs = S.ivfpq_train_micro(emb, dim=64)
    AI.ivfpq_index_build_micro(emb, index_dir, cents, cbs)
    served = AI.ivfpq_index_topk_micro(spark, index_dir, queries, k=k, nprobe=2)

    # collect the exact reference ONCE — it is the expensive stage of the
    # audit (full cross-join + rank), and an uncached lazy plan would run
    # it twice (overlap join + denominator count)
    exact = {
        (r.q_id, r.n_id)
        for r in S.brute_force_topk(emb, queries, k=k).select("q_id", "n_id").collect()
    }
    hits = {(r.q_id, r.n_id) for r in served.select("q_id", "n_id").collect()}
    recall = len(hits & exact) / len(exact)
    return served, recall


def rerank_stage(spark, sf_dir: str, index_dir: str, k: int = 5,
                 shortlist_r: int = 20, n_queries: int = 5):
    """Two-stage retrieval (r10, IVFADC+R): the served ADC codes cut the
    corpus to an R-shortlist, then ONLY those R true vectors are fetched
    and ranked by exact cosine (similarity.exact_rerank) — codes pay for
    the scan, floats only for the finalists.  Returns (reranked top-k,
    recall@k) for comparison against the raw ADC recall."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    short = AI.ivfpq_index_topk_micro(
        spark, index_dir, queries, k=shortlist_r, nprobe=2
    )
    reranked = S.exact_rerank(emb, queries, short, k=k)
    exact = {
        (r.q_id, r.n_id)
        for r in S.brute_force_topk(emb, queries, k=k).select("q_id", "n_id").collect()
    }
    hits = {(r.q_id, r.n_id) for r in reranked.select("q_id", "n_id").collect()}
    return reranked, len(hits & exact) / len(exact)


def operating_curve(spark, sf_dir: str, n_queries: int = 5):
    """Tune before you scale (r11): sweep (nprobe, R) over ONE all-lists
    ADC relation carrying each candidate's 0-based probe rank `pr`
    (similarity.ivfpq_scored_micro at nprobe=K over the untrained
    quantizer samples: mod-29 coarse lists, stride-37 residual codebooks)
    — every operating point is a filter + window over it, so the whole
    sweep scores the corpus once.  Prints recall@10 next to rows_read (the
    ADC-scored pairs that point pays): the same quality-vs-cost table the
    gated sim_ann_ivfpq_curve value-hashes, here as the tuning workflow."""
    from pyspark.sql import Window

    emb = load_tables(spark, sf_dir)["embeddings"]
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    cents, cbs = S.ivfpq_train_micro(emb, dim=64, centroid_mod=29, iters=0)
    kk = len(cents)
    scored = S.ivfpq_scored_micro(
        S.ivfpq_encode_micro(emb, cents, cbs, dim=64), queries, cents, cbs,
        dim=64, nprobe=kk,
    ).localCheckpoint(eager=False)
    exact = {
        (r.q_id, r.n_id)
        for r in S.brute_force_topk(emb, queries, k=10).select("q_id", "n_id").collect()
    }
    w = Window.partitionBy("q_id").orderBy(F.col("adc_q").asc(), F.col("n_id").asc())
    print(f"{'nprobe':>6} {'R':>4} {'recall@10':>9} {'rows_read':>9}")
    for np_ in (1, 4, kk):
        sub = scored.filter(F.col("pr") < np_)
        rows_read = sub.count()
        for r_ in (20, 100):
            short = (
                sub.withColumn("rk", F.row_number().over(w))
                .filter(F.col("rk") <= r_).select("q_id", "n_id")
            )
            rr = S.exact_rerank(emb, queries, short, k=10)
            hits = {(x.q_id, x.n_id) for x in rr.select("q_id", "n_id").collect()}
            print(f"{np_:>6} {r_:>4} {len(hits & exact) / len(exact):>9.2f} "
                  f"{rows_read:>9}")


def main() -> None:
    from codecdb_queryengine_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    index_dir = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="ivfpq_idx_")
    spark = get_spark("embedding-search")
    served, recall = build_and_serve(spark, sf_dir, index_dir)
    served.show(10)
    reranked, recall_r = rerank_stage(spark, sf_dir, index_dir)
    reranked.show(10)
    print(f"index: {index_dir}")
    print(f"recall@5 vs exact scan: ADC {recall:.2f} -> reranked {recall_r:.2f}")
    operating_curve(spark, sf_dir)


if __name__ == "__main__":
    main()
