#!/usr/bin/env python3
"""Index maintenance day-2 operations — the lifecycle workflows every
persisted layout in this engine supports (the r8 theme: a 100-TB corpus
MUTATES, and a layout that can only be rebuilt cannot serve one):

    text index     build -> serve -> upsert/delete docs (O(batch),
                   base+delta+tombstone overlay) -> serve live -> purge
                   (fold the overlay, LSM major compaction) -> serve
    ANN index      build -> serve -> append new vectors (O(batch)) ->
                   delete + update vectors (touched-list rewrite) -> serve
    z-order layout partitioned clustered write -> O(batch) clustered
                   append -> selective re-cluster of just the fragmented
                   directories

Run:  python examples/index_maintenance.py [sf_dir] [work_dir]
Defaults: /root/testdata/sf0.001, a temp dir.

Every maintenance pass goes through the journaled swap protocol
(sources/io.swap_layout / swap_partition_dirs), so a crash at any
boundary is recoverable with io.recover_swap and concurrent readers see
either the old or the new generation, never a mix.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.operators import similarity as S
from codecdb_queryengine_spark.session import get_spark
from codecdb_queryengine_spark.sources import ann_index as AI
from codecdb_queryengine_spark.sources import layout as L
from codecdb_queryengine_spark.sources import text_index as TI


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = sys.argv[2] if len(sys.argv) > 2 else tempfile.mkdtemp(prefix="maint_")
    spark = get_spark("index-maintenance")
    t = load_tables(spark, sf_dir)
    docs, emb = t["documents"], t["embeddings"]

    # --- text index: build -> mutate -> purge --------------------------------
    ti = os.path.join(work, "text_index")
    TI.text_index_build(docs, ti)
    terms = ["data", "model"]
    n0 = TI.text_index_search_all(spark, ti, terms).count()
    print(f"[text] built; '{' AND '.join(terms)}' matches {n0} docs")

    revised = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", F.concat("text", F.lit(" data model revision")).alias("text")
    )
    gone = docs.filter(
        (F.col("doc_id") % 11 == 3) & (F.col("doc_id") % 7 != 0)
    ).select("doc_id")
    gen = TI.text_index_upsert(ti, updates=revised, delete_ids=gone)
    n1 = TI.text_index_search_all(spark, ti, terms).count()
    print(f"[text] gen {gen} upserted ({revised.count()} revised, "
          f"{gone.count()} deleted); matches now {n1} (served via overlay)")

    folded = TI.text_index_purge(spark, ti)
    n2 = TI.text_index_search_all(spark, ti, terms).count()
    assert n2 == n1, "purge changed the result"
    print(f"[text] purged {folded}; matches unchanged at {n2}")

    # --- ANN index: build -> append -> upsert/delete -> serve ----------------
    ai = os.path.join(work, "ivf_index")
    # the quantizer is fixed before ingest: the mod-29 sample of the full
    # corpus in micro-integer units (the untrained coarse lists)
    cents = S.kmeans_lloyd_micro(emb, dim=64, k=None, stride=29, iters=0)
    AI.ivf_index_build(emb.filter(F.col("vec_id") % 2 == 0), ai, cents)
    AI.ivf_index_append(emb.filter(F.col("vec_id") % 2 == 1), ai)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    print(f"[ann] built over half, appended the rest; "
          f"top-3 rows: {AI.ivf_index_topk(spark, ai, queries, k=3).count()}")
    AI.ivf_index_upsert(
        ai,
        updates=emb.filter(F.col("vec_id") % 17 == 5).select(
            "vec_id", F.reverse("embedding").alias("embedding")
        ),
        delete_ids=emb.filter(F.col("vec_id") % 17 == 3).select("vec_id"),
    )
    print(f"[ann] vectors updated/deleted via touched-list rewrite; "
          f"top-3 rows: {AI.ivf_index_topk(spark, ai, queries, k=3).count()}")

    # --- z-order layout: clustered write -> append -> maintain ---------------
    zl = os.path.join(work, "docs_zorder")
    clustered = docs.select(
        "doc_id",
        (F.col("n_chars") % 256).alias("len_bucket"),
        (F.col("doc_id") % 64).alias("id_bucket"),
    )
    L.zorder_write_partitioned(
        clustered.filter(F.col("doc_id") % 3 != 0), ["len_bucket", "id_bucket"], zl,
        bits=8, prefix_bits=3,
    )
    L.zorder_append(clustered.filter(F.col("doc_id") % 3 == 0), zl)
    touched = L.zorder_maintain(spark, zl, min_files=1)
    total = spark.read.parquet(zl).count()
    print(f"[zorder] appended 1/3 of rows, re-clustered {len(touched)} "
          f"fragmented dirs; {total} rows served")
    print(f"done; layouts under {work}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
