"""The benchmark's workloads: which registered queries one op may be, at
which scale.  Op names are keys of ``__spark_entry__.queries()``.

A run lasts 35-45 s on 4 cores, about 15 s of it JVM start and the cold
warm-up pass, so each workload keeps five ops that run in under a second
when warm.  Five, an odd count: every timed pass runs each op once, so the
median latency falls inside one op's samples instead of on the boundary
between two ops."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    sf: float
    ops: tuple[str, ...]


WORKLOADS = {
    # The paper's own evaluation: scan-heavy star-schema queries as
    # hand-built DataFrame plans.  Exercises catalog, plan building,
    # parquet scan pushdown, broadcast joins, shuffles and aggregation;
    # Python workers and sources/ stay idle.
    "olap_star": Workload(
        sf=0.1,
        ops=("q1", "q3", "q6", "ssb_q1_1", "ssb_q2_1"),
    ),
    # LLM-data operators and the index write path: text functions,
    # mapInPandas across the Arrow boundary, dedup, vector top-k, and a
    # streaming ingest that writes a text index under sources/ through
    # streaming/sinks.py.  Star joins are barely touched.
    "llm_index": Workload(
        sf=0.01,
        ops=("text_quality", "mm_phash_dedup", "dedup_exact", "sim_topk", "docs_stream_index_ingest"),
    ),
}
