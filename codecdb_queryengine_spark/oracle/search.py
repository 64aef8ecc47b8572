"""DuckDB oracle text for the text-index scenarios (queries/search.py).
"""

from __future__ import annotations

from codecdb_queryengine_spark.oracle.fragments import _SQL_TOKENS, _sql_dot
from codecdb_queryengine_spark.queries.search import (
    _HYBRID_BATCH,
    _HYBRID_FUSE_K,
    _HYBRID_K,
    _HYBRID_RRF,
    _SEARCH_PHRASE,
    _SEARCH_TERMS,
    _TI_ADD,
    _TI_ADD_TEXT,
    _TI_DEL,
    _TI_REPL,
)


def _search_index_sql() -> str:
    conds = " AND ".join(
        f"list_contains({_SQL_TOKENS}, '{t}')" for t in _SEARCH_TERMS
    )
    return f"SELECT doc_id, lang, source FROM documents WHERE {conds}"


def _search_phrase_sql() -> str:
    phrase = " ".join(_SEARCH_PHRASE)
    return f"""
        SELECT doc_id, lang, source FROM documents
        WHERE contains(' ' || array_to_string({_SQL_TOKENS}, ' ') || ' ',
                       ' {phrase} ')
    """


def _search_ranked_sql(
    k: int = 10,
    k1: float = 1.25,
    b: float = 0.75,
    src: str = "documents",
    pre_cte: str = "",
) -> str:
    want = sorted(set(_SEARCH_TERMS))
    terms_in = ", ".join(f"'{t}'" for t in want)
    cases = ", ".join(
        f"max(CASE WHEN term = '{t}' THEN part END) AS p{i}"
        for i, t in enumerate(want)
    )
    score = " + ".join(f"coalesce(p{i}, 0.0)" for i in range(len(want)))
    return f"""
        WITH {pre_cte}tok AS MATERIALIZED (
            SELECT doc_id, {_SQL_TOKENS} AS toks FROM {src}),
        dl AS MATERIALIZED (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
        st AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS MATERIALIZED (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
            WHERE term IN ({terms_in})
            GROUP BY doc_id, term),
        f AS MATERIALIZED (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        parts AS MATERIALIZED (
            SELECT t.doc_id, t.term,
                   ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
                    / (CAST(f.df AS DOUBLE) + 0.5))
                   * ((CAST(t.tf AS DOUBLE) * {k1 + 1.0})
                      / (CAST(t.tf AS DOUBLE)
                         + {k1} * ({1.0 - b} + {b}
                             * (CAST(d.dl AS DOUBLE)
                                / (CAST(s.sum_dl AS DOUBLE)
                                   / CAST(s.n_docs AS DOUBLE)))))) AS part
            FROM tf t
            JOIN dl d ON d.doc_id = t.doc_id
            JOIN f ON f.term = t.term
            CROSS JOIN st s),
        agg AS MATERIALIZED (
            SELECT doc_id, {cases} FROM parts GROUP BY doc_id)
        SELECT doc_id, {score} AS score
        FROM agg ORDER BY score DESC, doc_id ASC LIMIT {k}
    """


_TI_MUTATED_CTE = f"""mutated AS MATERIALIZED (
            SELECT doc_id, lang, source,
                   CASE WHEN {_TI_ADD} THEN text || '{_TI_ADD_TEXT}'
                        WHEN {_TI_REPL} THEN replace(text, 'hash', 'quorum')
                        ELSE text END AS text
            FROM documents WHERE NOT {_TI_DEL}),"""


def _search_upserted_sql() -> str:
    conds = " AND ".join(
        f"list_contains({_SQL_TOKENS}, '{t}')" for t in _SEARCH_TERMS
    )
    return f"""
        WITH {_TI_MUTATED_CTE.rstrip(",")}
        SELECT doc_id, lang, source FROM mutated WHERE {conds}
    """


def _hybrid_search_sql() -> str:
    ranked = _search_ranked_sql(k=_HYBRID_K)
    c = _HYBRID_RRF
    return f"""
        WITH bm_raw AS ({ranked}),
        bm AS (
            SELECT doc_id,
                   CAST(row_number() OVER (
                       ORDER BY score DESC, doc_id ASC) AS BIGINT) AS rk_t
            FROM bm_raw),
        nv AS (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
            FROM embeddings),
        vv AS (
            SELECT n_id AS doc_id, rk AS rk_v FROM (
                SELECT n.vec_id AS n_id,
                       CAST(row_number() OVER (
                           ORDER BY ({_sql_dot('q.embedding', 'n.embedding', 64)})
                                    / (q.nrm * n.nrm) DESC,
                                    n.vec_id ASC) AS BIGINT) AS rk
                FROM nv q JOIN nv n ON n.vec_id <> 0
                WHERE q.vec_id = 0)
            WHERE rk <= {_HYBRID_K})
        SELECT coalesce(bm.doc_id, vv.doc_id) AS doc_id,
               coalesce(1.0 / ({c} + rk_t), 0.0)
                 + coalesce(1.0 / ({c} + rk_v), 0.0) AS rrf,
               rk_t, rk_v
        FROM bm FULL OUTER JOIN vv ON bm.doc_id = vv.doc_id
        ORDER BY rrf DESC, doc_id ASC LIMIT {_HYBRID_FUSE_K}
    """


def _hybrid_batch_sql(k1: float = 1.25, b: float = 0.75) -> str:
    union_terms = sorted({t for _, ts in _HYBRID_BATCH for t in ts})
    terms_in = ", ".join(f"'{t}'" for t in union_terms)
    qvals = ", ".join(
        f"({q}, '{t}')" for q, ts in sorted(_HYBRID_BATCH) for t in sorted(set(ts))
    )
    cases = ", ".join(
        f"max(CASE WHEN p.term = '{t}' THEN part END) AS p{i}"
        for i, t in enumerate(union_terms)
    )
    score = " + ".join(f"coalesce(p{i}, 0.0)" for i in range(len(union_terms)))
    nq = len(_HYBRID_BATCH)
    c = _HYBRID_RRF
    return f"""
        WITH qs(q_id, term) AS (SELECT * FROM (VALUES {qvals})),
        tok AS MATERIALIZED (
            SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
        dl AS MATERIALIZED (
            SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tok),
        st AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
        tf AS MATERIALIZED (
            SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
            WHERE term IN ({terms_in})
            GROUP BY doc_id, term),
        f AS MATERIALIZED (
            SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        parts AS MATERIALIZED (
            SELECT t.doc_id, t.term,
                   ((CAST(s.n_docs - f.df AS DOUBLE) + 0.5)
                    / (CAST(f.df AS DOUBLE) + 0.5))
                   * ((CAST(t.tf AS DOUBLE) * {k1 + 1.0})
                      / (CAST(t.tf AS DOUBLE)
                         + {k1} * ({1.0 - b} + {b}
                             * (CAST(d.dl AS DOUBLE)
                                / (CAST(s.sum_dl AS DOUBLE)
                                   / CAST(s.n_docs AS DOUBLE)))))) AS part
            FROM tf t
            JOIN dl d ON d.doc_id = t.doc_id
            JOIN f ON f.term = t.term
            CROSS JOIN st s),
        agg AS MATERIALIZED (
            SELECT q.q_id, p.doc_id, {cases}
            FROM parts p JOIN qs q ON q.term = p.term
            GROUP BY q.q_id, p.doc_id),
        bm AS MATERIALIZED (
            SELECT q_id, doc_id, rk_t FROM (
                SELECT q_id, doc_id,
                       CAST(row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY {score} DESC, doc_id ASC) AS BIGINT) AS rk_t
                FROM agg)
            WHERE rk_t <= {_HYBRID_K}),
        nv AS MATERIALIZED (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
            FROM embeddings),
        vv AS MATERIALIZED (
            SELECT q_id, doc_id, rk_v FROM (
                SELECT q.vec_id AS q_id, n.vec_id AS doc_id,
                       CAST(row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY ({_sql_dot('q.embedding', 'n.embedding', 64)})
                                    / (q.nrm * n.nrm) DESC,
                                    n.vec_id ASC) AS BIGINT) AS rk_v
                FROM nv q JOIN nv n ON q.vec_id <> n.vec_id
                WHERE q.vec_id < {nq})
            WHERE rk_v <= {_HYBRID_K}),
        fused AS (
            SELECT coalesce(bm.q_id, vv.q_id) AS q_id,
                   coalesce(bm.doc_id, vv.doc_id) AS doc_id,
                   coalesce(1.0 / ({c} + rk_t), 0.0)
                     + coalesce(1.0 / ({c} + rk_v), 0.0) AS rrf,
                   rk_t, rk_v
            FROM bm
            FULL OUTER JOIN vv ON bm.q_id = vv.q_id AND bm.doc_id = vv.doc_id)
        SELECT q_id, doc_id, rrf, rk_t, rk_v, rk FROM (
            SELECT q_id, doc_id, rrf, rk_t, rk_v,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY rrf DESC, doc_id ASC) AS BIGINT) AS rk
            FROM fused)
        WHERE rk <= {_HYBRID_FUSE_K} ORDER BY q_id, rk
    """


_BINARYFILE_SQL = """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS digest
    FROM documents WHERE text IS NOT NULL
"""


_IO_ROUNDTRIP_SQL = """
    WITH s AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars,
               CAST(sum(('0x' || substring(md5('io|' || text), 1, 8))::BIGINT)
                    AS BIGINT) AS text_sig,
               min(doc_id) AS min_id,
               max(doc_id) AS max_id
        FROM documents GROUP BY source)
    SELECT s.*, f.fmt
    FROM s CROSS JOIN (SELECT unnest(['csv', 'json', 'orc', 'xml']) AS fmt) f
"""


_COMPACT_ROUNDTRIP_SQL = """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(('0x' || substring(md5('io|' || text), 1, 8))::BIGINT)
                AS BIGINT) AS text_sig,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id
    FROM documents GROUP BY source
"""


_DOCS_UPSERT_SQL = """
    WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
    merged AS (
        SELECT doc_id,
               CASE WHEN lang = 'en' AND doc_id % 7 = 0
                    THEN 'UPD ' || text ELSE text END AS text,
               lang,
               CASE WHEN lang = 'en' AND doc_id % 7 = 0
                    THEN 1 ELSE 0 END AS version
        FROM documents
        UNION ALL
        SELECT doc_id + m AS doc_id, 'NEW ' || text AS text, lang, 1 AS version
        FROM documents, mx WHERE lang = 'en' AND doc_id % 13 = 0)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(version) AS BIGINT) AS n_v1,
           CAST(sum(('0x' || substring(md5('up|' || text), 1, 8))::BIGINT)
                AS BIGINT) AS text_sig,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id,
           TRUE AS untouched_intact,
           CAST(1 AS BIGINT) AS parts_rewritten
    FROM merged GROUP BY lang
"""


_DOCS_SEL_COMPACT_SQL = """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(('0x' || substring(md5('sc|' || text), 1, 8))::BIGINT)
                AS BIGINT) AS text_sig,
           min(doc_id) AS min_id,
           max(doc_id) AS max_id,
           TRUE AS only_en_compacted,
           TRUE AS untouched_intact,
           TRUE AS files_shrunk
    FROM documents GROUP BY lang
"""


ORACLE: dict[str, str] = {
    "docs_search_index": _search_index_sql(),
    "docs_search_phrase": _search_phrase_sql(),
    "docs_search_ranked": _search_ranked_sql(),
    "docs_search_upserted": _search_upserted_sql(),
    "docs_stream_mutations": _search_upserted_sql(),
    "docs_search_cached": _search_upserted_sql(),
    "docs_hybrid_search": _hybrid_search_sql(),
    "docs_hybrid_search_batch": _hybrid_batch_sql(),
    "docs_search_purged": _search_ranked_sql(
        src="mutated", pre_cte=_TI_MUTATED_CTE + "\n        "
    ),
    "docs_stream_index_ingest": _search_index_sql(),
    "docs_upsert_partitioned": _DOCS_UPSERT_SQL,
    "docs_stream_compact_selective": _DOCS_SEL_COMPACT_SQL,
    "docs_stream_index_compact": "SELECT s.*, TRUE AS files_shrunk FROM ("
    + _search_index_sql()
    + ") s",
    "docs_binaryfile": _BINARYFILE_SQL,
    "docs_io_roundtrip": _IO_ROUNDTRIP_SQL,
    "docs_compact_roundtrip": _COMPACT_ROUNDTRIP_SQL,
}
