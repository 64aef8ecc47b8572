"""DuckDB oracle text for the deduplication and graph scenarios
(queries/dedup.py).
"""

from __future__ import annotations

from codecdb_queryengine_spark.oracle.fragments import (
    _SQL_TOKENS,
    _sql_dot,
    _sql_minhash_mins,
    _sql_word_shingles,
    _sql_word_shingles_all,
)


_DEDUP_EXACT_SQL = """
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
"""


def _minhash_sql(num_hashes: int = 8, bands: int = 2, k: int = 3) -> str:
    r = num_hashes // bands
    mins = _sql_minhash_mins(num_hashes)
    band_keys = ", ".join(
        "concat_ws('_', " + ", ".join(f"m{b * r + j}" for j in range(r)) + f") AS bk{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT mh_id, {b} AS band, bk{b} AS band_key FROM sigs" for b in range(bands)
    )
    return f"""
        WITH sh AS (
            SELECT mh_id, shingles FROM (
                SELECT doc_id AS mh_id, {_sql_word_shingles(k)} AS shingles FROM documents)
            WHERE len(shingles) > 0),
        sig0 AS (SELECT mh_id, {mins} FROM sh),
        sigs AS (SELECT *, {band_keys} FROM sig0),
        bk AS ({band_union})
        SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.mh_id < b.mh_id
    """


def _simhash_sql(bits: int = 32) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h // {2**j}) % 2 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fold = " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(bits))
    return f"""
        WITH tok AS (
            SELECT doc_id AS sh_id,
                   ('0x' || substring(md5(t.tok), 1, {bits // 4}))::BIGINT AS h
            FROM documents, unnest(string_split_regex(trim(text), '\\s+')) AS t(tok)),
        votes AS (SELECT sh_id, {votes} FROM tok GROUP BY sh_id)
        SELECT sh_id, CAST({fold} AS BIGINT) AS simhash FROM votes
    """


def _simhash_pairs_sql(max_hamming: int = 3, bands: int = 4, bits: int = 32) -> str:
    band_bits = bits // bands
    band_union = " UNION ALL ".join(
        f"SELECT sh_id, {b} AS band, (simhash // {2 ** (b * band_bits)}) % {2 ** band_bits}"
        f" AS band_key FROM sim"
        for b in range(bands)
    )
    return f"""
        WITH sim AS ({_simhash_sql(bits)}),
        bk AS ({band_union}),
        cand AS (
            SELECT DISTINCT a.sh_id AS id_a, b.sh_id AS id_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.sh_id < b.sh_id)
        SELECT id_a, id_b,
               CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
        FROM cand
        JOIN sim sa ON sa.sh_id = id_a
        JOIN sim sb ON sb.sh_id = id_b
        WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
    """


_JACCARD_SQL = f"""
    WITH sh AS (
        SELECT doc_id AS jid, unnest({_sql_word_shingles(3)}) AS shingle FROM documents),
    sizes AS (SELECT jid, count(*) AS n_shingles FROM sh GROUP BY jid),
    common AS (
        SELECT a.jid AS id_a, b.jid AS id_b, count(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.jid < b.jid
        GROUP BY a.jid, b.jid)
    SELECT id_a, id_b,
           CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.jid = id_a
    JOIN sizes sb ON sb.jid = id_b
    WHERE CAST(n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - n_common) >= 0.12
"""


# must mirror operators/dedup.canonical_text exactly (single source for
# every oracle that canonicalizes)
_SQL_CANONICAL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),"
    " ' +', ' ', 'g'))"
)

_DEDUP_CANONICAL_SQL = f"""
    WITH with_variants AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000, upper(text) FROM documents WHERE doc_id % 10 = 0)
    SELECT md5({_SQL_CANONICAL}) AS digest,
           min(doc_id) AS keep_id, count(*) AS n_copies
    FROM with_variants
    GROUP BY digest ORDER BY keep_id
"""


_DEDUP_FUZZY_SQL = f"""
    WITH base AS (
        SELECT doc_id AS fz_id,
               substring(text, 1, 40) AS prefix,
               {_SQL_TOKENS}[1] AS block
        FROM documents
        WHERE {_SQL_TOKENS}[1] IS NOT NULL AND {_SQL_TOKENS}[1] <> '')
    SELECT DISTINCT a.fz_id AS id_a, b.fz_id AS id_b,
           CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edits
    FROM base a JOIN base b ON a.block = b.block AND a.fz_id < b.fz_id
    WHERE levenshtein(a.prefix, b.prefix) <= 8
    ORDER BY id_a, id_b
"""


def _minhash_verified_sql(num_hashes: int = 8, bands: int = 2, k: int = 3, thr: float = 0.12) -> str:
    r = num_hashes // bands
    mins = _sql_minhash_mins(num_hashes)
    band_keys = ", ".join(
        "concat_ws('_', " + ", ".join(f"m{b * r + j}" for j in range(r)) + f") AS bk{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT mh_id, {b} AS band, bk{b} AS band_key FROM sigs" for b in range(bands)
    )
    return f"""
        WITH sh AS (
            SELECT mh_id, shingles FROM (
                SELECT doc_id AS mh_id, {_sql_word_shingles(k)} AS shingles FROM documents)
            WHERE len(shingles) > 0),
        sig0 AS (SELECT mh_id, shingles, {mins} FROM sh),
        sigs AS (SELECT *, {band_keys} FROM sig0),
        bk AS ({band_union}),
        cand AS (
            SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.mh_id < b.mh_id)
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   CAST(len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))) AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))))
                     AS jaccard
            FROM cand
            JOIN sh sa ON sa.mh_id = id_a
            JOIN sh sb ON sb.mh_id = id_b)
        WHERE jaccard >= {thr}
    """


def _emb_dup_auto_sql(dim: int = 64, bands: int = 4, threshold: float = 0.4) -> str:
    """Mirror of embedding_near_dups' planes-per-doubling DEFAULT:

    - pol replays dedup.embdup_planes exactly — planes = 4 + min(8,
      floor(log2(n // 2000))) via an integer threshold ladder on n//2000
      (n//n0 >= 2^k ⟺ bit_length(n//n0)−1 >= k, so the ladder IS
      bit_length−1), from the same count(*) the operator's one count
      action reads.
    - band signatures use the stride-16 plane identities (global plane
      b·16+p) with a runtime-bounded bit sum, so ONE generated SQL text
      serves every corpus size.  Signature projections may sum in any
      order here (list_sum vs the engine's numpy matmul): only the SIGN
      reaches the key, and a flip needs |proj| ≲ 1e-15 — the documented,
      accepted risk class of the arrow banding path.  The verification
      cosine below stays the unrolled left-assoc mirror of
      cosine_pre (bit-exact; r2's hash flake came from DuckDB's FLOAT32
      list_cosine_similarity summing in a different order).
    """
    comp = (
        "(('0x' || substring(md5(CAST(b.band * 16 + p AS VARCHAR) || '|' || "
        "CAST(d - 1 AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0 - 0.5)"
    )
    return f"""
        WITH pol AS (
            SELECT 4 + LEAST(8, CASE
                       WHEN n // 2000 >= 256 THEN 8
                       WHEN n // 2000 >= 128 THEN 7
                       WHEN n // 2000 >= 64 THEN 6
                       WHEN n // 2000 >= 32 THEN 5
                       WHEN n // 2000 >= 16 THEN 4
                       WHEN n // 2000 >= 8 THEN 3
                       WHEN n // 2000 >= 4 THEN 2
                       WHEN n // 2000 >= 2 THEN 1
                       ELSE 0 END) AS planes
            FROM (SELECT count(*) AS n FROM embeddings)),
        bk AS (
            SELECT vec_id AS bid, b.band,
                   CAST(list_sum(list_transform(range(0, planes), p ->
                       CASE WHEN list_sum(list_transform(range(1, {dim + 1}), d ->
                                CAST(embedding[d] AS DOUBLE) * {comp})) >= 0
                            THEN (CAST(1 AS BIGINT) << p)
                            ELSE CAST(0 AS BIGINT) END)) AS BIGINT) AS band_key
            FROM embeddings
            CROSS JOIN pol
            CROSS JOIN (SELECT unnest(range(0, {bands})) AS band) b),
        cand AS (
            SELECT DISTINCT a.bid AS id_a, b.bid AS id_b
            FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.bid < b.bid),
        nv AS (SELECT vec_id, embedding,
                      sqrt({_sql_dot('embedding', 'embedding', dim)}) AS nrm
               FROM embeddings)
        SELECT id_a, id_b, cosine FROM (
            SELECT id_a, id_b,
                   ({_sql_dot('va.embedding', 'vb.embedding', dim)})
                     / (va.nrm * vb.nrm) AS cosine
            FROM cand
            JOIN nv va ON va.vec_id = id_a
            JOIN nv vb ON vb.vec_id = id_b)
        WHERE cosine >= {threshold}
    """


_GRAPH_CC_CHAIN_SQL = """
    WITH per_user AS (
        SELECT user_id, count(*) AS n FROM events
        WHERE user_id < 40 GROUP BY user_id),
    chunks AS (
        SELECT user_id, n, unnest(range(0, CAST(ceil(n / 64.0) AS BIGINT))) AS chunk
        FROM per_user)
    SELECT user_id * 100000 + chunk * 64 + 1 AS component,
           least(n - chunk * 64, 64) AS n_nodes
    FROM chunks
    WHERE least(n - chunk * 64, 64) >= 2
    ORDER BY component
"""


def _dedup_clusters_sql() -> str:
    # reachability closure over the same verified pairs; component = min
    # reachable node (including self) — identical labeling to min-propagation
    return f"""
        WITH RECURSIVE pairs AS (SELECT id_a, id_b FROM ({_minhash_verified_sql()}) v),
        und AS (SELECT id_a AS n, id_b AS m FROM pairs
                UNION SELECT id_b AS n, id_a AS m FROM pairs),
        reach AS (
            SELECT n, m FROM und
            UNION
            SELECT r.n, u.m FROM reach r JOIN und u ON r.m = u.n
        )
        SELECT n AS doc_id, least(n, min(m)) AS cluster_id
        FROM reach GROUP BY n ORDER BY doc_id
    """


def _dedup_keep_sql() -> str:
    return f"""
        WITH cc AS ({_dedup_clusters_sql()})
        SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        WHERE doc_id NOT IN (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
        GROUP BY lang ORDER BY lang
    """


def _simhash_clusters_sql() -> str:
    return f"""
        WITH RECURSIVE pairs AS (
            SELECT id_a, id_b
            FROM ({_simhash_pairs_sql(max_hamming=3, bands=5, bits=60)}) v),
        und AS (SELECT id_a AS n, id_b AS m FROM pairs
                UNION SELECT id_b AS n, id_a AS m FROM pairs),
        reach AS (
            SELECT n, m FROM und
            UNION
            SELECT r.n, u.m FROM reach r JOIN und u ON r.m = u.n
        )
        SELECT n AS doc_id, least(n, min(m)) AS cluster_id
        FROM reach GROUP BY n ORDER BY doc_id
    """


_DEDUP_INCR_SQL = """
    WITH ref AS (SELECT md5(text) AS digest FROM documents WHERE doc_id % 5 = 0),
    new_shard AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)
    SELECT n.doc_id, md5(n.text) AS digest
    FROM new_shard n
    WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.digest = md5(n.text))
    ORDER BY doc_id
"""


def _dedup_report_sql() -> str:
    return f"""
        WITH pairs AS ({_minhash_verified_sql()}),
        cc AS ({_dedup_clusters_sql()})
        SELECT 'raw_docs' AS stage, count(*) AS n FROM documents
        UNION ALL
        SELECT 'exact_distinct', count(DISTINCT md5(text)) FROM documents
        UNION ALL
        SELECT 'canonical_distinct',
               count(DISTINCT md5({_SQL_CANONICAL})) FROM documents
        UNION ALL
        SELECT 'near_dup_pairs', count(*) FROM pairs
        UNION ALL
        SELECT 'near_dup_clusters', count(DISTINCT cluster_id) FROM cc
        ORDER BY stage
    """


_SQL_COOC_E = f"""
    big AS MATERIALIZED (
        SELECT string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2
        FROM (SELECT unnest({_sql_word_shingles_all(2)}) AS bigram FROM documents)
        GROUP BY 1, 2
        HAVING count(*) >= 3 AND string_split(bigram, ' ')[1] <> string_split(bigram, ' ')[2]),
    e AS MATERIALIZED (
        SELECT w1 AS src, w2 AS dst FROM big
        UNION SELECT w2 AS src, w1 AS dst FROM big)
"""


def _pagerank_sql(iters: int = 6) -> str:
    ctes = [
        _SQL_COOC_E.strip(),
        "deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM e GROUP BY src)",
        """pr0 AS MATERIALIZED (
            SELECT src AS node, CAST(1000000 AS BIGINT) AS pr
            FROM (SELECT DISTINCT src FROM e))""",
    ]
    for t in range(iters):
        ctes.append(f"""pr{t + 1} AS MATERIALIZED (
            SELECT e.dst AS node,
                   CAST(150000 + (85 * sum(p.pr // d.deg)) // 100 AS BIGINT) AS pr
            FROM e JOIN deg d ON e.src = d.src
                   JOIN pr{t} p ON e.src = p.node
            GROUP BY e.dst)""")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT node, pr AS pr_micro FROM pr{iters}
    ORDER BY pr_micro DESC, node ASC LIMIT 30
"""


_TRIANGLES_SQL = f"""
    WITH {_SQL_COOC_E.strip()},
    elt AS MATERIALIZED (SELECT src AS lo, dst AS hi FROM e WHERE src < dst),
    tri AS MATERIALIZED (
        SELECT ab.lo AS a, ab.hi AS b, bc.hi AS c
        FROM elt ab JOIN elt bc ON ab.hi = bc.lo
             JOIN elt ac ON ac.lo = ab.lo AND ac.hi = bc.hi)
    SELECT node, count(*) AS n_tri FROM (
        SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node ORDER BY n_tri DESC, node ASC LIMIT 20
"""


_DEDUP_SEGMENTS_SQL = f"""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents),
    idx AS MATERIALIZED (
        SELECT doc_id, toks,
               unnest(generate_series(0,
                   CAST(ceil(len(toks) / 8.0) AS BIGINT) - 1)) AS seg_idx
        FROM tok),
    segs AS MATERIALIZED (
        SELECT doc_id, CAST(seg_idx AS INT) AS seg_idx,
               array_to_string(toks[seg_idx * 8 + 1 : seg_idx * 8 + 8], ' ')
                   AS seg
        FROM idx),
    flagged AS MATERIALIZED (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY seg
                                  ORDER BY doc_id, seg_idx) = 1 AS kept
        FROM segs)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
                        FILTER (WHERE kept), '') AS text_dedup
    FROM flagged GROUP BY doc_id
"""


_DEDUP_SUBSTRINGS_SQL = f"""
    WITH tk AS MATERIALIZED (
        SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
    sp AS MATERIALIZED (
        SELECT doc_id, CAST(pos AS INT) AS pos,
               array_to_string(tk[pos + 1 : pos + 5], ' ') AS sh
        FROM (SELECT doc_id, tk,
                     unnest(CASE WHEN len(tk) >= 5
                                 THEN generate_series(0, len(tk) - 5)
                                 ELSE [] END) AS pos
              FROM tk)),
    dup_occ AS MATERIALIZED (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY sh
                                      ORDER BY doc_id, pos) AS rn
            FROM sp)
        WHERE rn >= 2),
    removed AS MATERIALIZED (
        SELECT DISTINCT doc_id, pos + d AS p
        FROM (SELECT doc_id, pos, unnest(generate_series(0, 4)) AS d
              FROM dup_occ)),
    tokpos AS MATERIALIZED (
        SELECT doc_id, CAST(p AS INT) AS p, tk[p + 1] AS tok
        FROM (SELECT doc_id, tk,
                     unnest(generate_series(0, len(tk) - 1)) AS p
              FROM tk)),
    rebuilt AS MATERIALIZED (
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS kept_ntok,
               string_agg(t.tok, ' ' ORDER BY t.p) AS clean
        FROM tokpos t
        ANTI JOIN removed r ON t.doc_id = r.doc_id AND t.p = r.p
        GROUP BY t.doc_id)
    SELECT k.doc_id,
           CAST(len(k.tk) AS BIGINT) AS n_tokens,
           CAST(len(k.tk) - coalesce(b.kept_ntok, 0) AS BIGINT) AS n_removed,
           CAST(coalesce(b.kept_ntok, 0) AS BIGINT) AS clean_ntok,
           md5(coalesce(b.clean, '')) AS clean_md5
    FROM tk k LEFT JOIN rebuilt b USING (doc_id)
"""


_DUP_SPANS_SQL = f"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id, unnest({_sql_word_shingles_all(5)}) AS sh FROM documents),
    cnt AS MATERIALIZED (SELECT sh, count(*) AS n_occ FROM sh GROUP BY sh)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST((sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS dup_frac_micro
    FROM sh JOIN cnt USING (sh) GROUP BY doc_id
"""


_WINNOW_SQL = f"""
    WITH tok AS MATERIALIZED (
        SELECT doc_id, {_sql_word_shingles_all(4)} AS shs FROM documents),
    pos AS MATERIALIZED (
        SELECT doc_id, unnest(generate_series(0, len(shs) - 1)) AS pos, shs
        FROM tok WHERE len(shs) > 0),
    hashed AS MATERIALIZED (
        SELECT doc_id, CAST(pos AS INT) AS pos, len(shs) AS n_sh,
               ('0x' || substring(md5('wn|' || shs[pos + 1]), 1, 8))::BIGINT AS h
        FROM pos),
    wm AS MATERIALIZED (
        SELECT doc_id, pos, n_sh,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        FROM hashed)
    SELECT doc_id,
           CAST(count(DISTINCT wmin) AS BIGINT) AS n_fp,
           CAST(sum(DISTINCT wmin) AS BIGINT) AS fp_sig
    FROM wm WHERE pos <= n_sh - 4 GROUP BY doc_id
"""


ORACLE: dict[str, str] = {
    "dedup_exact": _DEDUP_EXACT_SQL,
    "dedup_minhash": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_simhash_pairs": _simhash_pairs_sql(max_hamming=3, bands=5, bits=60),
    "dedup_ngram_jaccard": _JACCARD_SQL,
    "dedup_minhash_verified": _minhash_verified_sql(),
    "dedup_fuzzy": _DEDUP_FUZZY_SQL,
    "dedup_canonical": _DEDUP_CANONICAL_SQL,
    "dedup_embedding": _emb_dup_auto_sql(),
    "docs_dedup_segments": _DEDUP_SEGMENTS_SQL,
    "docs_dedup_substrings": _DEDUP_SUBSTRINGS_SQL,
    "dedup_clusters": _dedup_clusters_sql(),
    "graph_cc_chain": _GRAPH_CC_CHAIN_SQL,
    "graph_cc_chain_ckpt": _GRAPH_CC_CHAIN_SQL,
    "dedup_keep_docs": _dedup_keep_sql(),
    "dedup_report": _dedup_report_sql(),
    "dedup_simhash_clusters": _simhash_clusters_sql(),
    "dedup_incremental": _DEDUP_INCR_SQL,
    "graph_pagerank": _pagerank_sql(),
    "graph_triangles": _TRIANGLES_SQL,
    "graph_pagerank_ckpt": _pagerank_sql(),
    "docs_dup_spans": _DUP_SPANS_SQL,
    "docs_winnow": _WINNOW_SQL,
}
