"""DuckDB oracle text for the text-analysis and corpus-preparation
scenarios (queries/text.py).
"""

from __future__ import annotations

from codecdb_queryengine_spark.functions import text as T
from codecdb_queryengine_spark.operators import corpus as C
from codecdb_queryengine_spark.oracle.fragments import (
    _SQL_NTOK,
    _SQL_PUNCT,
    _SQL_STOP,
    _SQL_TOKENS,
    _sql_minhash_mins,
    _sql_word_shingles,
    _sql_word_shingles_all,
)
from codecdb_queryengine_spark.queries.text import _MIX_WEIGHTS, _SAMPLE_RATES


_TEXT_STATS_SQL = f"""
    SELECT doc_id,
           CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({_SQL_TOKENS})) AS BIGINT) AS n_uniq_tokens,
           CAST(list_reduce([0] + list_transform({_SQL_TOKENS}, t -> length(t)),
                            (a, b) -> a + b) AS DOUBLE)
             / greatest({_SQL_NTOK}, 1) AS avg_tok_len,
           CAST({_SQL_STOP} AS BIGINT) AS n_stopwords
    FROM documents
"""


_TEXT_QUALITY_SQL = f"""
    SELECT doc_id,
           0.3 * least({_SQL_NTOK} / 64.0, 1.0)
         + 0.3 * (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE) / greatest({_SQL_NTOK}, 1))
         + 0.2 * least((CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1)) * 4.0, 1.0)
         + 0.2 * (1.0 - least(({_SQL_PUNCT}) * 4.0, 1.0)) AS quality
    FROM documents
"""


_TEXT_LANGID_SQL = f"""
    SELECT lang, guess, count(*) AS n FROM (
        SELECT lang,
               CASE WHEN CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1) >= 0.05
                    THEN 'en_like'
                    WHEN {_SQL_PUNCT} > 0.2 THEN 'symbolic'
                    ELSE 'unknown' END AS guess
        FROM documents)
    GROUP BY lang, guess ORDER BY lang, guess
"""


_TEXT_FP_SQL = f"""
    SELECT doc_id,
           list_reduce([CAST(0 AS BIGINT)] + list_transform(string_split(text, ''), ch -> CAST(ascii(ch) AS BIGINT)),
                       (h, c) -> (h * {T.FP_BASE} + c) % {T.FP_MOD}) AS fp
    FROM documents
"""


_TEXT_BPE_SQL = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS BIGINT) AS n_pieces,
           CAST(len(list_distinct(regexp_extract_all(text, '{T.BPE_PATTERN}'))) AS BIGINT)
             AS n_uniq_pieces
    FROM documents
"""


_SQL_QUALITY = f"""(
    0.3 * least({_SQL_NTOK} / 64.0, 1.0)
  + 0.3 * (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE) / greatest({_SQL_NTOK}, 1))
  + 0.2 * least((CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1)) * 4.0, 1.0)
  + 0.2 * (1.0 - least(({_SQL_PUNCT}) * 4.0, 1.0)))"""

_QUALITY_BY_SOURCE_SQL = f"""
    SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(CAST(sum(CAST(floor({_SQL_QUALITY} * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS DOUBLE) / 1000000.0 AS quality_sum
    FROM documents GROUP BY source ORDER BY source
"""


_BIGRAMS_SQL = f"""
    SELECT bigram, count(*) AS n FROM (
        SELECT unnest({_sql_word_shingles_all(2)}) AS bigram FROM documents)
    GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 15
"""


_PMI_SQL = f"""
    WITH uni AS MATERIALIZED (
        SELECT w, count(*) AS c FROM (
            SELECT unnest({_SQL_TOKENS}) AS w FROM documents) GROUP BY w),
    tot AS MATERIALIZED (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uni),
    big AS MATERIALIZED (
        SELECT bigram, count(*) AS c_xy,
               string_split(bigram, ' ')[1] AS w1,
               string_split(bigram, ' ')[2] AS w2
        FROM (SELECT unnest({_sql_word_shingles_all(2)}) AS bigram FROM documents)
        GROUP BY bigram HAVING count(*) >= 3)
    SELECT bigram, CAST(c_xy AS BIGINT) AS c_xy,
           CAST((c_xy * 1000000 * n_tok) // (u1.c * u2.c) AS BIGINT) AS pmi_micro
    FROM big JOIN uni u1 ON big.w1 = u1.w
             JOIN uni u2 ON big.w2 = u2.w
             CROSS JOIN tot
    ORDER BY pmi_micro DESC, bigram ASC LIMIT 40
"""


_MIXTURE_SQL = """
    WITH tgt(lang, t_pct) AS (
        VALUES ('en', 50), ('de', 15), ('fr', 15), ('es', 10), ('zh', 10)),
    act AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
    tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM act)
    SELECT a.lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(t_pct, 0) AS INT) AS t_pct,
           CAST((coalesce(t_pct, 0) * n_total * 1000000) // (100 * n_docs)
                AS BIGINT) AS weight_micro,
           CAST(least(n_docs, (200 * coalesce(t_pct, 0)) // 100) AS BIGINT)
             AS take_at_200,
           n_docs < (200 * coalesce(t_pct, 0)) // 100 AS deficit
    FROM act a LEFT JOIN tgt ON a.lang = tgt.lang CROSS JOIN tot
    ORDER BY a.lang
"""


_DSIR_SQL = f"""
    WITH bg AS MATERIALIZED (
        SELECT doc_id, (lang = 'en') AS is_target,
               ('0x' || substring(md5('dsir|' || bigram), 1, 8))::BIGINT
                   % 4096 AS b
        FROM (SELECT doc_id, lang,
                     unnest({_sql_word_shingles_all(2)}) AS bigram
              FROM documents)),
    bc AS MATERIALIZED (
        SELECT b, count(*) AS r_cnt,
               CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                   AS t_cnt
        FROM bg GROUP BY b),
    tot AS MATERIALIZED (
        SELECT CAST(sum(r_cnt) AS BIGINT) AS r_tot,
               CAST(sum(t_cnt) AS BIGINT) AS t_tot FROM bc),
    w AS MATERIALIZED (
        SELECT b,
               CAST(round(1e6 * ln(
                   (CAST(t_cnt + 1 AS DOUBLE) * CAST(r_tot + 4096 AS DOUBLE))
                   / (CAST(r_cnt + 1 AS DOUBLE)
                      * CAST(t_tot + 4096 AS DOUBLE)))) AS BIGINT) AS w_micro
        FROM bc CROSS JOIN tot),
    pd AS MATERIALIZED (
        SELECT doc_id, is_target,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(w_micro) AS BIGINT) AS logw_micro
        FROM bg JOIN w USING (b) GROUP BY doc_id, is_target),
    g AS (
        SELECT doc_id, is_target, n_bigrams, logw_micro,
               CAST(round(1e6 * -ln(-ln(
                   (('0x' || substring(md5('dsirg|' || CAST(doc_id AS VARCHAR)),
                     1, 8))::BIGINT + 0.5) / 4294967296.0))) AS BIGINT)
                   AS gumbel_micro
        FROM pd)
    SELECT doc_id, is_target, n_bigrams, logw_micro, gumbel_micro,
           logw_micro + gumbel_micro AS score_micro
    FROM g ORDER BY score_micro DESC, doc_id LIMIT 50
"""


_DOCS_TOPTERMS_SQL = f"""
    SELECT term, CAST(count(*) AS BIGINT) AS doc_freq FROM (
        SELECT doc_id, unnest(list_distinct({_SQL_TOKENS})) AS term FROM documents)
    GROUP BY term ORDER BY doc_freq DESC, term ASC LIMIT 20
"""


_REPETITION_SQL = f"""
    SELECT doc_id, n_shingles, n_uniq_shingles,
           CASE WHEN n_shingles > 0
                THEN 1.0 - CAST(n_uniq_shingles AS DOUBLE) / n_shingles
                ELSE 0.0 END AS dup_ratio
    FROM (
        SELECT doc_id,
               CAST(len({_sql_word_shingles_all(3)}) AS BIGINT) AS n_shingles,
               CAST(len(list_distinct({_sql_word_shingles_all(3)})) AS BIGINT)
                 AS n_uniq_shingles
        FROM documents)
"""


_LENGTH_HIST_SQL = f"""
    SELECT CAST(floor({_SQL_NTOK} / 10) * 10 AS BIGINT) AS bin_lo,
           count(*) AS n_docs
    FROM documents GROUP BY bin_lo ORDER BY bin_lo
"""


_TFIDF_SQL = f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf, df,
               tf * (n_docs + 1.0) / (df + 1.0) AS score
        FROM tf JOIN df USING (term) CROSS JOIN n),
    r AS (SELECT doc_id, term, tf, df,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score DESC, term ASC) AS rnk
          FROM scored)
    SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term,
           CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df
    FROM r WHERE rnk <= 3
"""


_LM_SCORE_SQL = f"""
    WITH tok AS (SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents),
    counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    total AS (SELECT sum(cnt) AS total FROM counts),
    term_surp AS (
        SELECT term,
               CAST(round(1e6 * log2(CAST(total AS DOUBLE) / cnt)) AS BIGINT)
                 AS surp_micro
        FROM counts CROSS JOIN total)
    SELECT doc_id,
           count(*) AS n_tokens,
           CAST(sum(surp_micro) AS BIGINT) AS bits_micro,
           CAST(sum(surp_micro) AS DOUBLE) / count(*) / 1e6 AS avg_bits
    FROM tok JOIN term_surp USING (term)
    GROUP BY doc_id ORDER BY doc_id
"""


_CLASSIFY_SQL = f"""
    WITH w AS (
        SELECT doc_id,
               CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens,
               CAST(list_sum(list_transform({_SQL_TOKENS},
                    t -> ('0x' || substring(md5('w|' || t), 1, 8))::BIGINT
                         % 2001 - 1000)) AS BIGINT) AS wsum
        FROM documents)
    SELECT doc_id, n_tokens,
           CAST(wsum AS DOUBLE) / n_tokens AS logit,
           CAST(wsum AS DOUBLE) / n_tokens > 0 AS label
    FROM w
"""


def _chunk_overlap_sql(chunk_tokens: int = 32, stride: int = 24) -> str:
    return f"""
        WITH tk AS MATERIALIZED (
            SELECT doc_id, {_SQL_TOKENS} AS toks,
                   CAST(len({_SQL_TOKENS}) AS BIGINT) AS n
            FROM documents
            WHERE text IS NOT NULL),
        st AS (
            SELECT doc_id, toks, n,
                   unnest(range(0, greatest(n, 1), {stride})) AS start
            FROM tk)
        SELECT doc_id,
               CAST(start // {stride} AS BIGINT) AS chunk_id,
               CAST(start AS BIGINT) AS start,
               CAST(start + least({chunk_tokens}, n - start) AS BIGINT) AS "end",
               CAST(least({chunk_tokens}, n - start) AS BIGINT) AS n_chunk_tokens,
               md5(array_to_string(
                   toks[CAST(start + 1 AS BIGINT)
                        : CAST(start + least({chunk_tokens}, n - start) AS BIGINT)],
                   ' ')) AS chunk_digest
        FROM st ORDER BY doc_id, chunk_id
    """


def _train_classifier_sql(dim: int = 32, iters: int = 4) -> str:
    width = dim + 1
    fsums = ", ".join(
        f"CAST(sum(CASE WHEN b = {j} THEN 1 ELSE 0 END) AS BIGINT) AS f{j}"
        for j in range(dim)
    )
    farr = "[" + ", ".join(f"f{j}" for j in range(dim)) + ", CAST(1 AS BIGINT)]"
    zeros = "[" + ", ".join(["CAST(0 AS BIGINT)"] * width) + "]"
    mfold = f"list_sum(list_transform(range(1, {width + 1}), i -> f[i] * w[i]))"
    ctes = [
        f"""tok AS MATERIALIZED (
            SELECT doc_id AS id,
                   ('0x' || substring(md5('pc|' || tok), 1, 8))::BIGINT % {dim} AS b
            FROM (SELECT doc_id, unnest({_SQL_TOKENS}) AS tok FROM documents))""",
        f"fx AS MATERIALIZED (SELECT id, {fsums} FROM tok GROUP BY id)",
        f"""ex AS MATERIALIZED (
            SELECT fx.id, {farr} AS f,
                   CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
            FROM fx JOIN documents ON fx.id = documents.doc_id)""",
        f"w0 AS MATERIALIZED (SELECT {zeros} AS w)",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""g{t} AS MATERIALIZED (
            SELECT list(CAST(coalesce(g, 0) AS BIGINT) ORDER BY j) AS gl FROM
                (SELECT grid.j, s.g
                 FROM (SELECT unnest(range(1, {width + 1})) AS j) grid
                 LEFT JOIN (
                     SELECT j, sum(y * f[j]) AS g
                     FROM ex CROSS JOIN w{t - 1}
                     CROSS JOIN (SELECT unnest(range(1, {width + 1})) AS j)
                     WHERE y * ({mfold}) <= 0
                     GROUP BY j) s ON grid.j = s.j))""")
        ctes.append(f"""w{t} AS MATERIALIZED (
            SELECT list_transform(range(1, {width + 1}),
                                  i -> w[i] + gl[i]) AS w
            FROM w{t - 1} CROSS JOIN g{t})""")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT y, ({mfold}) > 0 AS pred_pos, count(*) AS n
    FROM ex CROSS JOIN w{iters}
    GROUP BY y, pred_pos ORDER BY y, pred_pos
"""


def _countmin_sql(depth: int = 4, width: int = 64) -> str:
    rows = ", ".join(f"({d})" for d in range(depth))
    pos = (
        "('0x' || substring(md5(concat(CAST(d.row AS VARCHAR), '|', term)), 1, 8))::BIGINT"
        f" % {width}"
    )
    return f"""
        WITH tok AS (
            SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
        sketch AS (
            SELECT row, pos, count(*) AS cnt FROM (
                SELECT d.row AS row, {pos} AS pos
                FROM tok, (VALUES {rows}) d(row)) u
            GROUP BY row, pos),
        top AS (
            SELECT term, count(*) AS true_count FROM tok
            GROUP BY term ORDER BY true_count DESC, term ASC LIMIT 10),
        probe AS (
            SELECT term, true_count, d.row AS row, {pos} AS pos
            FROM top, (VALUES {rows}) d(row))
        SELECT term, true_count, min(coalesce(cnt, 0)) AS est_count
        FROM probe LEFT JOIN sketch USING (row, pos)
        GROUP BY term, true_count
        ORDER BY true_count DESC, term ASC
    """


_BPE_TRAINED_SQL = f"""
    WITH vocab AS (
        SELECT DISTINCT word
        FROM (SELECT unnest({_SQL_TOKENS}) AS word FROM documents)
        WHERE word <> '')
    SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
           CAST(count(*) AS BIGINT) AS n_reconstruct_ok,
           CAST(count(*) AS BIGINT) AS n_bounds_ok,
           CAST(12 AS BIGINT) AS n_merges
    FROM vocab
"""


_HEAVY_HITTERS_SQL = f"""
    WITH tok AS (SELECT unnest({_SQL_TOKENS}) AS term FROM documents),
    n AS (SELECT count(*) AS total FROM tok)
    SELECT term, count(*) AS cnt
    FROM tok CROSS JOIN n
    GROUP BY term, total
    HAVING count(*) >= CAST(ceil(0.02 * total) AS BIGINT)
    ORDER BY cnt DESC, term ASC
"""


_DOCS_SHUFFLE_SQL = """
    SELECT doc_id, pos FROM (
        SELECT doc_id,
               CAST(row_number() OVER (
                   ORDER BY ('0x' || substring(md5(concat('shuffle|13|',
                       CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT ASC,
                   doc_id ASC) AS BIGINT) AS pos
        FROM documents)
    WHERE pos % 25 = 1 ORDER BY pos
"""


def _sample_stratified_sql() -> str:
    cases = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(doc_id) AS BIGINT) AS id_sig,
               CAST(sum(n_chars) AS BIGINT) AS chars_sig
        FROM (SELECT lang, doc_id, n_chars,
                     ('0x' || substring(md5(concat('sample|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 10000 AS b
              FROM documents)
        WHERE b < CASE lang {cases} ELSE 10000 END
        GROUP BY lang ORDER BY lang
    """


def _corpus_mix_sql() -> str:
    base = " ".join(
        f"WHEN '{s}' THEN {num // den}" for s, (num, den) in sorted(_MIX_WEIGHTS.items())
    )
    rem = " ".join(
        f"WHEN '{s}' THEN {num % den}" for s, (num, den) in sorted(_MIX_WEIGHTS.items())
    )
    den = " ".join(
        f"WHEN '{s}' THEN {d}" for s, (_, d) in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
        WITH c AS (
            SELECT lang, doc_id,
                   (CASE lang {base} ELSE 1 END)
                   + CASE WHEN ('0x' || substring(md5(concat('mix|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
                               % (CASE lang {den} ELSE 1 END)
                              < (CASE lang {rem} ELSE 0 END)
                          THEN 1 ELSE 0 END AS copies
            FROM documents),
        m AS (
            SELECT lang, doc_id, unnest(range(copies)) AS epoch
            FROM c WHERE copies > 0)
        SELECT lang, count(*) AS n_rows,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(max(epoch) AS BIGINT) AS max_epoch,
               CAST(sum(doc_id * (epoch + 1)) AS BIGINT) AS mult_sig
        FROM m GROUP BY lang ORDER BY lang
    """


_DOCS_SPLIT_SQL = """
    SELECT split, lang, count(*) AS n_docs, avg(n_chars) AS avg_chars FROM (
        SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
               lang, n_chars
        FROM (SELECT ('0x' || substring(md5(concat('split|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT % 100 AS b,
                     lang, n_chars
              FROM documents))
    GROUP BY split, lang ORDER BY split, lang
"""


_DOCS_SAMPLE_SQL = """
    SELECT lang, rk, doc_id, n_chars FROM (
        SELECT lang, doc_id, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(concat('sample|', CAST(doc_id AS VARCHAR))) ASC,
                            doc_id ASC) AS BIGINT) AS rk
        FROM documents)
    WHERE rk <= 10 ORDER BY lang, rk
"""


_DOCS_SAMPLE_WEIGHTED_SQL = f"""
    SELECT doc_id, quality FROM (
        SELECT doc_id,
               0.3 * least({_SQL_NTOK} / 64.0, 1.0)
             + 0.3 * (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE)
                        / greatest({_SQL_NTOK}, 1))
             + 0.2 * least((CAST({_SQL_STOP} AS DOUBLE)
                        / greatest({_SQL_NTOK}, 1)) * 4.0, 1.0)
             + 0.2 * (1.0 - least(({_SQL_PUNCT}) * 4.0, 1.0)) AS quality,
               ('0x' || substring(md5(concat('wsample|', CAST(doc_id AS VARCHAR))), 1, 8))::BIGINT
                 / 4294967296.0 AS u
        FROM documents)
    WHERE u < quality ORDER BY doc_id
"""


def _docs_novelty_sql() -> str:
    return f"""
        WITH sh AS MATERIALIZED (
            SELECT doc_id, unnest({_sql_word_shingles(3)}) AS sh
            FROM documents),
        dfc AS MATERIALIZED (
            SELECT sh, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY sh)
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unique,
               CAST(CAST(sum(CASE WHEN d.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS DOUBLE)
                   / CAST(count(*) AS BIGINT) AS novelty
        FROM sh s JOIN dfc d ON d.sh = s.sh
        GROUP BY s.doc_id
    """


_DECONTAM_SQL = f"""
    WITH ev AS (
        SELECT DISTINCT unnest({_sql_word_shingles(3)}) AS s
        FROM documents WHERE doc_id % 23 = 0
    ),
    tr AS (
        SELECT doc_id, unnest({_sql_word_shingles(3)}) AS s
        FROM documents WHERE doc_id % 23 <> 0
    )
    SELECT tr.doc_id, count(*) AS n_contaminated
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id
"""


def _cross_minhash_sql(
    num_hashes: int = 8, bands: int = 2, k: int = 3, thr: float = 0.12
) -> str:
    r = num_hashes // bands
    mins = _sql_minhash_mins(num_hashes)
    band_keys = ", ".join(
        "concat_ws('_', " + ", ".join(f"m{b * r + j}" for j in range(r)) + f") AS bk{b}"
        for b in range(bands)
    )

    def chain(name: str, where: str) -> str:
        band_union = " UNION ALL ".join(
            f"SELECT mh_id, {b} AS band, bk{b} AS band_key FROM sigs_{name}"
            for b in range(bands)
        )
        return f"""
        sh_{name} AS (
            SELECT mh_id, shingles FROM (
                SELECT doc_id AS mh_id, {_sql_word_shingles(k)} AS shingles
                FROM documents WHERE {where})
            WHERE len(shingles) > 0),
        sig0_{name} AS (SELECT mh_id, shingles, {mins} FROM sh_{name}),
        sigs_{name} AS (SELECT *, {band_keys} FROM sig0_{name}),
        bk_{name} AS ({band_union})"""

    return f"""
        WITH {chain("a", "doc_id % 23 <> 0")},
        {chain("b", "doc_id % 23 = 0")},
        cand AS (
            SELECT DISTINCT a.mh_id AS id_a, b.mh_id AS id_b
            FROM bk_a a JOIN bk_b b
              ON a.band = b.band AND a.band_key = b.band_key)
        SELECT id_a, id_b, jaccard FROM (
            SELECT id_a, id_b,
                   CAST(len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))) AS DOUBLE)
                     / (len(sa.shingles) + len(sb.shingles)
                        - len(list_filter(sa.shingles, s -> list_contains(sb.shingles, s))))
                     AS jaccard
            FROM cand
            JOIN sh_a sa ON sa.mh_id = id_a
            JOIN sh_b sb ON sb.mh_id = id_b)
        WHERE jaccard >= {thr}
        ORDER BY id_a, id_b
    """


_PACK_SQL = f"""
    SELECT doc_id, bucket, n_tokens, tok_offset,
           CAST(floor(tok_offset / 256.0) AS BIGINT) AS seq_first,
           CAST(floor((tok_offset + greatest(n_tokens, 1) - 1) / 256.0) AS BIGINT)
             AS seq_last
    FROM (
        SELECT doc_id, doc_id % 8 AS bucket,
               CAST({_SQL_NTOK} AS BIGINT) AS n_tokens,
               CAST(COALESCE(SUM(CAST({_SQL_NTOK} AS BIGINT)) OVER (
                   PARTITION BY doc_id % 8 ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS tok_offset
        FROM documents)
"""


_PACK_CHUNKS_SQL = f"""
    WITH p AS ({_PACK_SQL}),
    x AS (
        SELECT bucket, tok_offset, n_tokens,
               unnest(range(seq_first, seq_last + 1)) AS seq
        FROM p),
    c AS (
        SELECT bucket, seq,
               least(tok_offset + n_tokens, seq * 256 + 256)
                 - greatest(tok_offset, seq * 256) AS contrib
        FROM x)
    SELECT bucket, seq, count(*) AS n_docs, CAST(sum(contrib) AS BIGINT) AS chunk_tokens
    FROM c WHERE contrib > 0
    GROUP BY bucket, seq ORDER BY bucket, seq
"""


_QUALITY_FILTER_SQL = f"""
    SELECT doc_id, too_short, too_long, low_stop, high_punct, low_uniq,
           NOT (too_short OR too_long OR low_stop OR high_punct OR low_uniq)
             AS keep
    FROM (
        SELECT doc_id,
               ({_SQL_NTOK} < {C.MIN_TOKENS}) AS too_short,
               ({_SQL_NTOK} > {C.MAX_TOKENS}) AS too_long,
               (CAST({_SQL_STOP} AS DOUBLE) / greatest({_SQL_NTOK}, 1)
                  < {C.MIN_STOPWORD_RATIO}) AS low_stop,
               (({_SQL_PUNCT}) > {C.MAX_PUNCT_RATIO}) AS high_punct,
               (CAST(len(list_distinct({_SQL_TOKENS})) AS DOUBLE)
                  / greatest({_SQL_NTOK}, 1) < {C.MIN_UNIQ_RATIO}) AS low_uniq
        FROM documents)
"""


_REDACT_SQL = f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{C.MASK_PATTERN}')) AS BIGINT)
             AS n_masked,
           CAST(length(regexp_replace(text, '{C.MASK_PATTERN}', '{C.MASK_TOKEN}', 'g'))
             AS BIGINT) AS red_len,
           md5(regexp_replace(text, '{C.MASK_PATTERN}', '{C.MASK_TOKEN}', 'g'))
             AS red_md5
    FROM documents
"""


ORACLE: dict[str, str] = {
    "text_stats": _TEXT_STATS_SQL,
    "text_quality": _TEXT_QUALITY_SQL,
    "text_langid": _TEXT_LANGID_SQL,
    "text_fingerprint": _TEXT_FP_SQL,
    "text_bpe_stats": _TEXT_BPE_SQL,
    "docs_chunk_overlap": _chunk_overlap_sql(),
    "docs_topterms": _DOCS_TOPTERMS_SQL,
    "docs_bigrams": _BIGRAMS_SQL,
    "docs_pmi": _PMI_SQL,
    "docs_mixture_weights": _MIXTURE_SQL,
    "docs_dsir_sample": _DSIR_SQL,
    "docs_train_classifier": _train_classifier_sql(),
    "docs_quality_by_source": _QUALITY_BY_SOURCE_SQL,
    "docs_shuffle_order": _DOCS_SHUFFLE_SQL,
    "docs_train_split": _DOCS_SPLIT_SQL,
    "docs_downsample_stratified": _sample_stratified_sql(),
    "docs_corpus_mix": _corpus_mix_sql(),
    "docs_sample_stratified": _DOCS_SAMPLE_SQL,
    "docs_sample_weighted": _DOCS_SAMPLE_WEIGHTED_SQL,
    "docs_decontaminate": _DECONTAM_SQL,
    "docs_decontaminate_lsh": _cross_minhash_sql(),
    "docs_pack_sequences": _PACK_SQL,
    "docs_pack_chunks": _PACK_CHUNKS_SQL,
    "docs_quality_filter": _QUALITY_FILTER_SQL,
    "text_redact": _REDACT_SQL,
    "text_repetition": _REPETITION_SQL,
    "docs_length_hist": _LENGTH_HIST_SQL,
    "docs_tfidf": _TFIDF_SQL,
    "text_countmin": _countmin_sql(),
    "text_heavy_hitters": _HEAVY_HITTERS_SQL,
    "text_bpe_trained": _BPE_TRAINED_SQL,
    "text_lm_score": _LM_SCORE_SQL,
    "docs_classify": _CLASSIFY_SQL,
    "docs_novelty": _docs_novelty_sql(),
}
