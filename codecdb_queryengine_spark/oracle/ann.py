"""DuckDB oracle text for the vector and embedding scenarios
(queries/ann.py): the cosine folds, quantizer assignments and Lloyd
training replays each serve is gated against.
"""

from __future__ import annotations

from codecdb_queryengine_spark.oracle.fragments import (
    _sql_band_sig,
    _sql_dot,
    _sql_round_ratio,
)
from codecdb_queryengine_spark.queries.ann import (
    _COARSE_NPROBE,
    _COARSE_R,
    _CURVE_NPROBES,
    _CURVE_RS,
    _LSH_SHORT_BANDS,
    _LSH_SHORT_PPB,
    _RECALL_K,
    _RERANK_R,
    _UPS_DEL,
    _UPS_UPD,
)
from codecdb_queryengine_spark.queries.scenario import _N_QUERIES, _TOP_K


# The cosine mirrors operators/similarity.cosine_pre bit-for-bit: unrolled
# left-assoc double dot + sqrt-of-dot norms, dot / (q_nrm * n_nrm).  DuckDB's
# list_cosine_similarity computes in FLOAT32 (~1e-8 off the engine's double
# fold — measured r3 driver red); the expression mirror is the same cure
# that fixed dedup_embedding in r3.
def _sim_topk_sql(k: int = _TOP_K) -> str:
    return f"""
    WITH nv AS (
        SELECT vec_id, embedding,
               sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
        FROM embeddings),
    pairs AS (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               ({_sql_dot('q.embedding', 'n.embedding', 64)}) / (q.nrm * n.nrm)
                 AS cosine
        FROM nv q JOIN nv n ON q.vec_id <> n.vec_id
        WHERE q.vec_id < {_N_QUERIES})
    SELECT q_id, n_id, cosine, rk FROM (
        SELECT q_id, n_id, cosine,
               CAST(row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
        FROM pairs)
    WHERE rk <= {k}
"""


_SIM_TOPK_SQL = _sim_topk_sql()


def _sq8_sql(dim: int = 64) -> str:
    q8 = (
        "list_transform({col}, x -> greatest(-127, least(127, "
        "CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT))))"
    )
    return f"""
    WITH mx AS MATERIALIZED (
        SELECT 127.0 / max(list_max(list_transform(embedding,
                   x -> abs(CAST(x AS DOUBLE))))) AS scale
        FROM embeddings),
    codes AS MATERIALIZED (
        SELECT vec_id, {q8.format(col="embedding")} AS nq
        FROM embeddings CROSS JOIN mx),
    scored AS MATERIALIZED (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                    i -> q.nq[i] * n.nq[i])) AS BIGINT) AS dot_q
        FROM codes q JOIN codes n ON n.vec_id <> q.vec_id
        WHERE q.vec_id < {_N_QUERIES})
    SELECT q_id, n_id, dot_q, rk FROM (
        SELECT q_id, n_id, dot_q,
               CAST(row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY dot_q DESC, n_id ASC) AS BIGINT) AS rk
        FROM scored)
    WHERE rk <= {_TOP_K}
"""


def _ann_sql(dim: int = 64, planes: int = 6, k: int = _TOP_K) -> str:
    def comp(p: int, d: int) -> str:
        return (
            f"(('0x' || substring(md5('{p}|{d}'), 1, 8))::BIGINT / 4294967296.0 - 0.5)"
        )

    def proj(p: int, col: str) -> str:
        return " + ".join(f"CAST({col}[{d + 1}] AS DOUBLE) * {comp(p, d)}" for d in range(dim))

    def sig(col: str) -> str:
        return " + ".join(
            f"CASE WHEN ({proj(p, col)}) >= 0 THEN {2**p} ELSE 0 END" for p in range(planes)
        )

    # cosine = unrolled-double mirror of cosine_pre (DuckDB's
    # list_cosine_similarity is FLOAT32 and version-dependent; see
    # _SIM_TOPK_SQL)
    return f"""
        WITH sigs AS (
            SELECT vec_id, embedding, CAST({sig('embedding')} AS BIGINT) AS bucket,
                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS nrm
            FROM embeddings),
        pairs AS (
            SELECT q.vec_id AS q_id, n.vec_id AS n_id,
                   ({_sql_dot('q.embedding', 'n.embedding', dim)}) / (q.nrm * n.nrm)
                     AS cosine
            FROM sigs q JOIN sigs n ON q.bucket = n.bucket AND q.vec_id <> n.vec_id
            WHERE q.vec_id < {_N_QUERIES})
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM pairs)
        WHERE rk <= {k}
    """


def _ivf_sql(
    centroid_mod: int = 29,
    nprobe: int = 2,
    dim: int = 64,
    cand_where: str = "",
    corpus: str = "embeddings",
    pre_cte: str = "",
    k: int = _TOP_K,
) -> str:
    """Mirrors operators/similarity.ivf_topk expression-for-expression:
    assignment/probe rank dot(v,c)/sqrt(dot(c,c)) and the in-list score is
    dot/(q_nrm*n_nrm) — all unrolled left-assoc double folds (DuckDB's
    list_cosine_similarity is FLOAT32; see _SIM_TOPK_SQL).  `cand_where`
    (e.g. "WHERE v.label = 1") restricts the CANDIDATE set — the filtered
    vector-search mirror: per-vector assignment commutes with the filter,
    so filtering the assign CTE equals serving over a meta-filtered lists
    scan (sim_ann_ivf_filtered).  `corpus` (+ `pre_cte` defining it)
    swaps the INDEXED side — assignment and neighbor vectors — to a
    derived table while centroids and query vectors stay on the original
    embeddings (the quantizer is fixed at build time and queries are
    external): the mutated-corpus mirror for sim_ann_ivf_upserted."""
    return f"""
        WITH {pre_cte} cents AS (
            SELECT vec_id AS c_id, embedding AS c_vec,
                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS c_norm
            FROM embeddings WHERE vec_id % {centroid_mod} = 0),
        assign AS (
            SELECT n_id, c_id FROM (
                SELECT n_id, c_id, row_number() OVER (
                           PARTITION BY n_id ORDER BY sim DESC, c_id ASC) AS r
                FROM (
                    SELECT v.vec_id AS n_id, c.c_id,
                           ({_sql_dot('v.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                    FROM {corpus} v, cents c {cand_where})) WHERE r = 1),
        probe AS (
            SELECT q_id, c_id FROM (
                SELECT q_id, c_id, row_number() OVER (
                           PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS r
                FROM (
                    SELECT q.vec_id AS q_id, c.c_id,
                           ({_sql_dot('q.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                    FROM embeddings q, cents c
                    WHERE q.vec_id < {_N_QUERIES})) WHERE r <= {nprobe}),
        nv AS (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS nrm
            FROM {corpus}),
        scored AS (
            SELECT p.q_id, a.n_id,
                   ({_sql_dot('q.embedding', 'n.embedding', dim)}) / (q.nrm * n.nrm)
                     AS cosine
            FROM probe p
            JOIN assign a ON p.c_id = a.c_id
            JOIN nv q ON q.vec_id = p.q_id
            JOIN nv n ON n.vec_id = a.n_id
            WHERE p.q_id <> a.n_id)
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {k}
    """


_UPSERTED_PRE_CTE = f"""mutated AS (
            SELECT vec_id,
                   CASE WHEN {_UPS_UPD} THEN list_reverse(embedding)
                        ELSE embedding END AS embedding
            FROM embeddings WHERE NOT {_UPS_DEL}),"""


def _recall_sql(approx_sql: str, k: int = _RECALL_K) -> str:
    """Compose the brute-force ground-truth SQL with an approximate serve's
    own oracle SQL (both at k) and replay the set intersection."""
    return f"""
        WITH exact AS ({_sim_topk_sql(k=k)}),
        approx AS ({approx_sql})
        SELECT e.q_id,
               CAST(count(a.n_id) AS BIGINT) AS hits,
               CAST(count(a.n_id) AS DOUBLE) / {float(k)} AS recall_at_{k}
        FROM exact e
        LEFT JOIN approx a ON a.q_id = e.q_id AND a.n_id = e.n_id
        GROUP BY e.q_id
    """


def _reranked_sql(short_sql: str, k: int = _TOP_K) -> str:
    """ANY (q_id, n_id)-producing shortlist SQL re-ranked by the exact
    unrolled-double cosine — mirrors exact_rerank expression-for-expression
    (same cosine fold as _SIM_TOPK_SQL, same (cosine DESC, n_id) order).
    exact_rerank dedups/self-filters arbitrary shortlists; every stage-1
    oracle below is already pair-unique and self-excluded, so the mirror
    needs no DISTINCT."""
    return f"""
        WITH short AS ({short_sql}),
        nv AS (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
            FROM embeddings)
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM (
                SELECT s.q_id, s.n_id,
                       ({_sql_dot('q.embedding', 'n.embedding', 64)})
                         / (q.nrm * n.nrm) AS cosine
                FROM short s
                JOIN nv q ON q.vec_id = s.q_id
                JOIN nv n ON n.vec_id = s.n_id))
        WHERE rk <= {k}
    """


def _ivf_coarse_short_sql(
    centroid_mod: int = 29,
    nprobe: int = _COARSE_NPROBE,
    r: int = _COARSE_R,
    dim: int = 64,
) -> str:
    """Mirror of similarity.ivf_coarse_shortlist: the same cents/assign/
    probe expressions as _ivf_sql (unrolled left-assoc folds), then the
    shortlist rank over (probe rank ASC, n_id ASC) — no vector ever joins
    in; the re-rank wrapper fetches them."""
    return f"""
        SELECT q_id, n_id FROM (
            SELECT p.q_id, a.n_id,
                   row_number() OVER (
                       PARTITION BY p.q_id
                       ORDER BY p.r ASC, a.n_id ASC) AS rr
            FROM (
                SELECT q_id, c_id, r FROM (
                    SELECT q_id, c_id, row_number() OVER (
                               PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS r
                    FROM (
                        SELECT q.vec_id AS q_id, c.c_id,
                               ({_sql_dot('q.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                        FROM embeddings q, (
                            SELECT vec_id AS c_id, embedding AS c_vec,
                                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS c_norm
                            FROM embeddings WHERE vec_id % {centroid_mod} = 0) c
                        WHERE q.vec_id < {_N_QUERIES})) WHERE r <= {nprobe}) p
            JOIN (
                SELECT n_id, c_id FROM (
                    SELECT n_id, c_id, row_number() OVER (
                               PARTITION BY n_id ORDER BY sim DESC, c_id ASC) AS rn
                    FROM (
                        SELECT v.vec_id AS n_id, c.c_id,
                               ({_sql_dot('v.embedding', 'c.c_vec', dim)}) / c.c_norm AS sim
                        FROM embeddings v, (
                            SELECT vec_id AS c_id, embedding AS c_vec,
                                   sqrt({_sql_dot('embedding', 'embedding', dim)}) AS c_norm
                            FROM embeddings WHERE vec_id % {centroid_mod} = 0) c))
                WHERE rn = 1) a ON p.c_id = a.c_id
            WHERE p.q_id <> a.n_id)
        WHERE rr <= {r}
    """


def _lsh_collision_short_sql(
    bands: int = _LSH_SHORT_BANDS,
    planes_per_band: int = _LSH_SHORT_PPB,
    r: int = _RERANK_R,
    dim: int = 64,
    stride: int = 16,
) -> str:
    """Mirror of similarity.lsh_collision_shortlist: the stride-16 band
    signatures (same unrolled projections as _sql_band_sig — the plane
    family the scaled dedup banding uses), collision counts per (q, n),
    shortlist rank over (colls DESC, n_id ASC)."""
    band_cols = ", ".join(
        f"CAST({_sql_band_sig('embedding', b * stride, planes_per_band, dim)} AS BIGINT) AS k{b}"
        for b in range(bands)
    )
    band_union = " UNION ALL ".join(
        f"SELECT bid, {b} AS band, k{b} AS band_key FROM sigs" for b in range(bands)
    )
    return f"""
        WITH sigs AS (SELECT vec_id AS bid, {band_cols} FROM embeddings),
        bkc AS ({band_union})
        SELECT q_id, n_id FROM (
            SELECT q_id, n_id,
                   row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY colls DESC, n_id ASC) AS rr
            FROM (
                SELECT q.bid AS q_id, n.bid AS n_id,
                       CAST(count(*) AS BIGINT) AS colls
                FROM bkc q
                JOIN bkc n
                  ON q.band = n.band AND q.band_key = n.band_key
                WHERE q.bid < {_N_QUERIES} AND q.bid <> n.bid
                GROUP BY q.bid, n.bid))
        WHERE rr <= {r}
    """


def _lloyd_l2(dim: int):
    """Unrolled BIGINT L2 between two `v` array columns (oracle text)."""

    def l2(a: str, b: str) -> str:
        return " + ".join(
            f"({a}.v[{j}] - {b}.v[{j}]) * ({a}.v[{j}] - {b}.v[{j}])"
            for j in range(1, dim + 1)
        )

    return l2


def _lloyd_train_ctes(
    dim: int, k: int | None, stride: int, iters: int
) -> list[str]:
    """The CTE block every exact-Lloyd oracle shares: micro-quantized `vm`,
    stride-sample init `c0`, `iters` assign/sum/update rounds, and the final
    full-corpus `assign` — a verbatim SQL replay of
    similarity.kmeans_lloyd_micro + the literal-model argmin assignment
    (ties to the smaller c_id).  Factored so _ivf_lloyd_sql,
    _ivf_pq_lloyd_sql and _semdedup_sql can never drift from each other.
    `k=None` takes every id ≡ 0 (mod stride) as init: the mod-id sample
    of ivfpq_train_micro(centroid_mod=stride)."""
    l2 = _lloyd_l2(dim)
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    cap = "" if k is None else f" AND vec_id < {stride * k}"
    ctes = [
        f"vm AS MATERIALIZED (SELECT vec_id, [{quant}] AS v FROM embeddings)",
        f"""c0 AS MATERIALIZED (
            SELECT CAST(vec_id // {stride} AS BIGINT) AS c_id, v FROM vm
            WHERE vec_id % {stride} = 0{cap})""",
    ]
    for t in range(iters):
        sums = ", ".join(
            f"CAST(sum(v.v[{j}]) AS BIGINT) AS s{j}" for j in range(1, dim + 1)
        )
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL THEN c.v[{j}] "
            f"ELSE " + _sql_round_ratio(f"s.s{j}", "s.n") + " END"
            for j in range(1, dim + 1)
        )
        ctes.append(f"""a{t} AS MATERIALIZED (
            SELECT n_id, c_id FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ({l2('v', 'c')}) ASC, c.c_id ASC) AS r
                FROM vm v CROSS JOIN c{t} c) WHERE r = 1)""")
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT a.c_id, count(*) AS n, {sums}
            FROM a{t} a JOIN vm v ON v.vec_id = a.n_id GROUP BY a.c_id)""")
        ctes.append(f"""c{t + 1} AS MATERIALIZED (
            SELECT c.c_id, [{upd}] AS v
            FROM c{t} c LEFT JOIN s{t} s ON s.c_id = c.c_id)""")
    cf = f"c{iters}"
    ctes.append(f"""assign AS MATERIALIZED (
        SELECT n_id, c_id FROM (
            SELECT v.vec_id AS n_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY ({l2('v', 'c')}) ASC, c.c_id ASC) AS r
            FROM vm v CROSS JOIN {cf} c) WHERE r = 1)""")
    return ctes


def _ivf_lloyd_sql(
    dim: int = 64,
    k: int = 8,
    stride: int = 37,
    iters: int = 2,
    nprobe: int = 2,
) -> str:
    """Bit-exact SQL replay of kmeans_lloyd_micro + ivf_topk_micro."""
    l2 = _lloyd_l2(dim)
    cf = f"c{iters}"
    ctes = _lloyd_train_ctes(dim, k, stride, iters)
    ctes.append(f"""probes AS MATERIALIZED (
        SELECT q_id, c_id FROM (
            SELECT q.vec_id AS q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ({l2('q', 'c')}) ASC, c.c_id ASC) AS r
            FROM vm q CROSS JOIN {cf} c
            WHERE q.vec_id < {_N_QUERIES}) WHERE r <= {nprobe})""")
    ctes.append(f"""scored AS MATERIALIZED (
        SELECT p.q_id, a.n_id, ({l2('qv', 'nv')}) AS l2_micro2
        FROM probes p
        JOIN assign a ON a.c_id = p.c_id
        JOIN vm nv ON nv.vec_id = a.n_id
        JOIN vm qv ON qv.vec_id = p.q_id
        WHERE p.q_id <> a.n_id)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT q_id, n_id, l2_micro2, rk FROM (
            SELECT q_id, n_id, l2_micro2,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY l2_micro2 ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {_TOP_K}
    """


# Every ADC `scored` CTE casts its sum back to BIGINT: DuckDB sum(BIGINT)
# is HUGEINT, which pandas-style consumers widen to float64 — a type-level
# hash hazard even when every value matches.  The SQL comments cite this
# as the "_pq_sql note", after the oracle that first carried it; they stay
# verbatim so the Lloyd oracles' text (and its recorded hashes) is stable.
def _pq_lloyd_sql(
    dim: int = 64,
    m_sub: int = 4,
    k_codes: int = 8,
    stride: int = 37,
    iters: int = 2,
) -> str:
    """Bit-exact SQL replay of pq_codebooks_lloyd_micro + pq_topk_micro;
    at iters=0 the untrained stride-sample codebook of sim_ann_pq."""
    sub = dim // m_sub

    def l2(v: str, c: str, moff: str) -> str:
        # Σ_j (v[moff·sub + j] − c[j])² over one subspace slice
        return " + ".join(
            f"({v}.v[{moff}*{sub} + {j}] - {c}.c[{j}]) "
            f"* ({v}.v[{moff}*{sub} + {j}] - {c}.c[{j}])"
            for j in range(1, sub + 1)
        )

    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    slice_cols = ", ".join(f"v.v[ms.m*{sub} + {j}]" for j in range(1, sub + 1))
    ctes = [
        f"vm AS MATERIALIZED (SELECT vec_id, [{quant}] AS v FROM embeddings)",
        f"ms AS (SELECT unnest(range(0, {m_sub})) AS m)",
        f"""cb0 AS MATERIALIZED (
            SELECT ms.m, CAST(v.vec_id // {stride} AS BIGINT) AS c_id,
                   [{slice_cols}] AS c
            FROM vm v CROSS JOIN ms
            WHERE v.vec_id % {stride} = 0 AND v.vec_id < {stride * k_codes})""",
    ]
    for t in range(iters):
        sums = ", ".join(
            f"CAST(sum(v.v[a.m*{sub} + {j}]) AS BIGINT) AS s{j}"
            for j in range(1, sub + 1)
        )
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL THEN c.c[{j}] "
            f"ELSE " + _sql_round_ratio(f"s.s{j}", "s.n") + " END"
            for j in range(1, sub + 1)
        )
        ctes.append(f"""a{t} AS MATERIALIZED (
            SELECT n_id, m, c_id FROM (
                SELECT v.vec_id AS n_id, c.m, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id, c.m
                           ORDER BY ({l2('v', 'c', 'c.m')}) ASC, c.c_id ASC) AS r
                FROM vm v CROSS JOIN cb{t} c) WHERE r = 1)""")
        ctes.append(f"""s{t} AS MATERIALIZED (
            SELECT a.m, a.c_id, count(*) AS n, {sums}
            FROM a{t} a JOIN vm v ON v.vec_id = a.n_id GROUP BY a.m, a.c_id)""")
        ctes.append(f"""cb{t + 1} AS MATERIALIZED (
            SELECT c.m, c.c_id, [{upd}] AS c
            FROM cb{t} c LEFT JOIN s{t} s ON s.m = c.m AND s.c_id = c.c_id)""")
    cf = f"cb{iters}"
    ctes.append(f"""codes AS MATERIALIZED (
        SELECT n_id, m, c_id FROM (
            SELECT v.vec_id AS n_id, c.m, c.c_id,
                   row_number() OVER (
                       PARTITION BY v.vec_id, c.m
                       ORDER BY ({l2('v', 'c', 'c.m')}) ASC, c.c_id ASC) AS r
            FROM vm v CROSS JOIN {cf} c) WHERE r = 1)""")
    ctes.append(f"""adc AS MATERIALIZED (
        SELECT q.vec_id AS q_id, c.m, c.c_id,
               ({l2('q', 'c', 'c.m')}) AS contrib
        FROM vm q CROSS JOIN {cf} c
        WHERE q.vec_id < {_N_QUERIES})""")
    ctes.append("""scored AS MATERIALIZED (
        -- CAST: DuckDB sum(BIGINT) is HUGEINT (see _pq_sql note)
        SELECT a.q_id, cd.n_id, CAST(sum(a.contrib) AS BIGINT) AS adc_q
        FROM codes cd
        JOIN adc a ON a.m = cd.m AND a.c_id = cd.c_id
        WHERE a.q_id <> cd.n_id
        GROUP BY a.q_id, cd.n_id)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT q_id, n_id, adc_q, rk FROM (
            SELECT q_id, n_id, adc_q,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY adc_q ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {_TOP_K}
    """


def _ivf_pq_lloyd_ctes(
    dim: int = 64,
    k_coarse: int = 8,
    stride: int = 37,
    iters: int = 2,
    nprobe: int | None = 2,
    m_sub: int = 4,
    k_codes: int = 8,
    mutated: bool = False,
    cand_filter: str = "",
    centroid_mod: int | None = None,
) -> list[str]:
    """The CTEs of the ivf_pq_topk_lloyd_micro replay, through `scored`
    (q_id, n_id[, pr], adc_q): coarse Lloyd (_lloyd_train_ctes) →
    residuals → per-subspace residual Lloyd → encode → probes → ADC.
    `centroid_mod` swaps the coarse init to the mod-id sample
    (ivfpq_train_micro(centroid_mod=...)); `nprobe=None` probes every
    list and carries each candidate's 1-based probe rank `pr` into
    `scored` (the all-lists relation of the operating curve)."""
    sub = dim // m_sub
    l2full = _lloyd_l2(dim)

    def l2res(r: str, c: str, moff: str) -> str:
        return " + ".join(
            f"({r}.r[{moff}*{sub} + {j}] - {c}.c[{j}]) "
            f"* ({r}.r[{moff}*{sub} + {j}] - {c}.c[{j}])"
            for j in range(1, sub + 1)
        )

    def pr(t: str) -> str:
        return f" {t}.pr," if nprobe is None else ""

    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    resid = ", ".join(f"v.v[{j}] - c.v[{j}]" for j in range(1, dim + 1))
    rslice = ", ".join(f"r.r[ms.m*{sub} + {j}]" for j in range(1, sub + 1))
    if centroid_mod:
        ctes = _lloyd_train_ctes(dim, None, centroid_mod, iters)
    else:
        ctes = _lloyd_train_ctes(dim, k_coarse, stride, iters)
    if mutated:
        # the sim_ann_ivfpq_upserted corpus: quantizers stay trained on the
        # ORIGINAL vm (fixed at build time — same contract as the flat-IVF
        # upsert oracle), only the ENCODED side swaps to this CTE
        ctes.insert(2, f"""vm_m AS MATERIALIZED (
            SELECT vec_id, [{quant}] AS v FROM (
                SELECT vec_id,
                       CASE WHEN {_UPS_UPD} THEN list_reverse(embedding)
                            ELSE embedding END AS embedding
                FROM embeddings WHERE NOT {_UPS_DEL}))""")
    cf = f"c{iters}"
    ctes.append(f"""res AS MATERIALIZED (
        SELECT a.n_id, a.c_id AS c_list, [{resid}] AS r
        FROM assign a
        JOIN vm v ON v.vec_id = a.n_id
        JOIN {cf} c ON c.c_id = a.c_id)""")
    if mutated:
        # mutated-corpus residuals feed ONLY the final `codes` CTE — the
        # residual-codebook training below keeps reading the original res
        ctes.append(f"""assign_m AS MATERIALIZED (
            SELECT n_id, c_id FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ({l2full('v', 'c')}) ASC, c.c_id ASC) AS r
                FROM vm_m v CROSS JOIN {cf} c) WHERE r = 1)""")
        ctes.append(f"""res_m AS MATERIALIZED (
            SELECT a.n_id, a.c_id AS c_list, [{resid}] AS r
            FROM assign_m a
            JOIN vm_m v ON v.vec_id = a.n_id
            JOIN {cf} c ON c.c_id = a.c_id)""")
    ctes.append(f"ms AS (SELECT unnest(range(0, {m_sub})) AS m)")
    ctes.append(f"""rcb0 AS MATERIALIZED (
        SELECT ms.m, CAST(r.n_id // {stride} AS BIGINT) AS c_id,
               [{rslice}] AS c
        FROM res r CROSS JOIN ms
        WHERE r.n_id % {stride} = 0 AND r.n_id < {stride * k_codes})""")
    # residual Lloyd rounds (the _pq_lloyd_sql recurrence, over res)
    for t in range(iters):
        sums = ", ".join(
            f"CAST(sum(v.r[a.m*{sub} + {j}]) AS BIGINT) AS s{j}"
            for j in range(1, sub + 1)
        )
        upd = ", ".join(
            f"CASE WHEN s.n IS NULL THEN c.c[{j}] "
            f"ELSE " + _sql_round_ratio(f"s.s{j}", "s.n") + " END"
            for j in range(1, sub + 1)
        )
        ctes.append(f"""ra{t} AS MATERIALIZED (
            SELECT n_id, m, c_id FROM (
                SELECT r.n_id, c.m, c.c_id,
                       row_number() OVER (
                           PARTITION BY r.n_id, c.m
                           ORDER BY ({l2res('r', 'c', 'c.m')}) ASC, c.c_id ASC) AS rr
                FROM res r CROSS JOIN rcb{t} c) WHERE rr = 1)""")
        ctes.append(f"""rs{t} AS MATERIALIZED (
            SELECT a.m, a.c_id, count(*) AS n, {sums}
            FROM ra{t} a JOIN res v ON v.n_id = a.n_id GROUP BY a.m, a.c_id)""")
        ctes.append(f"""rcb{t + 1} AS MATERIALIZED (
            SELECT c.m, c.c_id, [{upd}] AS c
            FROM rcb{t} c LEFT JOIN rs{t} s ON s.m = c.m AND s.c_id = c.c_id)""")
    rcf = f"rcb{iters}"
    enc_src = "res_m" if mutated else "res"
    # candidate filter (sim_ann_ivfpq_filtered): per-vector encoding
    # commutes with a metadata predicate, so filtering the codes CTE
    # equals serving over a meta-filtered codes scan
    cj = f"JOIN embeddings e ON e.vec_id = r.n_id" if cand_filter else ""
    cw = f"WHERE {cand_filter}" if cand_filter else ""
    ctes.append(f"""codes AS MATERIALIZED (
        SELECT n_id, c_list, m, c_id AS pq_c FROM (
            SELECT r.n_id, r.c_list, c.m, c.c_id,
                   row_number() OVER (
                       PARTITION BY r.n_id, c.m
                       ORDER BY ({l2res('r', 'c', 'c.m')}) ASC, c.c_id ASC) AS rr
            FROM {enc_src} r {cj} CROSS JOIN {rcf} c {cw}) WHERE rr = 1)""")
    if nprobe is None:
        probe_cols, cut = "q_id, c_id AS c_list, r AS pr", ""
    else:
        probe_cols, cut = "q_id, c_id AS c_list", f" WHERE r <= {nprobe}"
    ctes.append(f"""probes AS MATERIALIZED (
        SELECT {probe_cols} FROM (
            SELECT q.vec_id AS q_id, c.c_id,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY ({l2full('q', 'c')}) ASC, c.c_id ASC) AS r
            FROM vm q CROSS JOIN {cf} c
            WHERE q.vec_id < {_N_QUERIES}){cut})""")
    ctes.append(f"""qres AS MATERIALIZED (
        SELECT p.q_id, p.c_list,{pr('p')} [{resid.replace('v.v', 'q.v')}] AS r
        FROM probes p
        JOIN vm q ON q.vec_id = p.q_id
        JOIN {cf} c ON c.c_id = p.c_list)""")
    ctes.append(f"""adc AS MATERIALIZED (
        SELECT qr.q_id, qr.c_list,{pr('qr')} c.m, c.c_id AS pq_c,
               ({l2res('qr', 'c', 'c.m')}) AS contrib
        FROM qres qr CROSS JOIN {rcf} c)""")
    group_pr = ", a.pr" if nprobe is None else ""
    ctes.append(f"""scored AS MATERIALIZED (
        -- CAST: DuckDB sum(BIGINT) is HUGEINT (see _pq_sql note)
        SELECT a.q_id, cd.n_id,{pr('a')} CAST(sum(a.contrib) AS BIGINT) AS adc_q
        FROM codes cd
        JOIN adc a ON a.c_list = cd.c_list AND a.m = cd.m AND a.pq_c = cd.pq_c
        WHERE a.q_id <> cd.n_id
        GROUP BY a.q_id, cd.n_id{group_pr})""")
    return ctes


def _ivf_pq_lloyd_sql(k: int = _TOP_K, **kw) -> str:
    """Bit-exact SQL replay of ivf_pq_topk_lloyd_micro (see
    _ivf_pq_lloyd_ctes for the knobs), cut to the per-query top `k`.
    With iters=0 and centroid_mod=29 it replays the untrained IVFADC
    serve of the sim_ann_ivfpq family."""
    body = ",\n".join(_ivf_pq_lloyd_ctes(**kw))
    return f"""
        WITH {body}
        SELECT q_id, n_id, adc_q, rk FROM (
            SELECT q_id, n_id, adc_q,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY adc_q ASC, n_id ASC) AS BIGINT) AS rk
            FROM scored)
        WHERE rk <= {k}
    """


def _ivfpq_curve_sql(k: int = _RECALL_K) -> str:
    """The whole (nprobe × R) sweep of sim_ann_ivfpq_curve from ONE
    all-lists ADC relation: the untrained IVFADC replay
    (_ivf_pq_lloyd_ctes at iters=0 over the mod-29 coarse sample, every
    list probed) carries each candidate pair's probe rank `pr` in
    `scored`, so every operating point is a windowed SELECT over it
    (pr <= nprobe → ADC rank <= R → exact re-rank → recall vs exact), and
    rows_read is a filtered count of the same relation.  The re-rank is
    the _reranked_sql cosine; every shared CTE is MATERIALIZED (DuckDB
    would otherwise inline the ADC body six times)."""
    nq_k = float(_N_QUERIES * k)
    ctes = _ivf_pq_lloyd_ctes(iters=0, nprobe=None, centroid_mod=29)
    ctes += [
        "kcnt AS (SELECT CAST(count(*) AS BIGINT) AS kk FROM c0)",
        f"""nvr AS MATERIALIZED (
            SELECT vec_id, embedding,
                   sqrt({_sql_dot('embedding', 'embedding', 64)}) AS nrm
            FROM embeddings)""",
        f"exact AS MATERIALIZED ({_sim_topk_sql(k=k)})",
    ]
    points = []
    for np_req in _CURVE_NPROBES:
        cond = "TRUE" if np_req is None else f"pr <= {np_req}"
        np_out = "(SELECT kk FROM kcnt)" if np_req is None else f"CAST({np_req} AS BIGINT)"
        for r in _CURVE_RS:
            i = len(points)
            ctes += [
                f"""short{i} AS (
            SELECT q_id, n_id FROM (
                SELECT q_id, n_id, row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY adc_q ASC, n_id ASC) AS rk
                FROM scored WHERE {cond}) WHERE rk <= {r})""",
                f"""rr{i} AS (
            SELECT q_id, n_id FROM (
                SELECT q_id, n_id, row_number() OVER (
                           PARTITION BY q_id
                           ORDER BY cosine DESC, n_id ASC) AS rk
                FROM (
                    SELECT s.q_id, s.n_id,
                           ({_sql_dot('q.embedding', 'n.embedding', 64)})
                             / (q.nrm * n.nrm) AS cosine
                    FROM short{i} s
                    JOIN nvr q ON q.vec_id = s.q_id
                    JOIN nvr n ON n.vec_id = s.n_id)) WHERE rk <= {k})""",
            ]
            points.append(f"""
        SELECT {np_out} AS nprobe, CAST({r} AS BIGINT) AS r_shortlist,
               (SELECT CAST(count(*) AS BIGINT) FROM exact e
                JOIN rr{i} a ON a.q_id = e.q_id AND a.n_id = e.n_id) AS hits,
               (SELECT CAST(count(*) AS BIGINT)
                FROM scored WHERE {cond}) AS rows_read""")
    body = ",\n".join(ctes)
    union = " UNION ALL ".join(points)
    return f"""
        WITH {body}
        SELECT nprobe, r_shortlist, hits,
               CAST(hits AS DOUBLE) / {nq_k} AS recall_at_10, rows_read
        FROM ({union})
    """


def _pca_sql_ctes(iters: int = 6, dim: int = 64) -> str:
    """The shared oracle chain replaying pca_power_micro's training:
    milli quantization → integer means → centering → `iters` exact
    two-pass power rounds (HUGEINT z sums mirror the DECIMAL(38,0)
    Spark sums; the rescale's floor divisions run on non-negative
    operands on both engines)."""
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    sums = ", ".join(f"CAST(sum(v[{j}]) AS BIGINT)" for j in range(1, dim + 1))
    ctes = [
        f"vm AS MATERIALIZED (SELECT vec_id, [{quant}] AS v FROM embeddings)",
        f"st AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n, [{sums}] AS s FROM vm)",
        f"""mn AS MATERIALIZED (
            SELECT list_transform(range(1, {dim + 1}),
                i -> {_sql_round_ratio("s[i]", "n")}) AS m FROM st)""",
        f"""cen AS MATERIALIZED (
            SELECT vec_id, list_transform(range(1, {dim + 1}),
                i -> v[i] - m[i]) AS c FROM vm CROSS JOIN mn)""",
        f"""x0 AS MATERIALIZED (
            SELECT list_transform(range(1, {dim + 1}),
                i -> CAST(999999 + i AS BIGINT)) AS x)""",
    ]
    for t in range(1, iters + 1):
        ctes.append(f"""y{t} AS MATERIALIZED (
            SELECT vec_id, c,
                   list_sum(list_transform(range(1, {dim + 1}),
                       i -> c[i] * x[i])) AS y
            FROM cen CROSS JOIN x{t - 1})""")
        ctes.append(f"""z{t} AS MATERIALIZED (
            SELECT list(z ORDER BY i) AS z FROM (
                SELECT i, sum(c[i] * y) AS z
                FROM y{t} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i)
                GROUP BY i))""")
        ctes.append(f"""x{t} AS MATERIALIZED (
            SELECT list_transform(z,
                e -> CAST(CASE WHEN e >= 0 THEN e // q
                          ELSE -((-e) // q) END AS BIGINT)) AS x
            FROM (SELECT z,
                         greatest(CAST(1 AS HUGEINT),
                                  (list_max(list_transform(z, e -> abs(e)))
                                   + 999999) // 1000000) AS q
                  FROM z{t}))""")
    return ",\n    ".join(ctes)


def _pca_power_sql(iters: int = 6, dim: int = 64) -> str:
    return f"""
    WITH {_pca_sql_ctes(iters, dim)}
    SELECT CAST(i AS INT) AS dim_idx, x[i] AS comp_micro
    FROM x{iters} CROSS JOIN (SELECT unnest(range(1, {dim + 1})) AS i)
"""


def _pca_project_sql(iters: int = 6, dim: int = 64) -> str:
    return f"""
    WITH {_pca_sql_ctes(iters, dim)}
    SELECT vec_id, proj FROM (
        SELECT vec_id,
               CAST(list_sum(list_transform(range(1, {dim + 1}),
                   i -> c[i] * x[i])) AS BIGINT) AS proj
        FROM cen CROSS JOIN x{iters})
    ORDER BY abs(proj) DESC, vec_id ASC LIMIT 20
"""


def _semdedup_sql(
    dim: int = 64,
    k: int = 8,
    stride: int = 37,
    iters: int = 2,
    tau_num: int = 2,
    tau_den: int = 5,
) -> str:
    """Bit-exact SQL replay of dedup.semantic_dedup: the shared Lloyd
    train+assign CTEs, milli-quantized vectors, and the rational cosine
    test τ_den²·dot² ≥ τ_num²·|a|²·|b|² in pure BIGINT."""
    ctes = _lloyd_train_ctes(dim, k, stride, iters)
    milli = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    dot_ab = " + ".join(f"a.v3[{j}] * b.v3[{j}]" for j in range(1, dim + 1))
    n2 = " + ".join(f"v3[{j}] * v3[{j}]" for j in range(1, dim + 1))
    tn2, td2 = tau_num * tau_num, tau_den * tau_den
    ctes.append(
        f"m3 AS MATERIALIZED (SELECT vec_id, [{milli}] AS v3 FROM embeddings)"
    )
    ctes.append(f"""mem AS MATERIALIZED (
        SELECT m.vec_id, a.c_id, m.v3, CAST(({n2}) AS BIGINT) AS n2
        FROM m3 m JOIN assign a ON a.n_id = m.vec_id)""")
    ctes.append(f"""dropped AS MATERIALIZED (
        SELECT DISTINCT b.vec_id
        FROM mem a JOIN mem b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
        WHERE ({dot_ab}) > 0
          AND {td2} * ({dot_ab}) * ({dot_ab}) >= {tn2} * a.n2 * b.n2)""")
    body = ",\n".join(ctes)
    return f"""
        WITH {body}
        SELECT m.vec_id, m.c_id, d.vec_id IS NULL AS kept
        FROM mem m LEFT JOIN dropped d ON d.vec_id = m.vec_id
    """


def _label_centroids_sql(dim: int = 64) -> str:
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    return f"""
        WITH vm AS MATERIALIZED (
            SELECT CAST(label AS BIGINT) AS label, [{quant}] AS v
            FROM embeddings),
        ex AS MATERIALIZED (
            SELECT label, j, v[j] AS c
            FROM vm, (SELECT unnest(generate_series(1, {dim})) AS j))
        SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(j AS BIGINT) AS dim_idx,
               CAST(sum(c) AS BIGINT) AS s_micro,
               CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) / CAST(count(*) AS BIGINT)
                   AS mean_micro
        FROM ex GROUP BY label, j
    """


def _label_eval_sql(dim: int = 64) -> str:
    quant = ", ".join(
        f"CAST(floor(CAST(embedding[{j}] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)"
        for j in range(1, dim + 1)
    )
    sums = ", ".join(
        f"CAST(sum(v[{j}]) AS BIGINT) AS s{j}" for j in range(1, dim + 1)
    )
    upd = ", ".join(
        _sql_round_ratio(f"s{j}", "n")
        for j in range(1, dim + 1)
    )
    l2 = " + ".join(
        f"(v.v[{j}] - c.v[{j}]) * (v.v[{j}] - c.v[{j}])" for j in range(1, dim + 1)
    )
    return f"""
        WITH vm AS MATERIALIZED (
            SELECT vec_id, CAST(label AS BIGINT) AS label, [{quant}] AS v
            FROM embeddings),
        agg AS MATERIALIZED (
            SELECT label, count(*) AS n, {sums} FROM vm GROUP BY label),
        cl AS MATERIALIZED (
            SELECT label AS c_id, [{upd}] AS v FROM agg),
        pred AS MATERIALIZED (
            SELECT label, pred_label FROM (
                SELECT v.label, c.c_id AS pred_label,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY ({l2}) ASC, c.c_id ASC) AS r
                FROM vm v CROSS JOIN cl c) WHERE r = 1)
        SELECT label, pred_label, CAST(count(*) AS BIGINT) AS n_vecs
        FROM pred GROUP BY label, pred_label
    """


_EMB_ENCODE_PARITY_SQL = """
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(0 AS BIGINT) AS n_mismatch,
           CAST(0 AS BIGINT) AS n_margin_tight
    FROM embeddings WHERE embedding IS NOT NULL
"""


def _emb_stream_encode_sql(dim: int = 64, centroid_mod: int = 29) -> str:
    def dotvc(va: str, vb: str) -> str:
        return " + ".join(
            f"CAST({va}[{d + 1}] AS DOUBLE) * CAST({vb}[{d + 1}] AS DOUBLE)"
            for d in range(dim)
        )

    sim = f"({dotvc('v.embedding', 'c.c_vec')}) / sqrt({dotvc('c.c_vec', 'c.c_vec')})"
    return f"""
        WITH cents AS (
            SELECT vec_id AS c_id, embedding AS c_vec
            FROM embeddings WHERE vec_id % {centroid_mod} = 0),
        assign AS (
            SELECT n_id, c_id AS c_list FROM (
                SELECT v.vec_id AS n_id, c.c_id,
                       row_number() OVER (
                           PARTITION BY v.vec_id
                           ORDER BY {sim} DESC, c.c_id ASC) AS r
                FROM embeddings v CROSS JOIN cents c
                WHERE v.embedding IS NOT NULL) WHERE r = 1)
        SELECT c_list, count(*) AS n_vectors
        FROM assign GROUP BY c_list ORDER BY c_list
    """


ORACLE: dict[str, str] = {
    "sim_ann_sq8": _sq8_sql(),
    "sim_topk": _SIM_TOPK_SQL,
    "sim_ann_lsh": _ann_sql(),
    "sim_ann_ivf": _ivf_sql(),
    "sim_ann_ivf_indexed": _ivf_sql(),
    "sim_ann_ivf_indexed_split": _ivf_sql(),
    "sim_ann_ivf_indexed_append": _ivf_sql(),
    "sim_ann_ivf_cached": _ivf_sql(),
    "sim_ann_ivf_appended_split": _ivf_sql(),
    "sim_ann_ivf_upserted": _ivf_sql(corpus="mutated", pre_cte=_UPSERTED_PRE_CTE),
    # the drained CDC stream equals the one-batch mutation (disjoint
    # update/delete slices), so the oracle is sim_ann_ivf_upserted's verbatim
    "emb_stream_mutations": _ivf_sql(corpus="mutated", pre_cte=_UPSERTED_PRE_CTE),
    "emb_stream_pq_mutations": _ivf_pq_lloyd_sql(mutated=True),
    "sim_ann_ivf_filtered": _ivf_sql(cand_where="WHERE v.label = 1"),
    "sim_ann_pq": _pq_lloyd_sql(iters=0),
    "sim_ann_ivfpq": _ivf_pq_lloyd_sql(iters=0, centroid_mod=29),
    "sim_ann_recall_ivf": _recall_sql(_ivf_sql(k=_RECALL_K)),
    "sim_ann_recall_ivfpq": _recall_sql(
        _ivf_pq_lloyd_sql(k=_RECALL_K, iters=0, centroid_mod=29)
    ),
    "sim_ann_recall_lsh": _recall_sql(_ann_sql(k=_RECALL_K)),
    "sim_ann_ivfpq_reranked": _reranked_sql(
        _ivf_pq_lloyd_sql(k=_RERANK_R, iters=0, centroid_mod=29)
    ),
    "sim_ann_recall_ivfpq_reranked": _recall_sql(
        _reranked_sql(
            _ivf_pq_lloyd_sql(k=_RERANK_R, iters=0, centroid_mod=29), k=_RECALL_K
        )
    ),
    "sim_ann_ivf_reranked": _reranked_sql(_ivf_coarse_short_sql()),
    "sim_ann_recall_ivf_reranked": _recall_sql(
        _reranked_sql(_ivf_coarse_short_sql(), k=_RECALL_K)
    ),
    "sim_ann_lsh_reranked": _reranked_sql(_lsh_collision_short_sql()),
    "sim_ann_recall_lsh_reranked": _recall_sql(
        _reranked_sql(_lsh_collision_short_sql(), k=_RECALL_K)
    ),
    "sim_ann_ivfpq_curve": _ivfpq_curve_sql(),
    "sim_ann_ivf_lloyd": _ivf_lloyd_sql(),
    "sim_ann_ivf_lloyd_indexed": _ivf_lloyd_sql(),
    "sim_ann_pq_lloyd": _pq_lloyd_sql(),
    "sim_ann_ivfpq_lloyd": _ivf_pq_lloyd_sql(),
    "sim_ann_ivfpq_lloyd_indexed": _ivf_pq_lloyd_sql(),
    "sim_ann_ivfpq_filtered": _ivf_pq_lloyd_sql(cand_filter="e.label = 1"),
    "sim_ann_ivfpq_upserted": _ivf_pq_lloyd_sql(mutated=True),
    "dedup_semantic": _semdedup_sql(),
    "emb_encode_parity": _EMB_ENCODE_PARITY_SQL,
    "emb_label_centroids": _label_centroids_sql(),
    "emb_label_eval": _label_eval_sql(),
    "emb_pca_power": _pca_power_sql(),
    "emb_pca_project": _pca_project_sql(),
    "emb_pca_served": _pca_project_sql(),
    "emb_stream_encode": _emb_stream_encode_sql(),
    "emb_stream_encode_fast": _emb_stream_encode_sql(),
    "emb_stream_index_ingest": _ivf_sql(),
    "emb_stream_index_compact": "SELECT s.*, TRUE AS files_shrunk FROM ("
    + _ivf_sql()
    + ") s",
    "emb_stream_ivfpq_ingest": _ivf_pq_lloyd_sql(),
}
