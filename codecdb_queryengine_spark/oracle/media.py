"""DuckDB oracle text for the multimodal scenarios (queries/media.py).
"""

from __future__ import annotations

from codecdb_queryengine_spark.operators import multimodal as M
from codecdb_queryengine_spark.oracle.fragments import _sql_dot


def _mm_sql(dim: int = M.FEATURE_DIM) -> str:
    feat = ", ".join(
        f"CAST(('0x' || substring(md5(text), {2 * i + 1}, 2))::INT AS VARCHAR)"
        for i in range(dim)
    )
    return f"""
        SELECT doc_id AS media_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS digest,
               concat_ws(',', {feat}) AS feature_csv
        FROM documents
    """


def _mm_decode_real_sql() -> str:
    # pixel byte k (0-based): bytes 0..15 from md5(text), 16..23 from
    # md5(text||'x'); pixel i has channels (3i, 3i+1, 3i+2); 4x2 row-major
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::INT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::INT"

    def ch(i: int, c: int) -> str:
        return f"(CAST({byte(3 * i + c)} AS DOUBLE) / 255.0)"

    def luma(i: int) -> str:
        return f"(0.299 * {ch(i, 0)} + 0.587 * {ch(i, 1)} + 0.114 * {ch(i, 2)})"

    def mean8(terms: list) -> str:
        return "((" + " + ".join(terms) + ") / 8.0)"

    mean_r = mean8([ch(i, 0) for i in range(8)])
    mean_g = mean8([ch(i, 1) for i in range(8)])
    mean_b = mean8([ch(i, 2) for i in range(8)])
    lumas = [luma(i) for i in range(8)]
    mean_l = mean8(lumas)
    var_l = "((" + " + ".join(f"(({t}) - ml) * (({t}) - ml)" for t in lumas) + ") / 8.0)"
    # width 4, height 2: row0 px0-3, row1 px4-7 -> 6 horizontal diffs
    diffs = [f"abs({luma(i + 1)} - {luma(i)})" for i in (0, 1, 2, 4, 5, 6)]
    edge = "((" + " + ".join(diffs) + ") / 6.0)"
    return f"""
        WITH m AS (SELECT doc_id AS media_id, text, {mean_l} AS ml FROM documents)
        SELECT media_id,
               CAST(35 AS BIGINT) AS n_bytes,
               CAST(floor({mean_r} * 1000000.0 + 0.5) AS BIGINT) AS mean_r_micro,
               CAST(floor({mean_g} * 1000000.0 + 0.5) AS BIGINT) AS mean_g_micro,
               CAST(floor({mean_b} * 1000000.0 + 0.5) AS BIGINT) AS mean_b_micro,
               CAST(floor(sqrt({var_l}) * 1000000.0 + 0.5) AS BIGINT) AS luma_std_micro,
               CAST(floor({edge} * 1000000.0 + 0.5) AS BIGINT) AS edge_micro
        FROM m ORDER BY media_id
    """


def _mm_phash_sql() -> str:
    # Same byte layout as _mm_decode_real_sql: pixel i channels
    # (3i, 3i+1, 3i+2); bytes 0..15 from md5(text), 16..23 from
    # md5(text||'x'); 4×2 row-major.  Integer luma ×1000, LSB-first
    # gradient bits over horizontal neighbors (3 per row × 2 rows).
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::BIGINT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::BIGINT"

    def ilum(i: int) -> str:
        return (
            f"(299 * {byte(3 * i)} + 587 * {byte(3 * i + 1)}"
            f" + 114 * {byte(3 * i + 2)})"
        )

    # bit k for (row r, col c): k = r*3 + c, pixels row-major (row0: 0-3)
    bits = []
    for r in range(2):
        for c in range(3):
            i = r * 4 + c
            k = r * 3 + c
            bits.append(
                f"(CASE WHEN {ilum(i)} < {ilum(i + 1)} THEN {1 << k} ELSE 0 END)"
            )
    phash = "CAST(" + " + ".join(bits) + " AS BIGINT)"
    return f"""
        WITH p AS MATERIALIZED (
            SELECT doc_id AS media_id, {phash} AS phash FROM documents)
        SELECT media_id, phash,
               min(media_id) OVER (PARTITION BY phash) AS keep_id,
               count(*) OVER (PARTITION BY phash) AS n_copies,
               media_id <> min(media_id) OVER (PARTITION BY phash) AS is_dup
        FROM p
    """


def _mm_phash_resized_sql() -> str:
    # Nearest-neighbor index maps for 4×2 -> 8×4: row r reads source row
    # (r*2)//4, col c reads source col (c*4)//8; source pixel (sr, sc) is
    # flat index sr*4+sc over the mm_decode_real md5 byte layout.
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::BIGINT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::BIGINT"

    def ilum(i: int) -> str:
        return (
            f"(299 * {byte(3 * i)} + 587 * {byte(3 * i + 1)}"
            f" + 114 * {byte(3 * i + 2)})"
        )

    ys = [(r * 2) // 4 for r in range(4)]
    xs = [(c * 4) // 8 for c in range(8)]
    bits = []
    for r in range(4):
        for c in range(7):
            left = ilum(ys[r] * 4 + xs[c])
            right = ilum(ys[r] * 4 + xs[c + 1])
            k = r * 7 + c
            bits.append(f"(CASE WHEN {left} < {right} THEN {1 << k} ELSE 0 END)")
    phash = "CAST(" + " + ".join(bits) + " AS BIGINT)"
    return f"""
        SELECT doc_id AS media_id,
               CAST(8 AS BIGINT) AS width,
               CAST(4 AS BIGINT) AS height,
               {phash} AS phash
        FROM documents ORDER BY media_id
    """


def _mm_decode_audio_sql() -> str:
    def byte(k: int) -> str:
        if k < 16:
            return f"('0x' || substr(md5(text), {2 * k + 1}, 2))::INT"
        k -= 16
        return f"('0x' || substr(md5(text || 'x'), {2 * k + 1}, 2))::INT"

    def smp(k: int) -> str:
        return f"((CAST({byte(k)} AS DOUBLE) - 128.0) / 128.0)"

    n = 24
    sq_sum = " + ".join(f"({smp(k)} * {smp(k)})" for k in range(n))
    abs_sum = " + ".join(f"abs({smp(k)})" for k in range(n))
    peak = "greatest(" + ", ".join(f"abs({smp(k)})" for k in range(n)) + ")"
    crossings = " + ".join(
        f"(CASE WHEN ({smp(k)} < 0) <> ({smp(k + 1)} < 0) THEN 1 ELSE 0 END)"
        for k in range(n - 1)
    )
    d1_sum = " + ".join(f"abs({smp(k + 1)} - {smp(k)})" for k in range(n - 1))
    return f"""
        SELECT doc_id AS media_id,
               CAST(floor(sqrt(({sq_sum}) / {n}.0) * 1000000.0 + 0.5) AS BIGINT)
                 AS rms_micro,
               CAST(floor({peak} * 1000000.0 + 0.5) AS BIGINT) AS peak_micro,
               CAST(({crossings}) AS BIGINT) AS n_crossings,
               CAST(floor(({abs_sum}) / {n}.0 * 1000000.0 + 0.5) AS BIGINT)
                 AS mean_abs_micro,
               CAST(floor(({d1_sum}) / {n - 1}.0 * 1000000.0 + 0.5) AS BIGINT)
                 AS d1_micro
        FROM documents ORDER BY media_id
    """


_MM_DECODE_VIDEO_SQL = """
    SELECT doc_id AS media_id, CAST(k AS BIGINT) AS frame_idx,
           upper(substr(md5(text), 1 + 16 * k, 16)) AS frame_hex
    FROM documents, (SELECT unnest(range(0, 2)) AS k)
    ORDER BY media_id, frame_idx
"""


_MM_FRAMES_SQL = """
    WITH m AS (
        SELECT doc_id AS media_id, text, length(text) AS nb FROM documents),
    f AS (
        SELECT media_id, text,
               unnest(range(0, least(8, greatest(1, nb // 64)))) AS frame_idx
        FROM m)
    SELECT media_id, frame_idx,
           md5(substring(text, frame_idx * 64 + 1, 64)) AS frame_digest
    FROM f
"""


def _mm_ann_sql(dim: int = M.FEATURE_DIM) -> str:
    feat = ", ".join(
        f"('0x' || substring(md5(text), {2 * i + 1}, 2))::INT / 256.0"
        for i in range(dim)
    )
    # unrolled-double cosine mirror (see _SIM_TOPK_SQL); feature is a
    # DOUBLE list so the mirror is the engine's exact fold
    return f"""
        WITH feats AS (
            SELECT doc_id AS media_id, [{feat}] AS feature FROM documents),
        nv AS (
            SELECT media_id, feature,
                   sqrt({_sql_dot('feature', 'feature', dim)}) AS nrm
            FROM feats),
        pairs AS (
            SELECT q.media_id AS q_id, n.media_id AS n_id,
                   ({_sql_dot('q.feature', 'n.feature', dim)}) / (q.nrm * n.nrm)
                     AS cosine
            FROM nv q JOIN nv n ON q.media_id <> n.media_id
            WHERE q.media_id < 8)
        SELECT q_id, n_id, cosine, rk FROM (
            SELECT q_id, n_id, cosine,
                   CAST(row_number() OVER (
                       PARTITION BY q_id
                       ORDER BY cosine DESC, n_id ASC) AS BIGINT) AS rk
            FROM pairs)
        WHERE rk <= 3
    """


ORACLE: dict[str, str] = {
    "mm_features": _mm_sql(),
    "mm_decode_real": _mm_decode_real_sql(),
    "mm_phash_dedup": _mm_phash_sql(),
    "mm_phash_resized": _mm_phash_resized_sql(),
    "mm_decode_audio": _mm_decode_audio_sql(),
    "mm_decode_video": _MM_DECODE_VIDEO_SQL,
    "mm_frames": _MM_FRAMES_SQL,
    "mm_ann": _mm_ann_sql(),
}
