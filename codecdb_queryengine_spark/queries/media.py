"""Multimodal scenarios: image, audio and video decode, perceptual-hash
dedup, frame sampling and feature-vector search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from codecdb_queryengine_spark.catalog import load_tables
from codecdb_queryengine_spark.operators import multimodal as M
from codecdb_queryengine_spark.operators import similarity as S


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through the mapInPandas path.

    The feature vector itself stays an ``array<double>`` inside the plan
    (that is the mapInPandas contract under test); the gate surface joins
    it to an exact-integer CSV because the driver's comparator lexsorts
    every output column in pandas and a top-level array is unhashable
    there.  Each stub feature is hexbyte/256, so ×256 recovers the exact
    integer — no float formatting crosses the gate.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    # decoder="stub": the gate's payloads are text; pinning one tier keeps
    # the oracle deterministic (real PPM/PGM decode is pinned by fixtures
    # in tests/test_multimodal_decode.py)
    feats = M.extract_features(M.documents_as_media(docs), decoder="stub")
    return feats.select(
        "media_id",
        "n_bytes",
        "digest",
        F.array_join(
            F.transform(
                "feature",
                lambda x: (x * F.lit(256.0)).cast("bigint").cast("string"),
            ),
            ",",
        ).alias("feature_csv"),
    )


def mm_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL image-decode tier under the value gate: each document's
    md5 bytes become a genuine 4×2 binary-PPM payload (header + 24 raw
    samples, built with Spark binary expressions), mapInPandas runs the
    actual numpy decoder (multimodal.decode_image → image_features), and
    the gate pins micro-quantized pixel statistics — channel means, luma
    σ, horizontal edge energy — against a DuckDB oracle that recomputes
    every pixel from the same md5 hex.  floor(x·1e6 + 0.5) absorbs
    numpy's pairwise-vs-left-fold summation-order noise (~1e-17 on 8
    pixels) without leaving a knife edge.
    """
    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"P6\n4 2\n255\n")
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    feats = M.extract_features(media)  # auto tier -> real decode

    def q(i: int, alias: str):
        return F.floor(F.element_at("feature", i + 1) * F.lit(1e6) + F.lit(0.5)).alias(alias)

    return feats.select(
        "media_id",
        "n_bytes",
        q(3, "mean_r_micro"),
        q(4, "mean_g_micro"),
        q(5, "mean_b_micro"),
        q(6, "luma_std_micro"),
        q(7, "edge_micro"),
    ).orderBy("media_id")


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup through the REAL decode path: the same
    synthetic 4×2 binary-PPM payloads as mm_decode_real, decoded by numpy
    in mapInPandas, hashed with the all-integer dHash
    (multimodal.perceptual_hash_bits — BT.601 integer luma, 6 horizontal
    gradient bits), then exact keep-first dedup by hash.  The whole chain
    is integers, so the gate hashes (media_id, phash, keep_id, n_copies,
    is_dup) bit-exact against a DuckDB oracle that recomputes every pixel
    from the md5 hex.  Scale shape: map-side decode+hash on the scan, ONE
    hash partition by phash — identical to exact_dedup."""
    from pyspark.sql import Window

    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"P6\n4 2\n255\n")
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    ph = M.perceptual_hash(media)
    grp = Window.partitionBy("phash")
    return (
        ph.select(
            "media_id",
            "phash",
            F.min("media_id").over(grp).alias("keep_id"),
            F.count(F.lit(1)).over(grp).alias("n_copies"),
        )
        .withColumn("is_dup", F.col("media_id") != F.col("keep_id"))
    )


def mm_phash_resized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize → perceptual-hash composition under the value gate: the 4×2
    PPM payloads are nearest-neighbor-resized to 8×4 by the REAL pixel
    resampler (multimodal.resize — the one transform previously pinned
    only by unit fixtures), then dHashed (28 gradient bits).  The resize
    index maps are deterministic integers (ys = ⌊r·2/4⌋, xs = ⌊c·4/8⌋),
    so the oracle replays the resample by reindexing the same md5-derived
    pixels — the whole chain stays bit-exact."""
    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"P6\n4 2\n255\n")
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    return M.perceptual_hash(M.resize(media, 8, 4)).orderBy("media_id")


def mm_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real AUDIO decode tier under the value gate (mm_decode_real's
    audio sibling): each document's md5 bytes become a genuine 44-byte-
    header RIFF/WAVE payload carrying 24 unsigned-8-bit PCM samples; the
    numpy WAV decoder runs in mapInPandas and the gate pins zero-crossing
    rate exactly plus micro-quantized rms / peak / mean-|x| /
    first-difference energy against a DuckDB oracle recomputing every
    sample from the same md5 hex ((byte-128)/128)."""
    import struct

    docs = load_tables(spark, sf_dir)["documents"]
    data_len = 24
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000, 1, 8)
    header = bytearray(
        b"RIFF" + struct.pack("<I", 36 + data_len) + b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", data_len)
    )
    payload = F.concat(
        F.lit(header),
        F.unhex(F.md5(F.col("text"))),
        F.unhex(F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16)),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("media_type"),
        payload.alias("payload"),
        F.lit(24).cast("long").alias("meta_width"),
        F.lit(1).cast("long").alias("meta_height"),
    )
    feats = M.extract_features(media)  # auto tier -> WAV decode

    def q(i: int, alias: str):
        return F.floor(F.element_at("feature", i + 1) * F.lit(1e6) + F.lit(0.5)).alias(alias)

    return feats.select(
        "media_id",
        q(3, "rms_micro"),
        q(4, "peak_micro"),
        # zcr = crossings/23 exactly; emit the integer crossing count
        F.round(F.element_at("feature", 6) * F.lit(23.0)).cast("long").alias("n_crossings"),
        q(6, "mean_abs_micro"),
        q(7, "d1_micro"),
    ).orderBy("media_id")


def mm_decode_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real VIDEO decode tier under the value gate: each document's
    md5 bytes become a genuine 2-frame YUV4MPEG2 stream (4x2 4:2:0 —
    stream header, per-FRAME markers, 8 luma + 4 chroma bytes per frame);
    frame_sample's auto tier runs the actual numpy Y4M parser and the
    gate compares each extracted luma plane BYTE-FOR-BYTE (hex-encoded)
    against the oracle's slice of the same md5 hex."""
    docs = load_tables(spark, sf_dir)["documents"]
    header = bytearray(b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420\n")
    fr = bytearray(b"FRAME\n")
    chroma = bytearray(4)
    payload = F.concat(
        F.lit(header),
        F.lit(fr),
        F.unhex(F.substring(F.md5(F.col("text")), 1, 16)),
        F.lit(chroma),
        F.lit(fr),
        F.unhex(F.substring(F.md5(F.col("text")), 17, 16)),
        F.lit(chroma),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("media_type"),
        payload.alias("payload"),
        F.lit(4).cast("long").alias("meta_width"),
        F.lit(2).cast("long").alias("meta_height"),
    )
    frames = M.frame_sample(media, max_frames=8)  # auto tier -> real Y4M frames
    return frames.select(
        "media_id",
        "frame_idx",
        F.hex(F.col("frame_payload")).alias("frame_hex"),
    ).orderBy("media_id", "frame_idx")


def mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through mapInPandas: each payload fans
    out to ≤8 fixed-stride 64-byte frames (operators/multimodal.py
    frame_sample).  Gated on per-frame digests; the oracle re-slices in
    SQL — byte slice == char slice because the corpus is ASCII."""
    docs = load_tables(spark, sf_dir)["documents"]
    # sampler="bytes": text payloads + an oracle that re-slices in SQL
    # (real Y4M frame extraction is pinned in tests/test_multimodal_decode)
    frames = M.frame_sample(M.documents_as_media(docs), sampler="bytes")
    return frames.select(
        "media_id", "frame_idx", F.md5("frame_payload").alias("frame_digest")
    )


def mm_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media similarity search: the multimodal decode path composed with
    exact cosine top-k — payload -> mapInPandas feature vector -> top-3
    neighbors for the first 8 media.  The composition a media-dedup /
    retrieval pipeline runs end-to-end; same determinism story as
    mm_features (md5-derived stub features) + sim_topk (expression cosine).
    """
    docs = load_tables(spark, sf_dir)["documents"]
    feats = M.extract_features(M.documents_as_media(docs), decoder="stub").select(
        "media_id", "feature"
    )
    # Filter BELOW the mapInPandas barrier: media_id == doc_id, so pruning
    # the source docs first keeps the query-side decode at 8 payloads —
    # filtering feats on media_id would re-decode the whole corpus a
    # second time (Catalyst can't push a predicate through mapInPandas).
    queries = M.extract_features(
        M.documents_as_media(docs.filter(F.col("doc_id") < 8)), decoder="stub"
    ).select(F.col("media_id").alias("q_id"), F.col("feature").alias("q_vec"))
    return S.brute_force_topk(
        feats, queries, vec_col="feature", id_col="media_id", k=3
    )


QUERIES = {
    "mm_features": mm_features,
    "mm_decode_real": mm_decode_real,
    "mm_phash_dedup": mm_phash_dedup,
    "mm_phash_resized": mm_phash_resized,
    "mm_decode_audio": mm_decode_audio,
    "mm_decode_video": mm_decode_video,
    "mm_frames": mm_frames,
    "mm_ann": mm_ann,
}

PLAN_ONCE = frozenset({
    "mm_features",
    "mm_decode_real",
    "mm_phash_dedup",
    "mm_phash_resized",
    "mm_decode_audio",
    "mm_decode_video",
    "mm_frames",
    "mm_ann",
})
