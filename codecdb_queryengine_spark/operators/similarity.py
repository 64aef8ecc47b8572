"""Vector similarity search over an embedding column (array<float>).

Driver-mandated extension (no reference counterpart; the reference's only
"search" is hash probing, cpp/src/lqf/join.cc:221-300).  Two tiers:

- brute_force_topk: exact cosine top-k — the correctness baseline.  Dot
  products run JVM-side via zip_with/aggregate; top-k per query via a
  rank window partitioned by query (shuffle width = n_queries).
- hyperplane LSH (random-projection signatures): the 100-TB path.  Bucket
  by sign-bit signature, search only within buckets; hyperplane components
  are md5-derived so engine- and oracle-reproducible (no RNG state).
"""

from __future__ import annotations

# Module-level so pandas-UDF type hints (stringified by the future
# annotations import) resolve against module globals.
import math

import numpy as np  # noqa: F401
import pandas as pd  # noqa: F401

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢbᵢ as double, JVM-side (zip_with + aggregate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return (dot(a, b) / (norm(a) * norm(b))).cast("double")


def cosine_pre(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """cosine with per-row precomputed norms: pair-wise work drops from
    three dot products to one (the norms are O(n) once instead of O(pairs));
    IEEE-identical to `cosine` since the same sqrt results are multiplied."""
    return (dot(a, b) / (norm_a * norm_b)).cast("double")


def _topk_per_query(
    scored: DataFrame,
    score: str,
    k: int,
    desc: bool = False,
) -> DataFrame:
    """The per-query top-k cut every ANN serve ends with: a row_number
    window PARTITIONED by q_id, ordered by `score` (descending for
    similarities, ascending for distances) with ties to the smaller n_id,
    filtered to rk <= k.  Output (q_id, n_id, `score`, rk long)."""
    order = F.col(score).desc() if desc else F.col(score).asc()
    w = Window.partitionBy("q_id").orderBy(order, F.col("n_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", score, F.col("rk").cast("long").alias("rk"))
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    `queries` has (q_id, q_vec).  Cross join is the exact-search cost model:
    n_queries × n_vectors similarity evaluations, embarrassingly parallel;
    queries side broadcasts.  Deterministic tiebreak on neighbor id.
    """
    cand = vectors.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
    )
    scored = (
        F.broadcast(queries.withColumn("q_norm", norm(F.col("q_vec"))))
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cosine",
            cosine_pre(F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm")),
        )
    )
    return _topk_per_query(scored, "cosine", k, desc=True)


def hyperplane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5).

    First 8 hex chars of md5('plane|dim') scaled.  Computed host-side with
    hashlib (bit-identical to Spark/DuckDB md5), embedded as a double
    literal — the oracle recomputes it in SQL as
    ('0x' || substring(md5('p|d'), 1, 8))::BIGINT / 4294967296.0 - 0.5 and
    both IEEE paths agree exactly.
    """
    import hashlib

    h = int(hashlib.md5(f"{plane}|{dim}".encode()).hexdigest()[:8], 16)
    return h / 4294967296.0 - 0.5


def hyperplane_signature(vec: Column, dim: int, num_planes: int = 8, base_plane: int = 0) -> Column:
    """LSH signature: bit p = sign(vec · hyperplane_p), packed into a long.

    All planes ride in ONE nested-array literal (a single Catalyst Literal
    node); projections come from a `transform` over it, and the bit-packing
    folds with a weighted zip_with/aggregate.  The per-plane literal-array
    formulation this replaces produced O(planes × dim) expression nodes,
    dominating analysis/codegen time on self-joined LSH plans.  IEEE
    semantics are unchanged: each dot is the same left-to-right
    zip_with/aggregate sum the oracle SQL mirrors, and bit weights are
    exact small powers of two in doubles.
    """
    planes = F.lit(
        [
            [hyperplane_component(base_plane + p, d) for d in range(dim)]
            for p in range(num_planes)
        ]
    )
    weights = F.lit([float(2**p) for p in range(num_planes)])
    projs = F.transform(planes, lambda plane: dot(vec, plane))
    return (
        F.aggregate(
            F.zip_with(projs, weights, lambda x, w: F.when(x >= 0, w).otherwise(F.lit(0.0))),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        .cast("long")
    )


def _plane_matrix(dim: int, num_planes: int, base_plane: int = 0):
    """(num_planes × dim) float64 hyperplane matrix, same md5-derived
    components as hyperplane_component."""
    return np.array(
        [
            [hyperplane_component(base_plane + p, d) for d in range(dim)]
            for p in range(num_planes)
        ],
        dtype=np.float64,
    )


def lsh_band_keys_arrow(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 4,
    planes_per_band: int = 4,
    plane_stride: int | None = None,
) -> DataFrame:
    """(bid, band, band_key) via one vectorized pandas UDF: the whole
    batch's projections are a single (n × dim)·(dim × planes) matmul.

    `plane_stride` fixes band b's plane indices at [b·stride, b·stride +
    planes_per_band) independent of planes_per_band (default None keeps
    the legacy packed layout, stride = planes_per_band).  A stride ≥ the
    maximum planes count makes the signature STABLE under plane growth:
    adding a plane only subdivides existing buckets (every old bucket
    splits in two; no pair that was separated rejoins), which is what lets
    the planes-per-corpus-doubling dedup policy grow the key space
    incrementally instead of reshuffling every band's plane identity.

    Numerics note: numpy's dot uses pairwise summation while the expression
    form (and the DuckDB oracle) sums left-to-right.  The two differ by
    O(1e-16) relative error, which only matters to the SIGN of a projection
    whose exact value is within ~1e-15 of zero — vanishingly unlikely for
    md5-derived O(1)-magnitude planes, and a flip would only perturb one
    LSH bucket (verification re-filters candidates anyway).
    """
    stride = planes_per_band if plane_stride is None else plane_stride
    if stride < planes_per_band:
        raise ValueError(f"plane_stride={stride} < planes_per_band={planes_per_band}")
    planes = np.concatenate(
        [_plane_matrix(dim, planes_per_band, b * stride) for b in range(bands)]
    )  # (bands*ppb, dim)
    weights = (2 ** np.arange(planes_per_band, dtype=np.int64)).reshape(1, -1)

    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    @pandas_udf(returnType=ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (mat @ planes.T) >= 0  # (n, bands*ppb)
        keys = [
            (bits[:, b * planes_per_band : (b + 1) * planes_per_band] * weights).sum(axis=1)
            for b in range(bands)
        ]
        return pd.Series(np.stack(keys, axis=1).tolist())

    return (
        vectors.select(F.col(id_col).alias("bid"), band_keys(F.col(vec_col)).alias("__ks"))
        .select("bid", F.posexplode("__ks").alias("band", "band_key"))
    )


def cosine_arrow(a: Column, b: Column) -> Column:
    """Vectorized cosine over two array columns (batch matmul-free row-wise
    einsum; float64).  Numerics: einsum sums pairwise, NOT left-to-right —
    when a value lands exactly on a rounding boundary the last-ulp
    difference vs an order-sensitive oracle flips the rounded hash
    (observed: r2 dedup_embedding).  Use for bulk scoring; for
    oracle-hash-gated outputs use the expression-form `cosine`/`cosine_pre`
    whose summation order the oracle SQL can mirror exactly."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(returnType=DoubleType())
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma = np.stack(va.to_numpy()).astype(np.float64)
        mb = np.stack(vb.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.sqrt(np.einsum("ij,ij->i", ma, ma))
        nb = np.sqrt(np.einsum("ij,ij->i", mb, mb))
        return pd.Series(dots / (na * nb))

    return cos(a, b)


def lsh_band_pairs(
    vectors: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bands: int = 4,
    planes_per_band: int = 4,
    plane_stride: int | None = None,
) -> DataFrame:
    """Candidate pairs sharing ≥1 hyperplane band (random-projection LSH).

    The vector analog of MinHash banding: each band is an independent
    planes_per_band-bit signature; near vectors collide in some band with
    high probability.  Candidate generation is n·bands rows — never the
    O(n²) cross join.  `plane_stride` (see lsh_band_keys_arrow) pins each
    band's plane identities independent of the planes count.
    """
    bk = lsh_band_keys_arrow(
        vectors, dim, vec_col, id_col, bands, planes_per_band, plane_stride=plane_stride
    )
    from codecdb_queryengine_spark.operators.bucketing import bucket_candidate_pairs

    return bucket_candidate_pairs(bk, "bid", ["band", "band_key"])


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    centroid_mod: int = 29,
    nprobe: int = 2,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other classic ANN scale
    path next to LSH bucketing.

    Coarse quantizer: the vectors whose id ≡ 0 mod `centroid_mod` — a
    deterministic, training-free stand-in the DuckDB oracle can recompute
    exactly.  The trained coarse quantizer is the exact-integer Lloyd
    tier (kmeans_lloyd_micro → ivf_topk_micro), which the oracle replays
    bit for bit.  Every vector joins its nearest centroid's inverted
    list via a per-row argmax fold over the 1-row broadcast model — one
    shuffle-free projection of the corpus (no N×C expansion); queries
    probe the `nprobe` nearest lists and score exactly within them, so
    the scored candidate set is ~nprobe/C of the corpus.  Assignment
    (_ivf_assign) and serve (_ivf_cosine_rank) are the same functions the
    persisted index (sources/ann_index) runs, so the two forms agree
    bit for bit.
    """
    cmodel = _ivf_model(_mod_centroids(vectors, vec_col, id_col, centroid_mod))
    return _ivf_cosine_rank(
        _ivf_assign(vectors, cmodel, vec_col, id_col), queries, cmodel, k, nprobe
    )


def _mod_centroids(
    vectors: DataFrame, vec_col: str, id_col: str, centroid_mod: int
) -> DataFrame:
    """The deterministic, training-free coarse quantizer every untrained
    IVF tier defaults to: the vectors whose id ≡ 0 (mod `centroid_mod`),
    in the (c_id, c_vec, c_norm) centroid contract — the stand-in the
    DuckDB oracles recompute exactly."""
    return vectors.filter(F.col(id_col) % centroid_mod == 0).select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        norm(F.col(vec_col)).alias("c_norm"),
    )


def _ivf_model(cents: DataFrame) -> DataFrame:
    """A (c_id, c_vec, c_norm) centroid frame as the 1-row broadcast model
    array that both the assignment fold and the probe selection read."""
    return F.broadcast(_model_1row(cents, "c_id", "c_vec", "c_norm"))


def _ivf_assign(
    vectors: DataFrame,
    cmodel: DataFrame,
    vec_col: str,
    id_col: str,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Inverted lists (n_id, n_vec, n_norm, c_list[, meta...]): every
    vector joins its nearest centroid's list.  Nearest-centroid choice
    ranks dot/|c| — the vector's own norm is a positive per-row constant,
    so dropping it preserves the cosine argmax and removes two of three
    dot products per (vector, centroid) pair; ties go to the smaller
    centroid id.  Assignment is a per-row order-free fold over the 1-row
    broadcast model (r5 perf pass), so the lists are ONE shuffle-free
    projection of the corpus — no crossJoin expansion, no groupBy(n_id)
    exchange, no assigned⋈vectors re-join.  Shared by ivf_topk and the
    persisted index's build / append / upsert passes."""
    return _spread(vectors).crossJoin(cmodel).select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
        _fold_argmax_sim(
            F.transform(
                F.col("model"),
                lambda c: F.struct(
                    (dot(F.col(vec_col), c["c_vec"]) / c["c_norm"]).alias("sim"),
                    c["c_id"].cast("long").alias("c_id"),
                ),
            )
        )["c_id"].alias("c_list"),
        *[F.col(c) for c in meta_cols],
    )


def _probe_join(
    probes: DataFrame,
    lists: DataFrame,
    score_name: str,
    score: Column,
    on: str | None = "c_list",
    part_type: str | None = None,
) -> DataFrame:
    """The probe join every IVF and PQ serve scores through:
    broadcast (q_id, c_list, ...) probes ⋈ `lists` on c_list, self-pairs
    dropped, `score` computed per candidate.  Serves cut the result with
    _topk_per_query.  `on=None` is the flat (single-list) case: a keyless
    join, every probe meets every vector.

    `part_type`: for a PARTITIONED lists scan, the inferred type of its
    c_list partition column.  The PROBE side casts to it so the join key
    types match while the scan-side partition column stays untouched — a
    cast there can stop dynamic partition pruning from firing (r4 ADVICE),
    silently voiding the "read only the probed lists" contract."""
    if part_type is not None:
        probes = probes.withColumn("c_list", F.col("c_list").cast(part_type))
    probes = F.broadcast(probes)
    pairs = probes.crossJoin(lists) if on is None else probes.join(lists, on)
    return pairs.filter(F.col("q_id") != F.col("n_id")).withColumn(score_name, score)


def _ivf_cosine_rank(
    lists: DataFrame,
    queries: DataFrame,
    cmodel: DataFrame,
    k: int,
    nprobe: int,
    part_type: str | None = None,
) -> DataFrame:
    """Flat-IVF cosine serve over inverted lists (n_id, n_vec, n_norm,
    c_list) — in-memory (_ivf_assign) or a persisted `lists/` scan: per
    query the `nprobe` nearest lists of the broadcast model, exact cosine
    within them.  Probe selection is the WINDOW-FREE fold
    (_probe_centroids, the old rank window's order): a window function on
    the probe side makes Spark's PlanDynamicPruningFilters fail its
    broadcast-reuse check and silently degrade a persisted scan's
    partition filter to `dynamicpruningexpression(true)` (r8)."""
    probes = _probe_centroids(queries, cmodel, nprobe).select(
        "q_id",
        "q_vec",
        F.col("p")["c_id"].alias("c_list"),
        norm(F.col("q_vec")).alias("q_norm"),
    )
    cos = cosine_pre(F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm"))
    scored = _probe_join(probes, lists, "cosine", cos, part_type=part_type)
    return _topk_per_query(scored, "cosine", k, desc=True)


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's shuffle parallelism,
    ONLY when the input has fewer partitions.  The shuffle-free model-fold
    plans below do all their per-row scoring in the scan stage, so a
    small-file input (one parquet row-group = one non-splittable task)
    would run them single-threaded; one round-robin exchange restores the
    parallelism the old groupBy shuffle provided by accident.  At scale
    the scan already has ≥ parallelism splits and this adds NOTHING (the
    guard keeps the plan exchange-free exactly when partitioning is
    already adequate).  Degraded mode (r5 review): if the parallelism
    conf is non-numeric (AQE-managed "auto" on some platforms) or the
    partition count cannot be inspected (streaming frames; .rdd needs
    batch planning), return the input unchanged — correctness never
    depends on the spread, only small-input parallelism does."""
    try:
        p = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    return df.repartition(p) if n < p else df


def _model_1row(df: DataFrame, *cols: str) -> DataFrame:
    """The whole (tiny) model frame as ONE 1-row array<struct> column
    `model` — crossJoin(broadcast(·)) hands every data row the array with
    no shuffle, and per-row folds then compute argmin/argmax WITHOUT the
    crossJoin-expand + groupBy(n_id) full-corpus shuffle the old plan
    shape paid (r5 perf pass; runtime twin of the literal-model
    _sql_dist_arr discipline, for models that are DataFrames).
    collect_list order is nondeterministic, so consumers MUST fold with a
    total order (tie-broken argmin/argmax) — then the result is
    order-free.  Scale contract: the array must fit in task memory — the
    same bound as broadcasting the model, which the old shape already
    required."""
    return df.agg(F.collect_list(F.struct(*[F.col(c) for c in cols])).alias("model"))


def _fold_argmax_sim(entries: Column) -> Column:
    """struct(sim double, c_id long) with the LARGEST sim (ties to the
    smaller c_id) from an array<struct(sim, c_id)> — the exact max_by
    (sim, −c_id) ranking ivf_topk always used, as an order-free fold."""
    init = F.struct(
        F.lit(float("-inf")).alias("sim"), F.lit(-1).cast("long").alias("c_id")
    )
    return F.aggregate(
        entries,
        init,
        lambda acc, s: F.when(
            (s["sim"] > acc["sim"])
            | ((s["sim"] == acc["sim"]) & (s["c_id"] < acc["c_id"])),
            s,
        ).otherwise(acc),
    )


def _subspace_width(dim: int, num_subspaces: int) -> int:
    """The PQ slice width; a remainder would silently drop trailing dims."""
    sub = dim // num_subspaces
    if sub * num_subspaces != dim:
        raise ValueError(f"dim={dim} not divisible by num_subspaces={num_subspaces}")
    return sub


def _subspace_slices(
    df: DataFrame,
    vec: str,
    sub: int,
    num_subspaces: int,
    out: str,
    keep: tuple[str, ...],
) -> DataFrame:
    """(*keep, m, `out`): one row per (input row, subspace m) holding the
    m-th `sub`-wide slice of the array column `vec` — the per-subspace
    view the PQ Lloyd trainers read."""
    ms = F.explode(
        F.array(*[F.lit(m).cast("long") for m in range(num_subspaces)])
    ).alias("m")
    return df.select(*keep, vec, ms).select(
        *keep,
        "m",
        F.slice(F.col(vec), (F.col("m") * sub + 1).cast("int"), sub).alias(out),
    )


def _probe_centroids(
    queries: DataFrame,
    cmodel: DataFrame,
    nprobe: int,
    with_rank: bool = False,
) -> DataFrame:
    """(q_id, q_vec, p) — per query the `nprobe` nearest centroids from
    the 1-row broadcast model, ranked exactly like the old rank window:
    sim DESC with Spark's NaN-greatest FIRST, ties to the smaller c_id.
    Ascending sort key = (non-NaN flag, −sim, c_id): negation is
    sign-exact for ordering non-NaN sims, and the leading flag restores
    NaN-first, which plain ascending −sim would invert (r5 review — a
    zero-norm centroid yields NaN sims for everyone; the assignment
    argmax still sends every vector to its list under Spark's
    NaN-greatest comparisons, so inverting the probe order would serve
    zero results where the window form served k).  The struct carries
    c_id behind the sort fields.  Shared by ivf_topk and
    ivf_coarse_shortlist."""
    sims = F.transform(
        F.col("model"),
        lambda c: F.struct(
            (dot(F.col("q_vec"), c["c_vec"]) / c["c_norm"]).alias("sim"),
            c["c_id"].cast("long").alias("c_id"),
        ),
    )
    # second transform so the dot is computed ONCE per centroid — the
    # NaN flag re-reads s.sim instead of re-folding the dot
    keyed = F.transform(
        sims,
        lambda s: F.struct(
            F.when(F.isnan(s["sim"]), F.lit(0)).otherwise(F.lit(1)).alias("nn"),
            (-s["sim"]).alias("nsim"),
            s["c_id"].alias("c_id"),
        ),
    )
    if with_rank:
        # posexplode exposes the probe's 0-based rank in the sorted slice
        # (`pr`) — the coarse-shortlist stage-1 sort key of
        # ivf_coarse_shortlist; same order, same struct otherwise
        return queries.crossJoin(cmodel).select(
            "q_id",
            "q_vec",
            F.posexplode(F.slice(F.array_sort(keyed), 1, nprobe)).alias("pr", "p"),
        )
    return queries.crossJoin(cmodel).select(
        "q_id",
        "q_vec",
        F.explode(F.slice(F.array_sort(keyed), 1, nprobe)).alias("p"),
    )


def exact_rerank(
    vectors: DataFrame,
    queries: DataFrame,
    shortlist: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact-cosine RE-RANKING of an approximate shortlist — the second
    stage of two-stage retrieval (Jégou, Douze & Schmid 2011 §V's IVFADC+R:
    ADC cuts the corpus to R candidates on codes alone, then the R true
    vectors are fetched and ranked exactly; reference lineage:
    the CodecDB papers' eval reports quality the same way).  `shortlist`
    is any (q_id, n_id) frame (e.g. ivfpq_rank_micro at k=R); output is
    (q_id, n_id, cosine, rk ≤ k) — identical shape and ORDER SEMANTICS to
    brute_force_topk (cosine desc, n_id asc), so recall gates compose.

    Scale shape: the candidate fetch is a broadcast of the R·|q| shortlist
    against the corpus scan (one semi-join-shaped hash join — candidates
    pay the vector read, nothing else does), queries ride broadcast, and
    the final rank is a Window PARTITIONED by q_id over ≤R rows per
    query.

    The shortlist contract is ANY (q_id, n_id) frame: duplicates are
    dropped and q_id = n_id self-pairs filtered here (r10 advice — the
    rk-unique, self-excluded ivfpq_rank_micro output never exercised either,
    but a caller handing a multi-band candidate union would otherwise get
    duplicate neighbors inside its top-k).  Both ops act on the tiny
    R·|q| frame before the broadcast, so the corpus side never pays."""
    cand = vectors.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
    )
    q = F.broadcast(queries.withColumn("q_norm", norm(F.col("q_vec"))))
    scored = (
        F.broadcast(
            shortlist.select("q_id", "n_id")
            .filter(F.col("q_id") != F.col("n_id"))
            .distinct()
        )
        .join(cand, "n_id")
        .join(q, "q_id")
        .withColumn(
            "cosine",
            cosine_pre(
                F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm")
            ),
        )
    )
    return _topk_per_query(scored, "cosine", k, desc=True)


def ivf_coarse_shortlist(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    r: int = 100,
    centroid_mod: int = 29,
    nprobe: int = 4,
) -> DataFrame:
    """Stage 1 of two-stage retrieval on the FLAT IVF tier: an R-candidate
    shortlist ranked by the COARSE quantizer alone — a candidate's score
    is its inverted list's probe rank (how near the query is to that
    list's centroid), tie-broken by n_id.  No candidate vector is ever
    read: stage 1 touches only the (n_id, c_list) assignment stream, the
    zero-bytes-per-vector analog of IVFADC's code scan, and exact_rerank
    then fetches just the R true vectors (Jégou'11 §V composition).

    Why this exists next to ivf_topk: re-ranking ivf_topk's own shortlist
    is the IDENTITY (its stage already scores candidates by exact cosine),
    so the meaningful flat-tier two-stage serve is coarse-rank → exact
    re-rank.  Because a list's members share its probe rank, R should be
    sized generously (default 100) relative to expected list population —
    exactly the recall-vs-rows_read dial the ivfpq curve gate measures.

    Scale shape: assignment is the shuffle-free broadcast-model argmax
    fold over the corpus; probes ride broadcast; the only exchange is the
    per-query rank window over probed-list members."""
    cmodel = _ivf_model(_mod_centroids(vectors, vec_col, id_col, centroid_mod))
    inv = _ivf_assign(vectors, cmodel, vec_col, id_col).select("n_id", "c_list")
    probes = _probe_centroids(queries, cmodel, nprobe, with_rank=True).select(
        "q_id", "pr", F.col("p")["c_id"].alias("c_list")
    )
    scored = _probe_join(probes, inv, "pr", F.col("pr"))
    return _topk_per_query(scored, "pr", r).drop("pr")


def lsh_collision_shortlist(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    r: int = 20,
    bands: int = 4,
    planes_per_band: int = 4,
    plane_stride: int = 16,
) -> DataFrame:
    """Stage 1 of two-stage retrieval on the LSH tier: an R-candidate
    shortlist from MULTI-BAND signature collisions, ranked by how many
    bands agree (collision count DESC — the classic LSH amplification
    score: P[band collision] grows with cosine, so more agreeing bands ⇒
    nearer with higher confidence), tie-broken by n_id.  Like the coarse
    IVF shortlist, stage 1 reads only integer band keys — never a vector —
    and exact_rerank fetches just the R candidates.

    Contrast with lsh_bucket_topk (the single-signature serve, recall
    0.08 at the gated operating point): one 6-plane bucket both CUTS
    candidates hard and scores them with the exact cosine, so re-ranking
    it is the identity.  Banding with fewer planes per band recovers the
    missed neighbors (a true near pair collides in ≥1 of 4 bands with far
    higher probability), and the collision count gives a vector-free
    stage-1 order to cut the union back to R.  Plane identities use the
    stride-16 layout (see lsh_band_keys_arrow).

    Scale shape: corpus side is n·bands (band, key) rows; the query side
    rides broadcast; candidates group on (q_id, n_id) bounded by band
    collisions — never all-pairs."""
    nbk = vectors.select(
        F.col(id_col).alias("n_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        hyperplane_signature(
                            F.col(vec_col), dim, planes_per_band,
                            base_plane=b * plane_stride,
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("n_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    qbk = queries.select(
        F.col("q_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        hyperplane_signature(
                            F.col("q_vec"), dim, planes_per_band,
                            base_plane=b * plane_stride,
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("q_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    colls = (
        F.broadcast(qbk)
        .join(nbk, ["band", "key"])
        .filter(F.col("q_id") != F.col("n_id"))
        .groupBy("q_id", "n_id")
        .agg(F.count(F.lit(1)).alias("colls"))
    )
    return _topk_per_query(colls, "colls", r, desc=True)


def lsh_bucket_topk(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_planes: int = 6,
) -> DataFrame:
    """Approximate top-k: candidates share the query's LSH bucket.

    2^num_planes buckets: the cross-join shrinks by ~2^planes vs brute
    force.  Recall is tested against brute_force_topk (tests/).
    """
    cand = vectors.select(
        F.col(id_col).alias("n_id"),
        F.col(vec_col).alias("n_vec"),
        norm(F.col(vec_col)).alias("n_norm"),
        hyperplane_signature(F.col(vec_col), dim, num_planes).alias("bucket"),
    )
    q = queries.withColumn(
        "bucket", hyperplane_signature(F.col("q_vec"), dim, num_planes)
    ).withColumn("q_norm", norm(F.col("q_vec")))
    scored = (
        F.broadcast(q)
        .join(cand, "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cosine",
            cosine_pre(F.col("q_vec"), F.col("n_vec"), F.col("q_norm"), F.col("n_norm")),
        )
    )
    return _topk_per_query(scored, "cosine", k, desc=True)


def ivf_assign_arrow(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_mod: int = 29,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """(n_id, c_list): nearest-centroid assignment as ONE vectorized Arrow
    batch matmul — the throughput twin of ivf_topk's expression-fold
    assignment (r3 verdict item 8: the interpreted 69-centroid HOF fold is
    the local cost driver of in-stream encoding).

    Semantics match the expression form: rank dot(v,c)/|c| descending,
    tie-break to the smallest c_id (centroid rows are ordered by c_id and
    np.argmax returns the FIRST maximum).  Numerics: the matmul sums
    pairwise where the fold sums left-to-right — assignments can only
    differ when two centroids' similarities agree to ~1e-13, so the
    expression form remains the oracle-gated face and this one is pinned
    equal on separated data in tests (same contract as lsh_band_keys_arrow
    vs the expression signatures).

    Works unchanged on a streaming DataFrame (stateless projection).
    """
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = _mod_centroids(vectors, vec_col, id_col, centroid_mod)
    model = sorted(centroids.collect(), key=lambda r: r["c_id"])
    ids = np.array([int(r["c_id"]) for r in model], dtype=np.int64)
    C = np.array([[float(x) for x in r["c_vec"]] for r in model], dtype=np.float64)
    norms = np.array([float(r["c_norm"]) for r in model], dtype=np.float64)

    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(returnType=LongType())
    def assign(vs: pd.Series) -> pd.Series:
        mat = np.stack(vs.to_numpy()).astype(np.float64)  # (n, d)
        sims = (mat @ C.T) / norms  # (n, K)
        return pd.Series(ids[np.argmax(sims, axis=1)])

    return vectors.select(
        F.col(id_col).alias("n_id"), assign(F.col(vec_col)).alias("c_list")
    )


def _sql_double(v: float) -> str:
    """SQL text for an exact DOUBLE literal.  repr() is the shortest
    round-trip form and Spark's string→double cast (Double.parseDouble)
    is correctly rounded, so the parsed value is bit-identical to the
    Python float — scientific notation included, which a bare SQL numeric
    literal would type as DECIMAL."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def _sql_double_arr(vals) -> str:
    """SQL text for an array<double> literal (see _sql_double)."""
    return "array(" + ",".join(_sql_double(v) for v in vals) + ")"


def _sql_dot(a_sql: str, b_sql: str) -> str:
    """SQL text for `dot` (left-to-right zip_with/aggregate double fold)
    — the same op sequence as the Column form and the oracle mirrors, so
    results are bit-identical."""
    return (
        f"aggregate(zip_with({a_sql},{b_sql},"
        f"(x,y)->CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),"
        f"CAST(0 AS DOUBLE),(acc,x)->acc+x)"
    )


def ivf_assign_sql(vec_sql: str, centroid_rows: list) -> str:
    """SQL text for the nearest-centroid id of `vec_sql` — the stateless
    model-broadcast scorer used by the in-stream encoders, with the
    centroid model embedded as literals.  Ranking and tie-break match
    ivf_topk's assignment exactly (dot/|c| descending, smaller c_id
    wins), and every dot is the same left-to-right zip_with/aggregate
    fold the oracle SQL mirrors — so outputs stay value-gateable.
    `centroid_rows` are collected (c_id, c_vec[, ...]) rows, the usual
    tiny model artifact.  Generated as SQL TEXT parsed by one F.expr
    (r5 perf pass): building the same tree through the Python Column API
    costs thousands of py4j round-trips of driver time per plan (the
    _sql_dist_arr rationale).  |c| is pre-folded driver-side with the
    identical IEEE op sequence (left-assoc Σx², correctly-rounded sqrt —
    both engines' doubles), bit-identical to what Catalyst would
    constant-fold from the literal."""
    elems = []
    for r in centroid_rows:
        c_vec = [float(x) for x in r["c_vec"]]
        s = 0.0
        for v in c_vec:
            s += v * v
        sim = f"{_sql_dot(vec_sql, _sql_double_arr(c_vec))}/{_sql_double(math.sqrt(s))}"
        elems.append(
            f"named_struct('sim',{sim},'c_id',CAST({int(r['c_id'])} AS BIGINT))"
        )
    # similarity computed ONCE per centroid (array element), then a cheap
    # fold picks the argmax — HOF lambdas are interpreted with no CSE, so
    # a fold whose predicate repeated the dot would pay it three times
    init = "named_struct('sim',CAST('-Infinity' AS DOUBLE),'c_id',CAST(-1 AS BIGINT))"
    return (
        f"(aggregate(array({','.join(elems)}),{init},"
        f"(acc,s)->IF(s.sim>acc.sim OR (s.sim=acc.sim AND s.c_id<acc.c_id),"
        f"s,acc))).c_id"
    )


def ivf_assign_expr(vec_sql: str, centroid_rows: list) -> Column:
    """Column form of ivf_assign_sql (one F.expr parse)."""
    return F.expr(ivf_assign_sql(vec_sql, centroid_rows))


# --- exact-integer Lloyd k-means + IVF (the value-gateable TRAINED tier) ---


def quantize_micro(a: Column, scale: float = 1e6) -> Column:
    """Element-wise floor(x·scale + 0.5) as array<long> — the cross-engine
    integer anchor (the discipline every PQ / IVF-PQ ADC runs on): float32
    elements cast to double, one correctly-rounded multiply, floor.  Both
    engines produce identical BIGINTs, so every distance derived from the
    quantized vectors is exact integer arithmetic — order-free, no float
    gate risk at all."""
    return F.transform(
        a, lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast("long")
    )


def l2_micro(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² over two array<long> columns as BIGINT (JVM-side fold).
    Exact: micro-quantized embedding components are ≤ ~1e6, so each term
    is ≤ 4e12 and a 64-dim sum ≤ ~3e14 — far inside BIGINT."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def dot_micro(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ over two array<long> columns as BIGINT (JVM-side fold).
    Exact and order-free (integer addition): with MILLI-quantized inputs
    (quantize_micro scale=1e3, components ≤ ~1e3) each term is ≤ 1e6 and a
    64-dim sum ≤ ~6.4e7 — small enough that downstream BIGINT products of
    two dots (the rational cosine test in dedup.semantic_dedup) stay far
    inside int64.  Micro-scale (1e6) inputs are for DISTANCES (l2_micro);
    dot-product consumers must quantize at milli scale or coarser."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _sql_long_arr(vals) -> str:
    """SQL text for an array<bigint> literal."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def _sql_l2_micro(a_sql: str, b_sql: str) -> str:
    """SQL text for l2_micro (BIGINT Σ(aᵢ−bᵢ)² fold) — the same
    zip_with/aggregate shape, so semantics match the Column form and the
    oracles exactly."""
    return (
        f"aggregate(zip_with({a_sql},{b_sql},(x,y)->(x-y)*(x-y)),"
        f"CAST(0 AS BIGINT),(acc,x)->acc+x)"
    )


def _sql_dist_arr(vec_sql: str, entries, with_center: bool = False) -> str:
    """SQL text for array<struct(d, c_id[, c])> of BIGINT L2 distances from
    `vec_sql` to every literal center in `entries` ([(c_id, vec_micro)]
    Python rows — the usual tiny collected model).  The struct field order
    makes lexicographic struct comparison = (distance, then smaller c_id),
    so array_min / array_sort implement the exact argmin / probe-ranking
    semantics every micro-tier oracle mirrors — as ONE map-side expression:
    no N×K row expansion, no shuffle (the r5 perf pass: the join +
    groupBy(n_id) form paid a full-corpus shuffle per use).  Generated as
    SQL TEXT parsed by one F.expr call because building the same tree
    through the Python Column API costs hundreds of py4j round-trips
    (~2 s of driver time per plan at K·M=32 centers — measured).  The
    centers ride as ONE literal array under one transform, which the
    optimizer folds to a single literal: the plan carries one distance
    fold however many centers there are, where an unrolled fold per
    center made every optimizer and AQE re-plan pass walk K copies.
    """
    model = ",".join(
        f"named_struct('c_id',CAST({int(cid)} AS BIGINT),'c',{_sql_long_arr(c)})"
        for cid, c in entries
    )
    center = ",'c',e.c" if with_center else ""
    return (
        f"transform(array({model}),"
        f"e->named_struct('d',{_sql_l2_micro(vec_sql, 'e.c')},'c_id',e.c_id{center}))"
    )


def _micro_argmin_sql(vec_sql: str, entries, with_center: bool = False) -> str:
    """SQL text for struct(d, c_id[, c]) of the nearest literal center
    (ties to the smaller c_id; `c` never participates in comparison
    because c_id is unique).  See _sql_dist_arr."""
    return f"array_min({_sql_dist_arr(vec_sql, entries, with_center)})"


# Above this model size, _micro_nearest switches from the literal
# array_min / array_sort expression (whose SQL text grows with K·dim and
# breaks codegen) to the broadcast-model form.  Both compute the identical
# lexicographic (d, c_id) ranking — pinned by tests/test_lloyd.py and
# tests/test_ann_index.py.
_ENCODE_LITERAL_MAX = 32


def _micro_nearest(
    df: DataFrame,
    vec: str,
    cents: list,
    keep: tuple[str, ...],
    nprobe: int | None = None,
    with_center: bool = False,
) -> DataFrame:
    """`df`'s `keep` columns plus `p` = struct(d, c_id[, c]): the nearest
    of the micro centers `cents` ([(c_id, vec_micro)]) to the array<long>
    column `vec` by BIGINT L2, ties to the smaller c_id — one row per input
    row when `nprobe` is None (assignment), else the `nprobe` nearest
    exploded one row each in ascending (d, c_id) order (probe selection,
    exactly the old rank window's order) with `pr`, the 0-based probe
    rank, from the same posexplode.

    The form is picked by model size: up to _ENCODE_LITERAL_MAX centers
    the model inlines as a literal array_min / array_sort expression (the
    oracle-shaped form); past that the model rides as a 1-row broadcast
    array and the same array_min / array_sort runs over its per-row
    distance structs — the identical lexicographic (d, c_id) comparison
    (`c` never compares: c_id is unique), scaling to thousands of centers
    (r9: corpus-grain quantizers).  Assignment over the broadcast model
    spreads a small-partition corpus first (see _spread); probing a query
    set does not."""
    if len(cents) <= _ENCODE_LITERAL_MAX:
        dist = _sql_dist_arr(vec, cents, with_center)
        if nprobe is None:
            return df.selectExpr(*keep, f"array_min({dist}) AS p")
        return df.selectExpr(
            *keep, f"posexplode(slice(array_sort({dist}), 1, {nprobe})) AS (pr, p)"
        )
    cmodel = F.broadcast(
        _model_1row(
            df.sparkSession.createDataFrame(sorted(cents), "c_id long, c array<long>"),
            "c_id",
            "c",
        )
    )
    dist = F.transform(
        F.col("model"),
        lambda c: F.struct(
            l2_micro(F.col(vec), c["c"]).alias("d"),
            c["c_id"].cast("long").alias("c_id"),
            *([c["c"].alias("c")] if with_center else []),
        ),
    )
    if nprobe is None:
        return _spread(df).crossJoin(cmodel).select(*keep, F.array_min(dist).alias("p"))
    return df.crossJoin(cmodel).select(
        *keep, F.posexplode(F.slice(F.array_sort(dist), 1, nprobe)).alias("pr", "p")
    )


def _micro_assign(
    vectors: DataFrame, cents: list, vec_col: str, id_col: str
) -> DataFrame:
    """Micro inverted lists (n_id, v, c_list): micro-quantized vectors and
    their nearest center — shared by ivf_topk_micro and the persisted
    integer index build."""
    vm = vectors.select(
        F.col(id_col).alias("n_id"), quantize_micro(F.col(vec_col)).alias("v")
    )
    return _micro_nearest(vm, "v", cents, ("n_id", "v")).select(
        "n_id", "v", F.col("p")["c_id"].alias("c_list")
    )


def _ivf_micro_rank(
    lists: DataFrame,
    queries: DataFrame,
    cents: list,
    k: int,
    nprobe: int,
    part_type: str | None = None,
) -> DataFrame:
    """Flat-IVF integer-L2 serve over micro lists (n_id, v, c_list) —
    in-memory (_micro_assign) or a persisted `lists/` scan: the `nprobe`
    nearest centers per query (window-free, see _ivf_cosine_rank), exact
    BIGINT L2 within them.  Output (q_id, n_id, l2_micro2, rk)."""
    qm = queries.select("q_id", quantize_micro(F.col("q_vec")).alias("qv"))
    probes = _micro_nearest(qm, "qv", cents, ("q_id", "qv"), nprobe=nprobe).select(
        "q_id", "qv", F.col("p")["c_id"].alias("c_list")
    )
    l2 = l2_micro(F.col("qv"), F.col("v"))
    scored = _probe_join(probes, lists, "l2_micro2", l2, part_type=part_type)
    return _topk_per_query(scored, "l2_micro2", k)


def _micro_residuals(
    vm: DataFrame, cents: list, meta_cols: tuple[str, ...] = ()
) -> DataFrame:
    """(n_id, c_list, r[, meta...]) over micro vectors (n_id, v[, meta...]):
    the nearest coarse center and the exact BIGINT residual v − c — the
    IVFADC encode input, shared by training and encoding."""
    return _micro_nearest(
        vm, "v", cents, ("n_id", "v", *meta_cols), with_center=True
    ).select(
        "n_id",
        F.col("p")["c_id"].alias("c_list"),
        F.zip_with(F.col("v"), F.col("p")["c"], lambda x, y: x - y).alias("r"),
        *[F.col(c) for c in meta_cols],
    )


def _codebook_by_subspace(cbs: list, num_subspaces: int) -> dict[int, list]:
    """{m: [(c_id, c_sub_micro)]} of a codebook [(m, c_id, c_sub_micro)].
    A subspace in 0..num_subspaces−1 with no codewords would leave its
    code and ADC lookups unfilled, so raise at build time, naming every
    missing subspace."""
    by_m: dict[int, list] = {}
    for m, c_id, c_sub_v in cbs:
        by_m.setdefault(int(m), []).append((c_id, c_sub_v))
    missing = [m for m in range(num_subspaces) if m not in by_m]
    if missing:
        raise ValueError(
            f"pq codebook has no codewords for subspace(s) {missing} of "
            f"0..{num_subspaces - 1}"
        )
    return by_m


def _micro_code_map(vec: str, cbs: list, sub: int, num_subspaces: int) -> Column:
    """cmap = map<m, code>: per subspace m, the nearest literal codeword of
    the m-th `sub`-wide slice of the array<long> column `vec` (BIGINT L2,
    ties to the smaller id) — the PQ encode of pq_topk_micro and the
    IVFADC residual encode.  `cbs` = [(m, c_id, c_sub_micro)]; raises
    ValueError when it lacks a subspace."""
    by_m = _codebook_by_subspace(cbs, num_subspaces)
    entries = ",".join(
        f"named_struct('m',CAST({m} AS BIGINT),'code',"
        f"({_micro_argmin_sql(f'slice({vec},{m * sub + 1},{sub})', by_m[m])}).c_id)"
        for m in range(num_subspaces)
    )
    return F.expr(f"map_from_entries(array({entries}))")


def _micro_adc_map(
    vec: str, cbs: list, sub: int, num_subspaces: int, num_codewords: int
) -> Column:
    """amap = map<m·K + c_id, BIGINT L2 of `vec`'s m-th slice to codeword
    c_id> — the query-side ADC lookup table _adc_sum reads (K =
    num_codewords).  A codebook c_id >= K would collide with an adjacent
    subspace's slot, and a missing subspace would leave its lookups
    unfilled; the codebook is driver-side, so both fail loudly at BUILD
    time.  One transform over the literal codebook array, as in
    _sql_dist_arr."""
    _codebook_by_subspace(cbs, num_subspaces)
    bad = sorted({int(c_id) for _, c_id, _ in cbs if int(c_id) >= num_codewords})
    if bad:
        raise ValueError(
            f"pq ADC: codebook c_id(s) {bad} >= num_codewords {num_codewords} "
            "— ADC keys would alias adjacent subspaces"
        )
    model = ",".join(
        f"named_struct('key',CAST({int(m) * num_codewords + int(c_id)} AS BIGINT),"
        f"'start',{int(m) * sub + 1},'c',{_sql_long_arr(c_sub_v)})"
        for m, c_id, c_sub_v in cbs
    )
    contrib = _sql_l2_micro(f"slice({vec},e.start,{sub})", "e.c")
    return F.expr(
        f"map_from_entries(transform(array({model}),"
        f"e->named_struct('key',e.key,'contrib',{contrib})))"
    )


def _adc_sum(num_subspaces: int, num_codewords: int) -> Column:
    """Σₘ amap[m·K + cmap[m]] — the asymmetric-distance score of one
    (query, candidate) pair: the candidate's per-subspace code `cmap`
    indexes the query-side lookup map `amap`, whose key is m·K + codeword
    (K = num_codewords).  Integer (micro-unit) terms, so the sum is
    order-free BIGINT; shared by every PQ / IVF-PQ serve.  One F.expr
    parse: the Column API form costs a py4j round trip per node."""
    return F.expr(
        " + ".join(
            f"element_at(amap, {m * num_codewords}L + element_at(cmap, {m}L))"
            for m in range(num_subspaces)
        )
    )


def _check_stride_sample(ids, k: int, stride: int) -> None:
    """A Lloyd init is the stride sample ids 0, stride, …, (k−1)·stride;
    when the corpus lacks some of them, training would silently return
    fewer than `k` centroids (and every probe sized against `k` would be
    wrong), so refuse instead."""
    ids = sorted(ids)
    if len(ids) < k:
        raise ValueError(
            f"Lloyd init needs k={k} stride-sample ids (0, {stride}, …, "
            f"{(k - 1) * stride}) but stride={stride} found {len(ids)}: {ids}"
        )


def kmeans_lloyd_micro(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    k: int = 8,
    stride: int = 37,
    iters: int = 2,
    init_cents: list[tuple[int, list[int]]] | None = None,
) -> list[tuple[int, list[int]]]:
    """TRAINED coarse quantizer with a cross-engine-exact Lloyd iteration —
    the package's one IVF trainer, value-gated end to end.

    Everything is integer-anchored so a SQL oracle replays training
    bit-for-bit: vectors are micro-quantized (quantize_micro), assignment
    is integer-L2 argmin with ties to the smaller centroid id, and the
    centroid update is round(Σv / n) back to integers — Σv is an exact
    BIGINT and Σv/n an exact-input double division, so the half-away-from-
    zero round is identical in Spark, DuckDB and this driver-side mirror.
    Init = the deterministic stride sample (ids 0, stride, …, (k−1)·stride),
    i.e. the same training-free stand-in the untrained tier uses — after
    `iters` Lloyd rounds the centers are genuinely data-adapted.  Raises
    ValueError when the sample (or `init_cents`) holds fewer than k ids.

    Scale shape: per iteration ONE pass over the corpus (map-side
    literal-model argmin expression, no N×K shuffle) + ONE k×(dim+1)-cell
    aggregation; the k-row model is collected per round (the usual tiny
    model artifact).  Returns [(c_id, c_vec_micro)] rows for
    ivf_topk_micro / literal re-broadcast.
    """
    # operator-owned cache lifetime (the heavy_hitters discipline): the
    # quantized frame is scanned once per Lloyd round, so persist it for
    # the loop and release it before returning — iters=0 (the init-only
    # probe) skips the cache entirely
    vm = vectors.select(
        F.col(id_col).alias("n_id"), quantize_micro(F.col(vec_col)).alias("v")
    )
    spark = vectors.sparkSession
    # persist BEFORE the init collect (r12): the init sample job then fills
    # the cache as a side effect, so round 1 reads cached quantized blocks
    # instead of re-scanning + re-quantizing the corpus
    if iters > 1:
        vm = vm.persist()
    if init_cents is not None:
        # caller already collected the deterministic stride sample (e.g.
        # ivfpq_train_micro shares ONE sample collect between both
        # quantizers' inits) — identical tuples, one fewer action
        cents = sorted(init_cents)
    else:
        cents = sorted(
            (int(r["n_id"]) // stride, [int(x) for x in r["v"]])
            for r in vm.filter(
                (F.col("n_id") % stride == 0) & (F.col("n_id") < stride * k)
            ).collect()
        )
    try:
        _check_stride_sample([c * stride for c, _ in cents], k, stride)
        cents = _lloyd_rounds(spark, vm, (), cents, dim, iters)
    finally:
        if iters > 1:
            vm.unpersist()
    return cents


def _round_half_away(s: int, n: int) -> int:
    """Half-away-from-zero rounding of the EXACT rational s/n (n > 0),
    in pure integer arithmetic.  The old float form floor(s/n + 0.5)
    diverged from true rounding on boundary doubles (e.g. the double
    nearest 0.4999999999999999 rounds UP once +0.5 is itself rounded) —
    r5 ADVICE.  The Lloyd oracles mirror this exact form in SQL
    ((2s + n) // (2n) with floor division on non-negative operands), so
    neither engine ever rounds a double."""
    assert n > 0
    s = int(s)
    return (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n))


def _lloyd_rounds(spark, vm, keys, model, vec_len: int, iters: int):
    """The ONE exact-Lloyd recurrence every trainer shares
    (kmeans_lloyd_micro, pq_codebooks_lloyd_micro, and the residual stage
    of ivf_pq_topk_lloyd_micro — r5 review: three inline copies risked
    silently diverging from each other and from their SQL oracles).

    `vm`: DataFrame (*keys, n_id, v) with v array<long> (micro units);
    `model`: sorted [( *keys, c_id, vec ), ...] tuples.  One round =
    literal-model BIGINT-L2 argmin as a map-side expression (ties to the
    smaller c_id; _micro_argmin per key group, dispatched by a when-chain
    on the key columns) → per-(keys, c_id) exact integer sums →
    round-half-away mean update; empty clusters keep their previous
    center.  Returns the updated model in the same tuple shape.  Cost per
    round: ONE pass over vm with a map-side partial aggregate into a
    k·|keys|-row collect — no row expansion, no per-row shuffle (the r5
    perf pass removed the broadcast-join + groupBy(n_id) form, which paid
    a full-corpus shuffle per round).
    """
    for _ in range(iters):
        groups: dict[tuple, list] = {}
        for *ks, c_id, vec in model:
            groups.setdefault(tuple(int(x) for x in ks), []).append((c_id, vec))
        if keys:
            whens = []
            for ks, entries in groups.items():
                cond = " AND ".join(
                    f"{kname} = {kval}" for kname, kval in zip(keys, ks)
                )
                whens.append(
                    f"WHEN {cond} THEN ({_micro_argmin_sql('v', entries)}).c_id"
                )
            cid_expr = F.expr("CASE " + " ".join(whens) + " END")
        else:
            cid_expr = F.expr(f"({_micro_argmin_sql('v', groups[()])}).c_id")
        stats = (
            vm.select(*keys, cid_expr.alias("c_id"), "v")
            .groupBy(*keys, "c_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[F.sum(F.col("v")[j]).alias(f"s{j}") for j in range(vec_len)],
            )
            .collect()
        )
        by_key = {tuple(int(r[k]) for k in (*keys, "c_id")): r for r in stats}
        new_model = []
        for row in model:
            *ks, c_id, old = row
            r = by_key.get((*[int(x) for x in ks], int(c_id)))
            if r is None:  # empty cluster: keep the old center (oracle mirrors)
                new_model.append(row)
                continue
            n = int(r["n"])
            new_model.append(
                (
                    *ks,
                    c_id,
                    [_round_half_away(int(r[f"s{j}"]), n) for j in range(vec_len)],
                )
            )
        model = new_model
    return model


def ivf_topk_micro(
    vectors: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 2,
) -> DataFrame:
    """IVF top-k over the micro-quantized integer space with a trained
    (kmeans_lloyd_micro) centroid model — every distance is BIGINT, so the
    whole query (training included) is bit-exact against a SQL oracle.

    Same semantics as ivf_topk with the model folded into map-side
    expressions (the r5 perf pass, _micro_nearest): corpus assignment is
    an argmin projection (no crossJoin expansion, no groupBy(n_id)
    shuffle) and probe selection is array_sort over the same distances
    (ascending (d, c_id) — exactly the old rank window's order) sliced to
    nprobe — so the serve plan is scan → broadcast join → ONE top-k
    window.  The persisted integer index runs the same assignment and
    serve core.  Output (q_id, n_id, l2_micro2, rk); smaller = nearer.
    """
    return _ivf_micro_rank(
        _micro_assign(vectors, cents, vec_col, id_col), queries, cents, k, nprobe
    )


def pq_codebooks_lloyd_micro(
    vectors: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_subspaces: int = 4,
    num_codewords: int = 8,
    stride: int = 37,
    iters: int = 2,
) -> list[tuple[int, int, list[int]]]:
    """TRAINED product-quantizer codebooks with cross-engine-exact Lloyd —
    the PQ counterpart of kmeans_lloyd_micro (same integer discipline:
    micro-quantized slices, BIGINT-L2 argmin with ties to the smaller
    codeword id, round(Σv/n) centroid updates).  Classic PQ training
    (independent k-means per subquantizer, Jégou et al. TPAMI'11 §III)
    made bit-replayable by a SQL oracle — the package's one PQ trainer.

    Per round: ONE broadcast pass over all (vector, subspace) slices +
    ONE (num_subspaces·k)×(sub+1)-cell aggregation; the 32-row model is
    collected per round.  Returns [(m, c_id, c_sub_micro)] rows; raises
    ValueError when the stride sample holds fewer than num_codewords ids.
    """
    sub = _subspace_width(dim, num_subspaces)
    vm = vectors.select(
        F.col(id_col).alias("n_id"), quantize_micro(F.col(vec_col)).alias("v")
    )
    # init: codeword c of subspace m is the m-th slice of the micro vector
    # with id c·stride — one small collect, sliced driver-side
    sample = vm.filter(
        (F.col("n_id") % stride == 0) & (F.col("n_id") < stride * num_codewords)
    ).collect()
    _check_stride_sample([int(r["n_id"]) for r in sample], num_codewords, stride)
    cbs = sorted(
        (m, int(r["n_id"]) // stride, [int(x) for x in r["v"][m * sub:(m + 1) * sub]])
        for r in sample
        for m in range(num_subspaces)
    )
    if iters == 0:  # the untrained stride-sample codebook
        return cbs
    vm = _subspace_slices(vm, "v", sub, num_subspaces, "v", ("n_id",))
    # operator-owned cache lifetime: the sliced frame feeds every Lloyd
    # round — persist for the loop, release before returning
    if iters > 1:
        vm = vm.persist()
    try:
        cbs = _lloyd_rounds(vectors.sparkSession, vm, ("m",), cbs, sub, iters)
    finally:
        if iters > 1:
            vm.unpersist()
    return cbs


def pq_topk_micro(
    vectors: DataFrame,
    queries: DataFrame,
    codebooks: list[tuple[int, int, list[int]]],
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_subspaces: int = 4,
    num_codewords: int = 8,
) -> DataFrame:
    """PQ ADC top-k over the micro-quantized integer space with
    pq_codebooks_lloyd_micro codebooks (trained, or at iters=0 the
    stride-sample codebook of sim_ann_pq) — every encode distance AND every
    ADC contribution is BIGINT, so training + encode + scoring replay
    bit-for-bit in a SQL oracle (no 1e6-rounding step: the inputs are
    already integers, and a 64-dim micro L2 is ≤ ~3e14, far inside BIGINT).

    Plan shape (r5 perf pass): the 32-row codebook is a Python list, so
    encode is a literal-model argmin PROJECTION per subspace (cmap built
    with map_from_entries over num_subspaces expressions — no explode, no
    join, no groupBy) and the per-query ADC lookup map is the same pure
    projection over the query frame; the only shuffle left is the final
    top-k window.  Output (q_id, n_id, adc_q, rk); smaller = nearer."""
    sub = _subspace_width(dim, num_subspaces)
    amaps = queries.select(
        "q_id", quantize_micro(F.col("q_vec")).alias("qv")
    ).select(
        "q_id",
        _micro_adc_map("qv", codebooks, sub, num_subspaces, num_codewords).alias("amap"),
    )
    codes = vectors.select(
        F.col(id_col).alias("n_id"), quantize_micro(F.col(vec_col)).alias("vv")
    ).select("n_id", _micro_code_map("vv", codebooks, sub, num_subspaces).alias("cmap"))
    adc = _adc_sum(num_subspaces, num_codewords)
    scored = _probe_join(amaps, codes, "adc_q", adc, on=None)
    return _topk_per_query(scored, "adc_q", k)


def ivf_pq_topk_lloyd_micro(
    vectors: DataFrame,
    queries: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    k_coarse: int = 8,
    stride: int = 37,
    iters: int = 2,
    nprobe: int = 2,
    num_subspaces: int = 4,
    num_codewords: int = 8,
) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. TPAMI'11 §IV) with BOTH quantizers
    TRAINED — Lloyd-iterated coarse centroids AND Lloyd-iterated residual
    codebooks — and the whole thing bit-replayable by a SQL oracle: the
    production ANN composition, exactly.

    Everything runs in the micro-quantized integer space (the
    kmeans_lloyd_micro discipline): coarse training, residuals
    (v − centroid stays BIGINT), per-subspace residual-codebook training
    (init = residual slices of the stride-sampled vectors), encoding, and
    ADC — so every intermediate is exact and order-free.

    Plan shape (r5 perf pass — the literal-model expression discipline of
    ivf_topk_micro/pq_topk_micro applied end to end): residual computation
    is a map-side argmin projection over the literal coarse model, encode
    is a per-subspace argmin projection over the literal residual
    codebooks (no explode/join/groupBy), probe selection is array_sort
    over literal coarse distances, and the ADC lookup maps are a pure
    projection over the (query, probed list) frame — the only shuffles
    left are the tiny training aggregates and the final top-k window.
    Output (q_id, n_id, adc_q, rk); smaller = nearer.
    """
    cents, cbs = ivfpq_train_micro(
        vectors,
        dim=dim,
        vec_col=vec_col,
        id_col=id_col,
        k_coarse=k_coarse,
        stride=stride,
        iters=iters,
        num_subspaces=num_subspaces,
        num_codewords=num_codewords,
    )
    codes_wide = ivfpq_encode_micro(
        vectors,
        cents,
        cbs,
        dim=dim,
        vec_col=vec_col,
        id_col=id_col,
        num_subspaces=num_subspaces,
    )
    return ivfpq_rank_micro(
        codes_wide,
        queries,
        cents,
        cbs,
        dim=dim,
        k=k,
        nprobe=nprobe,
        num_subspaces=num_subspaces,
        num_codewords=num_codewords,
    )


def ivfpq_train_micro(
    vectors: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_coarse: int = 8,
    stride: int = 37,
    iters: int = 2,
    num_subspaces: int = 4,
    num_codewords: int = 8,
    centroid_mod: int | None = None,
) -> tuple[list, list]:
    """Train the two IVFADC quantizers in micro-integer space and return
    the tiny model pair `(cents, cbs)` — cents = [(c_id, vec_micro)],
    cbs = [(m, c_id, c_sub_micro)] — the driver-side artifacts
    ivfpq_encode_micro / ivfpq_rank_micro (and the persisted index build)
    consume.  See ivf_pq_topk_lloyd_micro for the exactness story.  Raises
    ValueError when the shared stride sample holds fewer than
    max(k_coarse, num_codewords) ids.

    `centroid_mod`: the coarse init is every vector whose id ≡ 0 (mod
    centroid_mod), c_id = id // centroid_mod — the mod-id sample of the
    untrained IVF tiers — instead of the k_coarse stride sample.  With
    iters=0 both quantizers are then the untrained samples the
    sim_ann_ivfpq family serves, from one collect."""
    sub = _subspace_width(dim, num_subspaces)
    spark = vectors.sparkSession
    # ONE stride-sample collect feeds BOTH quantizers' inits (r12; was two
    # — the coarse init inside kmeans_lloyd_micro plus a residual-slice
    # collect here): the coarse init is the sampled micro vectors
    # verbatim, and the residual-codebook init is those same vectors
    # minus their nearest FINAL centroid — exact BIGINT arithmetic the
    # driver mirrors bit-for-bit (same (d, c_id)-lexicographic argmin as
    # _micro_argmin_sql, same integer subtraction and slicing), so the
    # recurrence and its SQL oracle are unchanged.
    n_sample = num_codewords if centroid_mod else max(k_coarse, num_codewords)
    vm = vectors.select(
        F.col(id_col).alias("n_id"), quantize_micro(F.col(vec_col)).alias("v")
    )
    in_sample = (F.col("n_id") % stride == 0) & (F.col("n_id") < stride * n_sample)
    if centroid_mod:
        in_sample = in_sample | (F.col("n_id") % centroid_mod == 0)
    rows = {
        int(r["n_id"]): [int(x) for x in r["v"]]
        for r in vm.filter(in_sample).collect()
    }
    sample = {
        nid: v for nid, v in rows.items()
        if nid % stride == 0 and nid < stride * n_sample
    }
    _check_stride_sample(sample, n_sample, stride)
    if centroid_mod:
        init = [(nid // centroid_mod, v) for nid, v in rows.items()
                if nid % centroid_mod == 0]
        k_coarse = max(len(init), 1)  # an empty mod sample fails the init check
    else:
        init = [(nid // stride, v) for nid, v in sample.items()
                if nid < stride * k_coarse]
    cents = kmeans_lloyd_micro(
        vectors, vec_col=vec_col, id_col=id_col, dim=dim, k=k_coarse,
        stride=centroid_mod or stride, iters=iters, init_cents=init,
    )
    # residuals: nearest coarse centroid (integer L2, min-c_id ties), r = v − c
    res = _micro_residuals(vm, cents)
    if iters > 0:
        res = res.persist()  # feeds the Lloyd stats rounds
    try:
        cbs = []
        for nid, v in sample.items():
            if nid >= stride * num_codewords:
                continue
            # exact argmin with ties to the smaller c_id (the
            # _micro_argmin_sql (d, c_id)-lexicographic rule, mirrored)
            best_d, best_cid, best_c = None, None, None
            for cid, cv in cents:
                d = sum((a - int(b)) * (a - int(b)) for a, b in zip(v, cv))
                if best_d is None or d < best_d or (d == best_d and cid < best_cid):
                    best_d, best_cid, best_c = d, cid, cv
            r = [a - int(b) for a, b in zip(v, best_c)]
            for m in range(num_subspaces):
                cbs.append((m, nid // stride, r[m * sub:(m + 1) * sub]))
        cbs = sorted(cbs)
        cbs = _lloyd_rounds(
            spark,
            _subspace_slices(res, "r", sub, num_subspaces, "v", ("n_id",)),
            ("m",),
            cbs,
            sub,
            iters,
        )
        return cents, cbs
    finally:
        # Operator-owned cache lifetime: the persisted residuals feed the
        # stats rounds; release them NOW rather than leak into the
        # caller's session.  Consumers recompute residuals from the
        # returned model — one extra pass, the price of not parking cache
        # on the caller.
        if iters > 0:
            res.unpersist(False)


def ivfpq_encode_micro(
    vectors: DataFrame,
    cents: list,
    cbs: list,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_subspaces: int = 4,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Encode the corpus against a trained IVFADC model: ONE shuffle-free
    projection (n_id, c_list, cmap[, meta...]) — coarse argmin + residual +
    per-subspace residual-codeword argmin, all map-side (see
    ivf_pq_topk_lloyd_micro's plan-shape note).

    The coarse assignment is _micro_nearest, so its expression form is
    picked by model size — literal up to _ENCODE_LITERAL_MAX centroids,
    the broadcast model past it (r9: what lets the persisted-IVFADC
    mutation path run at corpus-grain quantizers)."""
    sub = _subspace_width(dim, num_subspaces)
    vm = vectors.select(
        F.col(id_col).alias("n_id"),
        quantize_micro(F.col(vec_col)).alias("v"),
        *[F.col(c) for c in meta_cols],
    )
    res = _micro_residuals(vm, cents, meta_cols)
    return res.select(
        "n_id",
        "c_list",
        _micro_code_map("r", cbs, sub, num_subspaces).alias("cmap"),
        *[F.col(c) for c in meta_cols],
    )


def ivfpq_scored_micro(
    codes_wide: DataFrame,
    queries: DataFrame,
    cents: list,
    cbs: list,
    dim: int = 64,
    nprobe: int = 2,
    num_subspaces: int = 4,
    num_codewords: int = 8,
    probe_list_type: str | None = None,
) -> DataFrame:
    """The ADC-scored candidates (q_id, n_id, pr, adc_q) of an encoded
    IVFADC corpus `codes_wide` (n_id, c_list, cmap — from
    ivfpq_encode_micro or a persisted index scan), before any top-k cut:
    probe selection (_micro_nearest), per-(query, probed list) ADC lookup
    maps as a pure projection, then the shared probe join (_probe_join).
    `pr` is the 0-based probe rank of the candidate's list for its query,
    so ONE all-lists relation (nprobe = K) serves every smaller nprobe by
    the filter pr < nprobe — the factoring sim_ann_ivfpq_curve sweeps
    over.  `probe_list_type`: the c_list partition type of a persisted
    codes scan (see _probe_join)."""
    sub = _subspace_width(dim, num_subspaces)
    # probes: nprobe nearest coarse lists per query (_micro_nearest, the
    # same size switch as the encode); query residual per list
    qm = queries.select("q_id", quantize_micro(F.col("q_vec")).alias("qv"))
    probes = _micro_nearest(
        qm, "qv", cents, ("q_id", "qv"), nprobe=nprobe, with_center=True
    ).select(
        "q_id",
        "pr",
        F.col("p")["c_id"].alias("c_list"),
        F.zip_with(F.col("qv"), F.col("p")["c"], lambda x, y: x - y).alias("qr"),
    )
    amaps = probes.select(
        "q_id",
        "pr",
        "c_list",
        _micro_adc_map("qr", cbs, sub, num_subspaces, num_codewords).alias("amap"),
    )
    adc = _adc_sum(num_subspaces, num_codewords)
    return _probe_join(
        amaps, codes_wide, "adc_q", adc, part_type=probe_list_type
    ).select("q_id", "n_id", "pr", "adc_q")


def ivfpq_rank_micro(
    codes_wide: DataFrame,
    queries: DataFrame,
    cents: list,
    cbs: list,
    dim: int = 64,
    k: int = 5,
    nprobe: int = 2,
    num_subspaces: int = 4,
    num_codewords: int = 8,
    probe_list_type: str | None = None,
) -> DataFrame:
    """ADC top-k over an encoded IVFADC corpus: ivfpq_scored_micro's
    candidates cut per query.  Output (q_id, n_id, adc_q, rk); smaller =
    nearer."""
    scored = ivfpq_scored_micro(
        codes_wide, queries, cents, cbs, dim, nprobe, num_subspaces,
        num_codewords, probe_list_type,
    )
    return _topk_per_query(scored, "adc_q", k)


def sq8_scale(vectors: DataFrame, vec_col: str = "embedding") -> float:
    """Trained symmetric SQ8 scale: 127 / max|component| over the corpus
    (the symmetric variant of FAISS's ScalarQuantizer QT_8bit training —
    Jégou et al.'s scalar-quantization baseline tier).  One scalar probe;
    max of floats is exact and the division is a single correctly-rounded
    IEEE op, so both engines derive the bit-identical double."""
    mx = vectors.agg(
        F.max(
            F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x.cast("double"))))
        )
    ).first()[0]
    return 127.0 / float(mx)


def sq8_encode(c: Column, scale: float) -> Column:
    """Element-wise int8 code: clamp(floor(x·scale + 0.5), -127, 127) as
    array<long> — one correctly-rounded multiply then exact integer ops,
    the quantize_micro discipline at 8-bit width."""
    return F.transform(
        c,
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)).cast("long"),
            ),
        ),
    )


def sq8_topk(
    vectors: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Top-k by EXACT integer dot product over trained int8 codes — the
    scalar-quantization compression tier between the full-precision scan
    (brute_force_topk) and the codebook tiers (pq_topk_micro): 4× smaller scan
    footprint, no codebook training, distances exact BIGINT arithmetic so
    the whole tier value-gates bit-for-bit.

    Scale shape: codes stream map-side past the broadcast query codes —
    the same embarrassingly-parallel scan cost model as the brute-force
    baseline with a quarter of the bytes; no shuffle until the per-query
    top-k (TakeOrdered-sized window state).
    """
    scale = sq8_scale(vectors, vec_col)
    cand = vectors.select(
        F.col(id_col).alias("n_id"), sq8_encode(F.col(vec_col), scale).alias("nq")
    )
    qs = queries.select("q_id", sq8_encode(F.col("q_vec"), scale).alias("qq"))
    scored = (
        F.broadcast(qs)
        .crossJoin(cand)
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn(
            "dot_q",
            F.expr("aggregate(zip_with(qq, nq, (a, b) -> a * b), 0L, (s, x) -> s + x)"),
        )
    )
    return _topk_per_query(scored, "dot_q", k, desc=True)


def pca_power_micro(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    iters: int = 6,
) -> tuple[list[int], list[int]]:
    """Top principal component by power iteration in EXACT integer
    arithmetic — the Lloyd-training discipline applied to dimensionality
    reduction: every step replays bit-for-bit in a SQL oracle, so even
    the TRAINING is value-gateable.

    Milli-quantized vectors are mean-centered with round-half-away
    integer means; the iteration never materializes the dim×dim
    covariance — each round is the tall-matrix two-pass form
        y_i = Σ_j c_ij·x_j      (map-side fold per row)
        z_j = Σ_i c_ij·y_i      (one explode + 64-key aggregation)
    with the z sums carried as DECIMAL(38,0) (exact and associative at
    any row count; DuckDB mirrors with HUGEINT), then x is rescaled to
    ≤1e6 by q = max(1, (max|z|+999999) // 1e6), x'_j = sign·(|z_j| // q)
    — floor division on non-negative operands, identical in Python,
    Spark and DuckDB.  Start vector x0_j = 1e6 + j (deterministic, not
    axis-aligned).

    Scale shape: the centered frame is persisted once and scanned
    `iters` times; per round the only shuffle is the 64-key partial
    aggregation (map-side combine does the work), and y is computed in
    ONE fold per row (the posexplode carries it, so CollapseProject
    cannot re-inline it per output column).  Row-local products stay
    under ~1e14, far inside int64.

    Returns (means, component): both length-`dim` integer lists (milli
    means, micro-unit component).
    """
    vm = vectors.select(
        F.col(id_col).alias("n_id"), quantize_micro(F.col(vec_col), 1e3).alias("v")
    )
    agg = vm.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.col("v")[j]).alias(f"s{j}") for j in range(dim)],
    ).first()
    n = int(agg["n"])
    means = [_round_half_away(int(agg[f"s{j}"]), n) for j in range(dim)]
    mean_arr = "array(" + ",".join(f"{m}L" for m in means) + ")"
    cen = vm.select(
        "n_id", F.expr(f"zip_with(v, {mean_arr}, (a, b) -> a - b)").alias("c")
    ).persist()
    x = [1_000_000 + j for j in range(dim)]
    try:
        for _ in range(iters):
            x_arr = "array(" + ",".join(f"{xi}L" for xi in x) + ")"
            y = F.expr(
                f"aggregate(zip_with(c, {x_arr}, (a, b) -> a * b), 0L, (s, e) -> s + e)"
            )
            rows = (
                cen.select(y.alias("y"), F.posexplode("c").alias("j", "cv"))
                .groupBy("j")
                .agg(F.sum((F.col("cv") * F.col("y")).cast("decimal(38,0)")).alias("z"))
                .collect()
            )
            z = [0] * dim
            for r in rows:
                z[int(r["j"])] = int(r["z"])
            mx = max(abs(e) for e in z)
            q = max(1, (mx + 999_999) // 1_000_000)
            x = [e // q if e >= 0 else -((-e) // q) for e in z]
        return means, x
    finally:
        cen.unpersist()
