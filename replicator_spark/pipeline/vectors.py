"""Vector/embedding storage operators: int8 scalar quantization.

The standard ANN-index compression step (4× smaller than float32,
~16× smaller than the float64 working form): per-vector symmetric
scale = max|x|/127, q_i = round(x_i/scale) clamped to [-127, 127] by
construction. Emits the quantization stats + reconstruction error per
vector.

Scale shape (100 TB): pure map-side array expressions — one scan, zero
shuffles, whole-stage codegen. Rounding is floor(x/scale + 0.5) in
BOTH engines (F.round/DuckDB round differ on .5 ties in sign handling;
floor(+0.5) is tie-deterministic everywhere), and all reductions are
sequential folds so the doubles match bit-for-bit.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..session import fan_out, no_aqe as _no_aqe, prep, read_table
from ..utils import round_half_away

_EPS = 1e-30  # all-zero-vector guard


def quantize_int8_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    scale = (
        F.greatest(
            F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(_EPS)
        )
        / 127
    )
    scaled = emb.select("vec_id", "v", scale.alias("scale"))
    qv = F.transform(
        "v", lambda x: F.floor(x / F.col("scale") + F.lit(0.5))
    )
    quant = scaled.select("vec_id", "v", "scale", qv.alias("qv"))
    sq_err = F.zip_with(
        "v", "qv",
        lambda x, q: F.pow(x - q.cast("double") * F.col("scale"), 2),
    )
    mse = (
        F.aggregate(sq_err, F.lit(0.0), lambda acc, e: acc + e)
        / F.size("v")
    )
    return quant.select(
        "vec_id",
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda acc, q: acc + q
        ).alias("q_sum"),
        F.round(F.col("scale"), 9).alias("scale_r"),
        F.round(mse, 12).alias("mse_r"),
    )


QUANTIZE_INT8_SQL = f"""
WITH emb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), scaled AS (
    SELECT vec_id, v,
        greatest(list_max(list_transform(v, x -> abs(x))), {_EPS}) / 127
            AS scale
    FROM emb
), quant AS (
    SELECT vec_id, v, scale,
        list_transform(v, x -> floor(x / scale + 0.5)) AS qv
    FROM scaled
)
SELECT vec_id,
    CAST(list_min(qv) AS BIGINT) AS q_min,
    CAST(list_max(qv) AS BIGINT) AS q_max,
    CAST(list_sum(qv) AS BIGINT) AS q_sum,
    round(scale, 9) AS scale_r,
    round(list_reduce(
        list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(1, len(v) + 1),
                           i -> pow(v[i] - qv[i] * scale, 2))),
        (acc, e) -> acc + e) / len(v), 12) AS mse_r
FROM quant
"""

# ------------------------------------------------------------- centroids
#
# Per-label embedding centroid (class prototype / cluster mean) — the
# building block of k-means assignment, IVF coarse quantizers, and
# label-prototype classifiers. Long form (label, dim, value) rather
# than array form so the aggregation is an ordinary combiner-backed
# groupBy on (label, dim): at 100 TB the posexplode is a narrow
# map-side transform and the shuffle carries one partial sum per
# (label, dim) per task — #labels × dim rows total, independent of
# vector count. Sums are DECIMAL so every accumulation order yields
# the identical result cross-engine (float64 addition is not
# associative; decimal is exact).


def centroids_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return (
        comp.groupBy("label", "dim")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(
                F.col("x").cast("double").cast("decimal(28,10)")
            ).alias("s"),
        )
        .select(
            "label",
            "dim",
            "n_vecs",
            # floor(x*1e9 + 0.5)/1e9: tie-deterministic rounding on
            # identical doubles (F.round/DuckDB round diverge on ties)
            (
                F.floor(
                    F.col("s").cast("double") / F.col("n_vecs") * 1e9
                    + F.lit(0.5)
                )
                / 1e9
            ).alias("centroid"),
        )
    )


CENTROIDS_SQL = """
WITH comp AS (
    SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        unnest(embedding) AS x
    FROM embeddings
)
SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
    floor(CAST(SUM(CAST(CAST(x AS DOUBLE) AS DECIMAL(28,10))) AS DOUBLE)
          / COUNT(*) * 1e9
          + 0.5) / 1e9 AS centroid
FROM comp GROUP BY label, dim
"""

# ------------------------------------------------- per-dimension stats
#
# The feature-health profile of an embedding column (dead dims, scale
# drift, outliers) — what you check before training an ANN index or
# whitening. Same posexplode→combiner shape as centroids: the shuffle
# carries dim-count partial rows per task, independent of vector count.
# Variance uses DECIMAL-exact sums; the final sqrt is IEEE
# correctly-rounded in both engines, so round-6 output is stable.


def dim_stats_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("xd")
    )
    # (15,10) keeps the product within both engines' 38-digit cap:
    # (15,10)×(15,10) → (31,20) exact in Spark and DuckDB alike.
    xdec = F.col("xd").cast("decimal(15,10)")
    sums = comp.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(xdec).alias("sx"),
        F.sum(xdec * xdec).alias("sxx"),
        F.min("xd").alias("mn"),
        F.max("xd").alias("mx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    var = (n * sxx - sx * sx) / (n * n)
    return sums.select(
        "dim",
        "n",
        F.round(sx / n, 6).alias("mean"),
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 6).alias("std"),
        F.round("mn", 6).alias("min_x"),
        F.round("mx", 6).alias("max_x"),
    )


DIM_STATS_SQL = """
WITH comp AS (
    SELECT generate_subscripts(embedding, 1) - 1 AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xd
    FROM embeddings
), sums AS (
    SELECT dim, COUNT(*) AS n,
        SUM(CAST(xd AS DECIMAL(15,10))) AS sx,
        SUM(CAST(xd AS DECIMAL(15,10)) * CAST(xd AS DECIMAL(15,10)))
            AS sxx,
        MIN(xd) AS mn, MAX(xd) AS mx
    FROM comp GROUP BY dim
)
SELECT dim, n,
    round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
    round(sqrt(greatest(
        (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 0.0)), 6) AS std,
    round(mn, 6) AS min_x,
    round(mx, 6) AS max_x
FROM sums
"""

# ------------------------------------------------- covariance matrix
#
# The d×d covariance of the embedding column — the input to PCA /
# whitening / low-rank compression. Distributed shape: the outer
# product expands MAP-SIDE per vector (upper triangle only, d(d+1)/2
# struct entries) and the groupBy(di,dj) agg is combiner-backed, so
# the shuffle carries one partial row per (di,dj) per task — d²-bounded,
# independent of vector count. Products are DECIMAL-exact ((15,10)² →
# (31,20), within both engines' 38-digit cap); only the final
# (n·Sij − Si·Sj)/n² runs in doubles (correctly-rounded IEEE ops on
# identical inputs).


_COV_SCHEMA = "k int, n long, spp decimal(38,20), sx decimal(25,10)"


def _cov_partial(batches):
    """mapInArrow per-task partials for the covariance grid (guide
    §4.2 — the old path exploded d(d+1)/2 BigDecimal product structs
    per row, 4.16M decimal multiplies at sf0.1).

    Exactness: components quantize through _dec15_10_scaled (the exact
    Spark CAST(double AS DECIMAL(15,10)) as scaled int64, repr-fallback
    on .5 boundaries), per-batch Gram pieces use the 16-bit split of
    _gram_partial (int64-safe per ≤10k-row Arrow batch for |x| ≤ ~60;
    the corpus is unit-normalized, |x| ≤ 0.58), and cross-batch
    accumulation is object-dtype (arbitrary-precision Python ints), so
    the per-task Σ qᵢqⱼ is exact at ANY task size. The partial is
    emitted as decimal(38,20) with unscaled value Σ qᵢqⱼ — i.e. the
    exact decimal Σ xᵢxⱼ the old per-row (15,10)×(15,10) products
    summed — so the Spark-side SUM(decimal(38,20)) and the final
    CAST(... AS DOUBLE) keep the old aggregate's semantics verbatim.
    Per-dim component sums ride the same pass as decimal(25,10)
    (k = 100000 + dim), replacing the second posexplode scan."""
    import numpy as np
    import pyarrow as pa

    d = None
    n = 0
    ga = gab = gb = sx = None
    for batch in batches:
        col = batch.column(0)
        if not len(col):
            continue
        vals = col.flatten().to_numpy(zero_copy_only=False)
        if d is None:
            d = len(vals) // len(col)
        v = vals.reshape(len(col), d)
        q = _dec15_10_scaled(v)
        a = q >> 16
        b = q & 0xFFFF
        pga = (a.T @ a).astype(object)
        pgab = (a.T @ b + b.T @ a).astype(object)
        pgb = (b.T @ b).astype(object)
        psx = q.sum(axis=0).astype(object)
        if ga is None:
            ga, gab, gb, sx = pga, pgab, pgb, psx
        else:
            ga += pga
            gab += pgab
            gb += pgb
            sx += psx
        n += len(col)
    if n == 0:
        return
    from decimal import Decimal

    iu = np.triu_indices(d)
    spp = [
        Decimal(
            int((int(ga[i, j]) << 32) + (int(gab[i, j]) << 16)
                + int(gb[i, j]))
        ).scaleb(-20)
        for i, j in zip(iu[0], iu[1])
    ]
    zero20 = Decimal(0).scaleb(-20)
    zero10 = Decimal(0).scaleb(-10)
    ks = list(range(len(iu[0]))) + [100000 + i for i in range(d)]
    yield pa.RecordBatch.from_pydict(
        {
            "k": ks,
            "n": [n] * len(ks),
            "spp": spp + [zero20] * d,
            "sx": [zero10] * len(iu[0])
            + [Decimal(int(x)).scaleb(-10) for x in sx],
        },
        schema=pa.schema(
            [
                ("k", pa.int32()),
                ("n", pa.int64()),
                ("spp", pa.decimal128(38, 20)),
                ("sx", pa.decimal128(25, 10)),
            ]
        ),
    )


def covariance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    d = 64
    emb = fan_out(
        read_table(spark, sf_dir, "embeddings"), TRAINER_BYTES_PER_TASK
    ).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # ONE vectorized pass (guide §4.2) replaces the per-row
    # 2080-struct BigDecimal explode AND the second per-dim posexplode
    # scan; partials are d(d+1)/2 + d rows per task regardless of
    # corpus size (guide §2.3 aggregate-before-shuffle) and carry the
    # exact decimal sums — see _cov_partial. The final cov expression
    # and its rounding run unchanged in Spark.
    tot = (
        emb.mapInArrow(_cov_partial, _COV_SCHEMA)
        .groupBy("k")
        .agg(
            F.sum("n").alias("n"),
            F.sum("spp").alias("spp"),
            F.sum("sx").alias("sx"),
        )
        .persist()  # 2144 rows; consumed by sums + both join sides —
        # un-cached each would re-scan the corpus (r9 scan audit)
    )
    kmap = []
    k = 0
    for i in range(d):
        for j in range(i, d):
            kmap.append((k, i, j))
            k += 1
    kdf = F.broadcast(
        spark.createDataFrame(kmap, "k int, di int, dj int")
    )
    sums = (
        tot.where(F.col("k") < 100000)
        .join(kdf, "k")
        .select("di", "dj", "n", "spp")
    )
    comp = tot.where(F.col("k") >= 100000).select(
        (F.col("k") - 100000).alias("dim"), F.col("sx").alias("sx")
    )
    si = comp.select(F.col("dim").alias("di"), F.col("sx").alias("si"))
    sj = comp.select(F.col("dim").alias("dj"), F.col("sx").alias("sj"))
    j = sums.join(F.broadcast(si), "di").join(F.broadcast(sj), "dj")
    n = F.col("n").cast("double")
    cov = (
        n * F.col("spp").cast("double")
        - F.col("si").cast("double") * F.col("sj").cast("double")
    ) / (n * n)
    return j.select(
        "di",
        "dj",
        "n",
        # + 0.0 canonicalizes IEEE negative zero (round can yield -0.0)
        (F.round(cov, 6) + F.lit(0.0)).alias("cov"),
    )


COVARIANCE_SQL = """
WITH comp AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
), pairs AS (
    SELECT a.d AS di, b.d AS dj,
        CAST(a.x AS DECIMAL(15,10)) * CAST(b.x AS DECIMAL(15,10)) AS p
    FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d <= b.d
), sums AS (
    SELECT di, dj, COUNT(*) AS n, SUM(p) AS spp
    FROM pairs GROUP BY di, dj
), dsums AS (
    SELECT d, SUM(CAST(x AS DECIMAL(15,10))) AS sx FROM comp GROUP BY d
)
SELECT di, dj, n,
    round((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
           - CAST(a.sx AS DOUBLE) * CAST(b.sx AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) + 0.0 AS cov
FROM sums JOIN dsums a ON a.d = di JOIN dsums b ON b.d = dj
"""

# ------------------------------------------------- top principal component
#
# Power iteration on the d×d covariance: the PCA/whitening step that
# consumes emb_covariance above. Distributed shape is the textbook
# one (same as Spark MLlib RowMatrix.computePrincipalComponents): the
# 100 TB corpus reduces to a CONSTANT-SIZE d×d Gram/covariance via the
# map-side outer-product agg, and the eigensolve runs driver-side on
# that d² matrix — collecting it is not a driver-side data loop, it is
# the O(d²) reduction output (d=64 → 2080 upper-triangle rows).
#
# Determinism: fixed start vector (1/√d = 0.125 — dyadic, exact),
# fixed squaring count, max-abs matrix normalization each squaring,
# sign fixed by making the largest-|loading| coordinate positive. No
# RNG, no convergence-dependent branching. PCA_SQUARINGS = 10 repeated
# squarings compute the direction of C^1024·v₀ — the SAME subspace
# convergence as 1024 classic power steps (the driver corpus's
# embedding spectrum is near-flat: λ₂/λ₁ ≈ 0.987 ⇒ 0.987^1024 ≈ 2e-6
# residual) — but in 10 dense 64×64×64 matmuls instead of 1024
# data-dependent sequential matvecs, which is what makes the step
# count small enough to mirror in SQL.
#
# ORACLE-EXACT (round-4 verdict item #2): the driver math is plain
# Python SEQUENTIAL folds — every matmul/matvec cell accumulates
# k = 0..d-1 in order starting from 0.0 over the 6-dp-rounded
# covariance the already-green emb_covariance oracle reproduces
# bit-for-bit, and each squaring divides by the max-|entry| (an
# order-free exact reduction). The DuckDB twin unrolls the 10
# squarings as chained CTEs over (i, row) tables — a vectorized
# 4096-row self-join per squaring, symmetric so dot(row_i, row_j)
# IS cell (i,j) — replaying the identical left folds (list_reduce;
# 0.0 + x == x exactly). Every intermediate double is bit-identical
# in both engines, so the op gets a FULL value-hash driver row, not
# rows-only. The unit test still cross-checks the converged direction
# against numpy.linalg.eigh.

PCA_SQUARINGS = 10  # C^(2^10): ≡ 1024 power-iteration steps


def pca_power_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding covariance: one row per
    dimension with its loading, plus the shared top eigenvalue."""
    import math

    prep(spark)
    tri = covariance_query(spark, sf_dir).select(
        "di", "dj", "cov"
    ).collect()  # d(d+1)/2 rows — constant-size reduction output
    d = max(r["dj"] for r in tri) + 1
    cov = [[0.0] * d for _ in range(d)]
    for r in tri:
        cov[r["di"]][r["dj"]] = r["cov"]
        cov[r["dj"]][r["di"]] = r["cov"]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):  # sequential — mirrors list_reduce
            acc += x * y
        return acc

    m = cov
    for _ in range(PCA_SQUARINGS):
        # m is symmetric, so cell (i,j) of m·m is dot(row_i, row_j)
        sq = [[dot(m[i], m[j]) for j in range(d)] for i in range(d)]
        mx = max(abs(x) for row in sq for x in row)  # order-free max
        m = [[x / mx for x in row] for row in sq]
    # v = normalize(m · v0), v0 = 0.125 const (drops out of direction)
    w = [dot(m[i], [0.125] * d) for i in range(d)]
    nrm = math.sqrt(dot(w, w))
    v = [x / nrm for x in w]
    # sign fix: first coordinate of max |loading| made positive
    av = [abs(x) for x in v]
    if v[av.index(max(av))] < 0:
        v = [-x for x in v]
    # Rayleigh quotient against the ORIGINAL covariance
    eigval = dot(v, [dot(cov[i], v) for i in range(d)])
    rows = [
        (i, round_half_away(v[i], 6), round_half_away(eigval, 6))
        for i in range(d)
    ]
    return spark.createDataFrame(
        rows, "dim int, loading double, eigenvalue double"
    )


def _pca_power_sql() -> str:
    """Unrolled-CTE twin of pca_power_query: same cov (the green
    emb_covariance SQL), same squaring chain, same sequential folds."""
    d = 64  # embedding dim (the pipeline-wide constant)
    # dot(row_a, row_b) as the sequential left fold both engines share
    dotf = (
        f"list_reduce(list_transform(range(1, {d + 1}), "
        "k -> {a}[k] * {b}[k]), (x, y) -> x + y)"
    )
    sq_ctes = []
    prev = "m0"
    for s in range(1, PCA_SQUARINGS + 1):
        cur = f"m{s}"
        sq_ctes.append(f"""sq{s} AS MATERIALIZED (
    SELECT a.i AS i, list({dotf.format(a='a.row', b='b.row')}
                          ORDER BY b.i) AS row
    FROM {prev} a, {prev} b GROUP BY a.i
), mx{s} AS (
    SELECT MAX(list_aggregate(list_transform(row, x -> abs(x)), 'max'))
        AS mx FROM sq{s}
), {cur} AS MATERIALIZED (
    SELECT i, list_transform(row, x -> x / mx) AS row
    FROM sq{s}, mx{s}
)""")
        prev = cur
    return f"""
WITH comp AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
        CAST(unnest(embedding) AS DOUBLE) AS x
    FROM embeddings
), cpairs AS (
    SELECT a.d AS di, b.d AS dj,
        CAST(a.x AS DECIMAL(15,10)) * CAST(b.x AS DECIMAL(15,10)) AS p
    FROM comp a JOIN comp b ON a.vec_id = b.vec_id AND a.d <= b.d
), csums AS (
    SELECT di, dj, COUNT(*) AS n, SUM(p) AS spp
    FROM cpairs GROUP BY di, dj
), dsums AS (
    SELECT d, SUM(CAST(x AS DECIMAL(15,10))) AS sx FROM comp GROUP BY d
), covtri AS (
    SELECT di, dj,
        round((CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
               - CAST(a.sx AS DOUBLE) * CAST(b.sx AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) + 0.0 AS cov
    FROM csums JOIN dsums a ON a.d = di JOIN dsums b ON b.d = dj
), covfull AS (
    SELECT di, dj, cov FROM covtri
    UNION ALL
    SELECT dj, di, cov FROM covtri WHERE di <> dj
), m0 AS MATERIALIZED (
    SELECT di AS i, list(cov ORDER BY dj) AS row
    FROM covfull GROUP BY di
), {", ".join(sq_ctes)}, wv AS MATERIALIZED (
    SELECT i, {dotf.format(
        a='row', b=f"list_transform(range(1, {d + 1}), q -> 0.125)")} AS w
    FROM {prev}
), vn AS (
    SELECT list(w / nrm ORDER BY i) AS v
    FROM wv, (
        SELECT sqrt({dotf.format(a='wl', b='wl')}) AS nrm
        FROM (SELECT list(w ORDER BY i) AS wl FROM wv))
), fin AS MATERIALIZED (
    SELECT CASE WHEN v[list_position(av, list_aggregate(av, 'max'))] < 0
                THEN list_transform(v, x -> -x) ELSE v END AS v
    FROM (SELECT v, list_transform(v, x -> abs(x)) AS av FROM vn)
), cu AS (
    SELECT m0.i AS i, {dotf.format(a='m0.row', b='fin.v')} AS u
    FROM m0, fin
), ray AS (
    SELECT v, round({dotf.format(a='v', b='ul')}, 6) + 0.0 AS eigenvalue
    FROM fin, (SELECT list(u ORDER BY i) AS ul FROM cu)
)
SELECT i - 1 AS dim, round(v[i], 6) + 0.0 AS loading, eigenvalue
FROM ray, UNNEST(range(1, {d + 1})) AS t(i)
"""


# ------------------------------------------------- k-means (Lloyd's)
#
# The codebook trainer behind IVF coarse quantizers and PQ subspace
# codebooks — the canonical iterative-ML workload. Distributed shape
# per Lloyd iteration (the MLlib shape):
#   assign: vectors ⋈ broadcast(K centroids) → argmin distance —
#           map-side only, the corpus is never shuffled for assignment
#   update: per-(cluster, dim) DECIMAL-exact component sums — one
#           combiner-backed exchange whose output is K×d rows
#           (constant), collected to the driver to rebuild the
#           broadcast literal for the next round
# So each iteration = 1 scan + 1 constant-output shuffle; the driver
# holds only K×d numbers. 100 TB cost is ITERS linear passes.
#
# Determinism: init = the K vectors with the smallest md5(vec_id)
# (deterministic pseudo-random, engine-independent); component sums in
# DECIMAL(15,10) (order-exact); centroids rounded to 6 dp between
# rounds so every distance compares identical doubles; fixed ITERS (no
# data-dependent stopping).
#
# ORACLE-EXACT (round-4 verdict item #2): because every per-round
# artifact is either an order-free exact reduction (DECIMAL sums,
# counts) or a sequential double fold (the distance zip_with/aggregate
# == DuckDB list_reduce), the WHOLE fixed-round loop unrolls into
# KMEANS_ITERS chained CTE blocks (_kmeans_sql) — assignment via a
# ROW_NUMBER argmin with the same (d2, cid) tie order as F.min(struct),
# centroid updates via round(CAST(sx AS DOUBLE)/n, 6) on the identical
# decimal sums, empty clusters kept via COALESCE with the previous
# round. Every centroid double is bit-identical in both engines, so
# the op gets a FULL value-hash driver row, not rows-only. The unit
# test still replays the algorithm in numpy as an independent pin.

KMEANS_K = 8
KMEANS_ITERS = 5

# Per-task input budget for the ITERATIVE trainer corpora (k-means /
# PQ Lloyd loops). Each training round re-schedules one task per
# partition of the persisted working set, so fan-out width beyond
# input bytes/this trades no compute win for per-round scheduler
# latency (measured: a 2000-row sf0.1 round costs 1.5-2.1 s at 32
# partitions vs 0.8-1.0 s at ~4).
TRAINER_BYTES_PER_TASK = 256 << 10


def _book_df(spark: SparkSession, cents: list[list[float]]):
    """The K centroids as a broadcast ONE-ROW DataFrame carrying the
    whole codebook as array<struct<cid, c>> — the _pq_assign pattern
    (r14 optimization round, guide §1.2 step 2). The old literal-array
    shape embedded K·d literal doubles in the plan, so every Lloyd
    round produced a DIFFERENT plan and recompiled its whole-stage
    codegen; as broadcast DATA the plan (and its cached codegen) is
    identical across rounds and across the trainer queries. Element
    order (cid 0..K-1) and the double values are bit-identical to the
    literal form, so every distance fold sees the same IEEE inputs in
    the same order."""
    return F.broadcast(
        spark.createDataFrame(
            [([(i, [float(x) for x in c]) for i, c in enumerate(cents)],)],
            "book array<struct<cid int, c array<double>>>",
        )
    )


def _assign(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """vec rows + cluster id of the nearest centroid (squared L2).

    Fully map-side but for the 1-row broadcast codebook attach
    (BroadcastNestedLoopJoin — no shuffle of the corpus side): the
    argmin is array_min over per-centroid (d2, cid) structs — struct
    ordering gives the same (distance, then lower cid) tie order as
    the previous F.min(F.struct(...)) formulation, WITHOUT its
    explode + groupBy(vec_id), which shuffled the whole corpus once
    per Lloyd round (n×K rows through an exchange; at 100 TB that
    shuffle, not the distance math, was the plan's cost)."""
    best = F.array_min(
        F.transform(
            F.col("book"),
            lambda t: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"), t["c"], lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d2"),
                t["cid"].alias("cid"),
            ),
        )
    )
    return emb.crossJoin(_book_df(emb.sparkSession, cents)).select(
        "vec_id",
        "v",
        best["cid"].alias("cid"),
        best["d2"].alias("d2"),
    )


def _km_assign_arrow(
    emb: DataFrame,
    cents: list[list[float]],
    *,
    with_vec_id: bool = False,
    second: bool = False,
) -> DataFrame:
    """Vectorized serving-pass twin of ``_assign`` / ``_assign2`` (r15
    optimization round, guide §4.2): the per-row interpreted HOF
    distance folds (CodegenFallback, ~0.45 s/pass over the sf0.1
    corpus) become one numpy pass per Arrow batch. Bit-exactness
    contract (pinned by tests against the fold formulations):
    - d2 accumulates dim-by-dim from 0.0 in ascending dim order —
      float64 adds in the same IEEE order as
      ``aggregate(zip_with(...), 0.0, +)``;
    - nearest ties break to the LOWEST cid (np.argmin first
      occurrence over cid-ordered columns = array_min struct order);
    - the second-nearest comes from a STABLE argsort over (d2, cid) —
      the array_sort struct order of ``_assign2``.
    All rounding/decimal aggregation stays in Spark, unchanged."""
    import numpy as np
    import pyarrow as pa

    C = np.asarray(cents, dtype=np.float64)
    cols = (["vec_id"] if with_vec_id else []) + ["v"]

    def fn(batches):
        K, D = C.shape
        for batch in batches:
            names = batch.schema.names
            col = batch.column(names.index("v"))
            n = len(col)
            if not n:
                continue
            v = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, D)
                .astype(np.float64, copy=False)
            )
            d2 = np.zeros((n, K))
            for dim in range(D):
                diff = v[:, dim][:, None] - C[:, dim][None, :]
                d2 = d2 + diff * diff
            out = {}
            if with_vec_id:
                out["vec_id"] = batch.column(names.index("vec_id"))
            rows = np.arange(n)
            if second:
                order = np.argsort(d2, axis=1, kind="stable")
                cid = order[:, 0]
                out["cid"] = pa.array(cid.astype(np.int32), pa.int32())
                out["d2"] = pa.array(d2[rows, cid], pa.float64())
                out["d2b"] = pa.array(
                    d2[rows, order[:, 1]], pa.float64()
                )
            else:
                cid = np.argmin(d2, axis=1)
                out["cid"] = pa.array(cid.astype(np.int32), pa.int32())
                out["d2"] = pa.array(d2[rows, cid], pa.float64())
            yield pa.RecordBatch.from_pydict(out)

    schema = (
        ("vec_id long, " if with_vec_id else "")
        + "cid int, d2 double"
        + (", d2b double" if second else "")
    )
    return emb.select(*cols).mapInArrow(fn, schema)


def _pq_assign_arrow(subs: DataFrame, cents: dict) -> DataFrame:
    """Vectorized serving-pass twin of ``_pq_assign`` — the
    ``_km_assign_arrow`` surgery per subspace. Same bit-exactness
    contract; returns (vec_id, sub, cid, d2) row-aligned with the
    input."""
    import numpy as np
    import pyarrow as pa

    books: dict = {}
    for (s, i), c in sorted(cents.items()):
        books.setdefault(s, []).append(c)
    mats = {
        s: np.asarray(rows, dtype=np.float64) for s, rows in books.items()
    }

    def fn(batches):
        for batch in batches:
            names = batch.schema.names
            sub = batch.column(names.index("sub")).to_numpy(
                zero_copy_only=False
            )
            col = batch.column(names.index("subv"))
            n = len(col)
            if not n:
                continue
            first = mats[next(iter(mats))]
            D = first.shape[1]
            v = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, D)
                .astype(np.float64, copy=False)
            )
            cid = np.zeros(n, dtype=np.int32)
            d2min = np.zeros(n, dtype=np.float64)
            for s, C in mats.items():
                smask = sub == s
                if not smask.any():
                    continue
                vs = v[smask]
                K = C.shape[0]
                d2 = np.zeros((len(vs), K))
                for dim in range(D):
                    diff = vs[:, dim][:, None] - C[:, dim][None, :]
                    d2 = d2 + diff * diff
                c = np.argmin(d2, axis=1)
                cid[smask] = c.astype(np.int32)
                d2min[smask] = d2[np.arange(len(vs)), c]
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": batch.column(names.index("vec_id")),
                    "sub": batch.column(names.index("sub")),
                    "cid": pa.array(cid, pa.int32()),
                    "d2": pa.array(d2min, pa.float64()),
                }
            )

    return subs.select("vec_id", "sub", "subv").mapInArrow(
        fn, "vec_id long, sub int, cid int, d2 double"
    )


def _dec15_10_scaled(v):
    """Elementwise Spark ``CAST(double AS DECIMAL(15,10))`` as scaled
    int64 (value × 10¹⁰), vectorized.

    Spark's cast goes through Double.toString (shortest round-trip
    decimal digits) and HALF_UP-rounds to 10 places. Fast path:
    half-away rounding of v·1e10 in float64; every element whose
    scaled value lands within 1e-2 of a .5 boundary (which covers the
    double-multiply representation error up to |v| ≈ 4e4, far past
    embedding range) is redone exactly from repr(v) — Python's repr is
    the same shortest round-trip decimal as Double.toString — so a
    boundary can never flip on the fast path's error."""
    import numpy as np

    t = v * 1e10
    r = np.where(t >= 0, np.floor(t + 0.5), np.ceil(t - 0.5))
    frac = np.abs(t - np.floor(t) - 0.5)
    bad = frac < 1e-2
    if bad.any():
        from decimal import ROUND_HALF_UP, Decimal

        q = Decimal("1e-10")
        for idx in np.argwhere(bad):
            i, j = int(idx[0]), int(idx[1])
            r[i, j] = int(
                Decimal(repr(float(v[i, j])))
                .quantize(q, rounding=ROUND_HALF_UP)
                .scaleb(10)
            )
    return r.astype(np.int64)


def _km_round_fn(cents: list[list[float]]):
    """One Lloyd round as a mapInArrow per-task partial pass (guide
    §4.2): nearest-centroid assignment AND the exact decimal(15,10)
    per-(cid, dim) update sums happen in numpy over whole batches,
    replacing the interpreted HOF distance fold (~0.45 s/pass at
    sf0.1, CodegenFallback) + posexplode + hash-agg round (0.710 →
    0.225 s/round measured, centroids bit-identical over all 5 rounds).

    Bit-exactness contract vs the SQL formulation it replaced:
    - distances accumulate sequentially over dims from 0.0, matching
      ``aggregate(zip_with(...), 0.0, +)``;
    - argmin ties break to the LOWEST cid (np.argmin first occurrence
      over cid-ordered columns = array_min struct(d2, cid) order);
    - update sums are exact: scaled int64 within an Arrow batch (≤
      batch rows × |v|·1e10 ≪ 2⁶³), folded across a partition's
      batches in Python ints (``_fold_partial``), so each partition
      yields one K×d partial set, recombined losslessly by
      ``_reduce_partials``."""
    import numpy as np

    C = np.asarray(cents, dtype=np.float64)

    def fn(batches):
        import numpy as np

        K, D = C.shape
        acc: dict = {}
        for batch in batches:
            col = batch.column(0)
            n = len(col)
            if not n:
                continue
            v = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, D)
                .astype(np.float64, copy=False)
            )
            d2 = np.zeros((n, K))
            for dim in range(D):
                diff = v[:, dim][:, None] - C[:, dim][None, :]
                d2 = d2 + diff * diff
            cid = np.argmin(d2, axis=1)
            r = _dec15_10_scaled(v)
            for k in range(K):
                mask = cid == k
                if mask.any():
                    _fold_partial(acc, (k,), r[mask])
        if acc:
            yield _partial_batch(acc, ["cid"], D)

    return fn


def _fold_partial(acc: dict, key: tuple, rows) -> None:
    """Add one batch's scaled rows to a partition's running
    (per-dim sums, count) for ``key``. The per-batch column sums are
    exact int64; across batches they add as Python ints, so a long
    partition cannot wrap."""
    sums = rows.sum(axis=0).tolist()
    cur = acc.get(key)
    if cur is None:
        acc[key] = [sums, len(rows)]
    else:
        cur[0] = [a + b for a, b in zip(cur[0], sums)]
        cur[1] += len(rows)


def _partial_batch(acc: dict, key_names: list, D: int):
    """A partition's folded partials as ONE Arrow batch: a row per
    (key, dim). Converting the Python-int sums to int64 raises rather
    than wraps if a partition's sum ever leaves the int64 range."""
    import pyarrow as pa

    keys = sorted(acc)
    cols = {
        name: pa.array([k[i] for k in keys for _ in range(D)], pa.int32())
        for i, name in enumerate(key_names)
    }
    cols["dim"] = pa.array(list(range(D)) * len(keys), pa.int32())
    cols["sx"] = pa.array([x for k in keys for x in acc[k][0]], pa.int64())
    cols["n"] = pa.array(
        [acc[k][1] for k in keys for _ in range(D)], pa.int64()
    )
    return pa.RecordBatch.from_pydict(cols)


_KM_PARTIAL_SCHEMA = "cid int, dim int, sx long, n long"

# Per-round partial reduction strategy (r15 optimization round, guide
# §1.2 fewer passes / §5 driver): each Lloyd round's mapInArrow pass
# emits ≤ K×d exact int64 partial rows PER PARTITION. When the total
# partial-row count is small, a driver-side exact integer reduce of the
# collected partials replaces the groupBy + exchange + (AQE-off, so
# un-coalesced) shuffle.partitions-wide reduce stage that ran per round
# — Python bigint summation of scaled-int64 partials is EXACTLY the
# decimal(38,0) SUM it replaces, so centroids stay bit-identical. At
# cluster scale (thousands of partitions) the partial volume exceeds
# the cap and the combiner-backed groupBy path keeps the driver out of
# the data path (guide §5 — the driver should do almost no data work).
_PARTIAL_COLLECT_MAX_ROWS = 1 << 16


def _reduce_partials(part: DataFrame, key_cols: list, n_partial_rows: int):
    """partials frame → {key_tuple: (sum_sx, sum_n)} — driver-side
    exact reduce under the cap, Spark groupBy above it."""
    if n_partial_rows <= _PARTIAL_COLLECT_MAX_ROWS:
        acc: dict = {}
        kn = len(key_cols)
        for row in part.collect():
            k = tuple(row[:kn])
            s, n = acc.get(k, (0, 0))
            acc[k] = (s + row[kn], n + row[kn + 1])
        return acc
    rows = (
        part.groupBy(*key_cols)
        .agg(
            F.sum(F.col("sx").cast("decimal(38,0)")).alias("sx"),
            F.sum("n").alias("n"),
        )
        .collect()
    )
    kn = len(key_cols)
    return {tuple(r[:kn]): (int(r[kn]), r[kn + 1]) for r in rows}


def _km_train(emb: DataFrame) -> list[list[float]]:
    """Run the md5-seeded KMEANS_ITERS Lloyd loop over a persisted
    (vec_id, v) frame and return the trained centroids. Shared by
    kmeans_query and silhouette_query so both audit the SAME
    codebook."""
    with _no_aqe(emb.sparkSession):
        return _km_train_loop(emb)


def _km_train_loop(emb: DataFrame) -> list[list[float]]:
    seeds = (
        emb.withColumn("h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("h")
        .limit(KMEANS_K)
        .select("v")
        .collect()
    )
    cents = [[round_half_away(float(x), 6) for x in r["v"]] for r in seeds]
    # NOTE (r14 optimization round): a width-wise variant (one decimal
    # sum column per dimension, no posexplode) was measured and
    # REVERTED — the 65-aggregate hash agg recompiles its codegen for
    # every Lloyd round's fresh plan and the compile time dwarfed the
    # explode it saved (emb_kmeans training 9.4 s → 31.0 s isolated
    # best-of-3). The surviving shape is the _km_round_fn mapInArrow
    # pass: per-task numpy partials, recombined by a constant-size
    # Spark aggregate (partitions×K×d partial rows never reach the
    # driver — the hash agg's map-side partial keeps the exchange at
    # K×d rows per task regardless of corpus size).
    # partial-volume bound for the per-round reduce strategy: one
    # partition emits ≤ K rows per dim, however many Arrow batches it
    # reads (_fold_partial)
    n_parts = emb.rdd.getNumPartitions()
    d = len(cents[0]) if cents else 0
    n_partial = n_parts * KMEANS_K * d
    for _ in range(KMEANS_ITERS):
        part = emb.select("v").mapInArrow(
            _km_round_fn(cents), _KM_PARTIAL_SCHEMA
        )
        sums = _reduce_partials(part, ["cid", "dim"], n_partial)
        by_cid: dict = {}
        for (cid, dim), (sx, n) in sums.items():
            # int/int true division = the correctly-rounded double of
            # the exact integer sum, identical to float(decimal_sum)
            by_cid.setdefault(cid, {})[dim] = (sx / 10**10, n)
        new_cents = []
        for i, old in enumerate(cents):
            dims = by_cid.get(i)
            if not dims:  # emptied cluster keeps its centroid
                new_cents.append(old)
                continue
            new_cents.append(
                [
                    round_half_away(dims[d][0] / dims[d][1], 6)
                    for d in range(len(old))
                ]
            )
        cents = new_cents
    return cents


def _km_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fan_out(
        read_table(spark, sf_dir, "embeddings"), TRAINER_BYTES_PER_TASK
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def kmeans_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMEANS_K clusters over the embeddings after KMEANS_ITERS Lloyd
    rounds: one row per cluster with size, inertia share, and centroid
    norm (the audit view of a trained coarse quantizer)."""
    prep(spark)
    # the trainer drives KMEANS_ITERS+1 jobs over this frame (seeds +
    # one per Lloyd round); persist so the parquet scan + cast runs
    # once, not per round (at cluster scale: checkpoint the working
    # set). Unpersisted before the final lazily-returned plan.
    emb = _km_corpus(spark, sf_dir).persist()
    cents = _km_train(emb)
    # training jobs are done; the returned plan recomputes its one
    # final pass from parquet rather than pinning executor memory
    emb.unpersist()
    final = _km_assign_arrow(emb, cents)
    norm = [
        # math.sqrt (IEEE correctly-rounded, = SQL sqrt) — not ** 0.5,
        # whose libm pow is not guaranteed identical cross-engine
        round_half_away(_math.sqrt(sum(x * x for x in c)), 6) for c in cents
    ]
    norm_lit = F.array(*[F.lit(x) for x in norm])
    return (
        final.groupBy("cid")
        .agg(
            F.count("*").alias("n_members"),
            F.round(
                F.sum(F.round(F.col("d2"), 9).cast("decimal(20,9)"))
                .cast("double"),
                4,
            ).alias("inertia"),
        )
        .withColumn(
            "centroid_norm", F.element_at(norm_lit, F.col("cid") + 1)
        )
    )


_KM_DIST = (
    "list_reduce(list_transform(range(1, 65), "
    "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), (x, y) -> x + y)"
)


def _km_cents_ctes() -> tuple[str, str]:
    """The unrolled k-means training CTE chain (md5 seeds,
    KMEANS_ITERS Lloyd rounds of argmin-assign + DECIMAL-exact
    centroid update); returns (ctes, final-centroid CTE name).
    Shared by the kmeans and silhouette oracles."""
    blocks = []
    prev = "cents0"
    for r in range(1, KMEANS_ITERS + 1):
        blocks.append(f"""asg{r} AS MATERIALIZED (
    SELECT vec_id, v, cid, d2 FROM (
        SELECT e.vec_id, e.v, c.cid,
            {_KM_DIST.format(v='e.v', c='c.c')} AS d2,
            ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {_KM_DIST.format(v='e.v', c='c.c')}, c.cid
            ) AS rn
        FROM emb e CROSS JOIN {prev} c)
    WHERE rn = 1
), sums{r} AS (
    SELECT cid, i AS dim,
        SUM(CAST(v[i] AS DECIMAL(15,10))) AS sx, COUNT(*) AS n
    FROM asg{r}, UNNEST(range(1, 65)) AS t(i)
    GROUP BY cid, i
), newc{r} AS (
    SELECT cid, list(round(CAST(sx AS DOUBLE) / n, 6) ORDER BY dim) AS c
    FROM sums{r} GROUP BY cid
), cents{r} AS MATERIALIZED (
    SELECT p.cid, COALESCE(nc.c, p.c) AS c
    FROM {prev} p LEFT JOIN newc{r} nc USING (cid)
)""")
        prev = f"cents{r}"
    ctes = f"""emb AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents0 AS MATERIALIZED (
    SELECT rn - 1 AS cid, list_transform(v, x -> round(x, 6)) AS c
    FROM (
        SELECT v, ROW_NUMBER() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
        FROM emb)
    WHERE rn <= {KMEANS_K}
), {", ".join(blocks)}"""
    return ctes, prev


def _kmeans_sql() -> str:
    """Unrolled-CTE twin of kmeans_query over the shared training
    chain."""
    ctes, prev = _km_cents_ctes()
    return f"""
WITH {ctes}, asgF AS (
    SELECT vec_id, cid, d2 FROM (
        SELECT e.vec_id, c.cid,
            {_KM_DIST.format(v='e.v', c='c.c')} AS d2,
            ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {_KM_DIST.format(v='e.v', c='c.c')}, c.cid
            ) AS rn
        FROM emb e CROSS JOIN {prev} c)
    WHERE rn = 1
)
SELECT a.cid,
    COUNT(*) AS n_members,
    round(CAST(SUM(CAST(round(d2, 9) AS DECIMAL(20,9))) AS DOUBLE), 4)
        AS inertia,
    MIN(round(sqrt(list_reduce(list_transform(c.c, x -> x * x),
                               (x, y) -> x + y)), 6)) AS centroid_norm
FROM asgF a JOIN {prev} c USING (cid)
GROUP BY a.cid
"""


# --------------------------------- simplified silhouette audit
#
# Cluster-quality score for the trained k-means codebook: per vector,
# a = distance to its own (nearest) centroid and b = distance to the
# SECOND-nearest centroid; s = (b − a)/b ∈ [0, 1] (the simplified /
# medoid-free silhouette — the full silhouette's pairwise a would be
# quadratic in members; against centroids it stays one map-side
# pass). Per cluster: mean/min s and the share of members within
# SIL_BOUNDARY of the decision boundary — the "is K right / which
# clusters bleed into each other" dial that inertia alone can't show.
#
# Scale: the same broadcast-literal centroid scan as _assign (zero
# exchanges beyond the K-row final agg). Determinism: a and b come
# from the shared fold; s is one identical IEEE expression; mean via
# the round-9-dp DECIMAL sum.

SIL_BOUNDARY = 0.1  # s below this = near the decision boundary


def _assign2(emb: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Like _assign but also returns the SECOND-nearest centroid's
    squared distance (array_sort over (d2, cid) structs — same tie
    order as the argmin). Codebook attaches as the same broadcast
    1-row frame as _assign (stable plan → cached codegen across
    rounds/queries; identical IEEE inputs in identical order)."""
    dists = F.array_sort(
        F.transform(
            F.col("book"),
            lambda t: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"), t["c"], lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d2"),
                t["cid"].alias("cid"),
            ),
        )
    )
    return emb.crossJoin(_book_df(emb.sparkSession, cents)).select(
        "vec_id",
        dists[0]["cid"].alias("cid"),
        dists[0]["d2"].alias("d2"),
        dists[1]["d2"].alias("d2b"),
    )


def silhouette_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = _km_corpus(spark, sf_dir).persist()
    cents = _km_train(emb)
    emb.unpersist()
    asg = _km_assign_arrow(emb, cents, second=True)
    a = F.sqrt(F.col("d2"))
    b = F.sqrt(F.col("d2b"))
    s = F.when(b > 0, (b - a) / b).otherwise(F.lit(0.0))
    per_vec = asg.select("cid", s.alias("s"))
    n = F.count("*")
    return per_vec.groupBy("cid").agg(
        n.cast("long").alias("n_members"),
        F.round(
            F.sum(F.round(F.col("s"), 9).cast("decimal(20,9)"))
            .cast("double")
            / n,
            6,
        ).alias("mean_sil"),
        F.min(F.round(F.col("s"), 6)).alias("min_sil"),
        F.round(
            F.sum(
                F.when(F.col("s") < SIL_BOUNDARY, 1).otherwise(0)
            ).cast("double")
            / n,
            6,
        ).alias("boundary_frac"),
    )


def _silhouette_sql() -> str:
    ctes, prev = _km_cents_ctes()
    return f"""
WITH {ctes}, asgS AS (
    SELECT vec_id, cid, d2, rn FROM (
        SELECT e.vec_id, c.cid,
            {_KM_DIST.format(v='e.v', c='c.c')} AS d2,
            ROW_NUMBER() OVER (
                PARTITION BY e.vec_id
                ORDER BY {_KM_DIST.format(v='e.v', c='c.c')}, c.cid
            ) AS rn
        FROM emb e CROSS JOIN {prev} c)
    WHERE rn <= 2
), sil AS (
    SELECT a1.cid,
        CASE WHEN sqrt(a2.d2) > 0
             THEN (sqrt(a2.d2) - sqrt(a1.d2)) / sqrt(a2.d2)
             ELSE 0.0 END AS s
    FROM asgS a1 JOIN asgS a2
      ON a1.vec_id = a2.vec_id AND a2.rn = 2
    WHERE a1.rn = 1
)
SELECT cid,
    CAST(COUNT(*) AS BIGINT) AS n_members,
    round(CAST(SUM(CAST(round(s, 9) AS DECIMAL(20,9))) AS DOUBLE)
          / COUNT(*), 6) AS mean_sil,
    MIN(round(s, 6)) AS min_sil,
    round(CAST(SUM(CASE WHEN s < {SIL_BOUNDARY} THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 6) AS boundary_frac
FROM sil GROUP BY cid
"""


# ------------------------------------------- product quantization
#
# PQ: split each d-dim vector into PQ_M subvectors, k-means each
# subspace to PQ_K codewords, store each vector as M small codes
# (here M=8, K=16 → 8 nibbles = 4 bytes per vector, 64× smaller than
# float64). THE vector-compression workhorse behind IVF-PQ indexes.
#
# Spark-first trick: all M subspace codebooks train SIMULTANEOUSLY in
# one DataFrame — explode every vector into (vec_id, sub, subv) rows
# and run the same Lloyd loop as emb_kmeans with (sub, cid) keyed
# centroids. Each iteration is still 1 scan + 1 constant-output
# (M·K·d/M = K·d rows) exchange; M never multiplies the job count.
# Same determinism armor as emb_kmeans (md5-seeded init per subspace,
# DECIMAL-exact sums, 6-dp rounding, fixed rounds). Iterative →
# rows-only driver check + exact numpy replay test.

PQ_M = 8  # subspaces
PQ_K = 16  # codewords per subspace (4-bit codes)
PQ_ITERS = 3


def _pq_subvectors(emb: DataFrame) -> DataFrame:
    # fan_out before the M-way explode, sized as _km_corpus
    emb = fan_out(emb, TRAINER_BYTES_PER_TASK)
    return emb.select(
        "vec_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), s -> struct(s AS sub,"
                f" slice(v, s * (size(v) div {PQ_M}) + 1,"
                f" size(v) div {PQ_M}) AS subv))"
            )
        ).alias("e"),
    ).select("vec_id", "e.sub", "e.subv")


def _pq_assign(spark, subs: DataFrame, cents: dict) -> DataFrame:
    """(vec_id, sub, subv) + nearest codeword id within its subspace.

    Centroids attach as a BROADCAST M-row DataFrame joined on the
    subspace id, one row per subspace carrying its WHOLE codebook as
    an array<struct<cid, c>> column (not a literal array expression —
    a 128-struct literal re-evaluates per row and blew the assignment
    up ~3×; broadcast-join data pays the cost once). The argmin is
    map-side array_min over per-codeword (d2, cid) structs — the same
    (distance, lower cid) tie order as F.min(F.struct(...)), without
    the old K-fold row expansion + groupBy(vec_id, sub) that shuffled
    n×M×K rows per Lloyd round."""
    books: dict = {}
    for (s, i), c in sorted(cents.items()):
        books.setdefault(s, []).append((i, c))
    cdf = F.broadcast(
        spark.createDataFrame(
            [(s, rows) for s, rows in sorted(books.items())],
            "sub int, book array<struct<cid int, c array<double>>>",
        )
    )
    best = F.array_min(
        F.transform(
            F.col("book"),
            lambda t: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("subv"),
                        t["c"],
                        lambda x, y: (x - y) * (x - y),
                    ),
                    F.lit(0.0),
                    lambda acc, d: acc + d,
                ).alias("d2"),
                t["cid"].alias("cid"),
            ),
        )
    )
    return subs.join(cdf, "sub").select(
        "vec_id",
        "sub",
        "subv",
        best["cid"].alias("cid"),
        best["d2"].alias("d2"),
    )


def _pq_round_fn(cents: dict):
    """One PQ Lloyd round as a mapInArrow per-task partial pass over
    the (sub, subv) frame — the _km_round_fn surgery applied per
    subspace (guide §4.2). Same bit-exactness contract: sequential
    distance folds from 0.0, argmin ties to the lowest cid, exact
    decimal(15,10) partial sums folded to one set per partition."""
    import numpy as np

    books: dict = {}
    for (s, i), c in sorted(cents.items()):
        books.setdefault(s, []).append(c)
    mats = {s: np.asarray(rows, dtype=np.float64) for s, rows in books.items()}

    def fn(batches):
        import numpy as np

        D = next(iter(mats.values())).shape[1] if mats else 0
        acc: dict = {}
        for batch in batches:
            sub = batch.column(0).to_numpy(zero_copy_only=False)
            col = batch.column(1)
            n = len(col)
            if not n:
                continue
            v = (
                col.flatten()
                .to_numpy(zero_copy_only=False)
                .reshape(n, D)
                .astype(np.float64, copy=False)
            )
            for s, C in mats.items():
                smask = sub == s
                if not smask.any():
                    continue
                vs = v[smask]
                K = C.shape[0]
                d2 = np.zeros((len(vs), K))
                for dim in range(D):
                    diff = vs[:, dim][:, None] - C[:, dim][None, :]
                    d2 = d2 + diff * diff
                cid = np.argmin(d2, axis=1)
                r = _dec15_10_scaled(vs)
                for k in range(K):
                    kmask = cid == k
                    if kmask.any():
                        _fold_partial(acc, (s, k), r[kmask])
        if acc:
            yield _partial_batch(acc, ["sub", "cid"], D)

    return fn


_PQ_PARTIAL_SCHEMA = "sub int, cid int, dim int, sx long, n long"


def _pq_train(spark, subs: DataFrame) -> dict:
    """Shared PQ codebook trainer (pq_codes / adc_topk / ivfadc):
    md5-seeded K picks per subspace, PQ_ITERS Lloyd rounds with
    DECIMAL-exact update sums, 6-dp half-away centroid rounding.
    Caller persists `subs`; driver state is the M*K codebook dict."""
    with _no_aqe(spark):
        return _pq_train_loop(spark, subs)


def _pq_train_loop(spark, subs: DataFrame) -> dict:
    seeds = (
        subs.withColumn(
            "h", F.md5(F.concat_ws(":", "sub", "vec_id"))
        )
        .withColumn(
            "r",
            F.row_number().over(
                W.partitionBy("sub").orderBy("h")
            ),
        )
        .where(F.col("r") <= PQ_K)
        .select("sub", F.col("r").alias("cid"), "subv")
        .collect()
    )
    cents = {
        (r["sub"], r["cid"] - 1): [
            round_half_away(float(x), 6) for x in r["subv"]
        ]
        for r in seeds
    }
    # NOTE (r14 optimization round): the width-wise update variant was
    # measured and reverted here exactly as in _km_train — per-round
    # codegen recompilation of the wide aggregate cost more than the
    # posexplode it removed. The surviving shape is the _pq_round_fn
    # mapInArrow pass (see _km_train_loop).
    # same per-round reduce strategy as _km_train_loop: ≤ K×d exact
    # int64 partial rows per partition, driver-reduced under the cap
    n_parts = subs.rdd.getNumPartitions()
    n_partial = n_parts * PQ_K * PQ_M * (
        len(next(iter(cents.values()))) if cents else 0
    )
    for _ in range(PQ_ITERS):
        part = subs.select("sub", "subv").mapInArrow(
            _pq_round_fn(cents), _PQ_PARTIAL_SCHEMA
        )
        sums = _reduce_partials(part, ["sub", "cid", "dim"], n_partial)
        acc: dict = {}
        for (sub, cid, dim), (sx, n) in sums.items():
            acc.setdefault((sub, cid), {})[dim] = (sx / 10**10, n)
        for key, old in cents.items():
            dims = acc.get(key)
            if dims:
                cents[key] = [
                    round_half_away(dims[d][0] / dims[d][1], 6)
                    for d in range(len(old))
                ]
    return cents


def pq_codes_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the PQ codebooks and encode every vector: per vector, the
    M-nibble code (hex string) + total squared reconstruction error."""
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # persist-across-Lloyd-rounds (same pattern as kmeans_query):
    # the subvector frame feeds the seed job + PQ_ITERS update jobs
    subs = _pq_subvectors(emb).persist()
    cents = _pq_train(spark, subs)
    subs.unpersist()  # final encode pass recomputes from parquet
    final = _pq_assign_arrow(subs, cents)
    return (
        final.groupBy("vec_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("sub", "cid"))
                    ),
                    lambda t: F.lpad(F.hex(t.cid), 1, "0"),
                ),
            ).alias("pq_code"),
            F.round(
                F.sum(F.round(F.col("d2"), 9).cast("decimal(20,9)"))
                .cast("double"),
                6,
            ).alias("recon_err"),
        )
    )


_PQ_DSUB = 64 // PQ_M  # 8 dims per subspace

_PQ_DIST = (
    f"list_reduce(list_transform(range(1, {_PQ_DSUB + 1}), "
    "i -> ({v}[i] - {c}[i]) * ({v}[i] - {c}[i])), (x, y) -> x + y)"
)


def _pq_cents_ctes() -> tuple[str, str]:
    """Shared CTE prefix training the PQ codebooks exactly as
    pq_codes_query/adc_topk_query do (md5 seeds per subspace,
    PQ_ITERS Lloyd rounds, DECIMAL-exact updates, 6-dp rounding).
    Returns (cte_sql, final_cents_name)."""
    blocks = []
    prev = "pc0"
    for r in range(1, PQ_ITERS + 1):
        blocks.append(f"""pasg{r} AS MATERIALIZED (
    SELECT vec_id, sub, subv, cid, d2 FROM (
        SELECT s.vec_id, s.sub, s.subv, c.cid,
            {_PQ_DIST.format(v='s.subv', c='c.c')} AS d2,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id, s.sub
                ORDER BY {_PQ_DIST.format(v='s.subv', c='c.c')}, c.cid
            ) AS rn
        FROM subs s JOIN {prev} c USING (sub))
    WHERE rn = 1
), psums{r} AS (
    SELECT sub, cid, i AS dim,
        SUM(CAST(subv[i] AS DECIMAL(15,10))) AS sx, COUNT(*) AS n
    FROM pasg{r}, UNNEST(range(1, {_PQ_DSUB + 1})) AS t(i)
    GROUP BY sub, cid, i
), pnewc{r} AS (
    SELECT sub, cid,
        list(round(CAST(sx AS DOUBLE) / n, 6) ORDER BY dim) AS c
    FROM psums{r} GROUP BY sub, cid
), pc{r} AS MATERIALIZED (
    SELECT p.sub, p.cid, COALESCE(nc.c, p.c) AS c
    FROM {prev} p LEFT JOIN pnewc{r} nc USING (sub, cid)
)""")
        prev = f"pc{r}"
    ctes = f"""emb AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), subs AS MATERIALIZED (
    SELECT vec_id, t.sub,
        v[t.sub * {_PQ_DSUB} + 1 : t.sub * {_PQ_DSUB} + {_PQ_DSUB}] AS subv
    FROM emb, UNNEST(range(0, {PQ_M})) AS t(sub)
), pc0 AS MATERIALIZED (
    SELECT sub, rn - 1 AS cid, list_transform(subv, x -> round(x, 6)) AS c
    FROM (
        SELECT sub, subv, ROW_NUMBER() OVER (
            PARTITION BY sub
            ORDER BY md5(CAST(sub AS VARCHAR) || ':'
                         || CAST(vec_id AS VARCHAR))) AS rn
        FROM subs)
    WHERE rn <= {PQ_K}
), {", ".join(blocks)}"""
    return ctes, prev


def _pq_codes_sql() -> str:
    """Unrolled-CTE twin of pq_codes_query (see the ORACLE-EXACT note
    on the kmeans block — the same argument applies per subspace)."""
    ctes, cents = _pq_cents_ctes()
    return f"""
WITH {ctes}, fasg AS (
    SELECT vec_id, sub, cid, d2 FROM (
        SELECT s.vec_id, s.sub, c.cid,
            {_PQ_DIST.format(v='s.subv', c='c.c')} AS d2,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id, s.sub
                ORDER BY {_PQ_DIST.format(v='s.subv', c='c.c')}, c.cid
            ) AS rn
        FROM subs s JOIN {cents} c USING (sub))
    WHERE rn = 1
)
SELECT vec_id,
    string_agg(hex(cid), '' ORDER BY sub) AS pq_code,
    round(CAST(SUM(CAST(round(d2, 9) AS DECIMAL(20,9))) AS DOUBLE), 6)
        AS recon_err
FROM fasg GROUP BY vec_id
"""


def _adc_topk_sql() -> str:
    """Unrolled-CTE twin of adc_topk_query: the same trained codebooks
    (shared CTE prefix), the LUT as a queries × codewords cross join,
    and the ADC sum as the identical subspace-ordered left fold."""
    ctes, cents = _pq_cents_ctes()
    probe_list = ", ".join(str(q) for q in ADC_QUERIES)
    return f"""
WITH {ctes}, fasg AS (
    SELECT vec_id, sub, cid FROM (
        SELECT s.vec_id, s.sub, c.cid,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id, s.sub
                ORDER BY {_PQ_DIST.format(v='s.subv', c='c.c')}, c.cid
            ) AS rn
        FROM subs s JOIN {cents} c USING (sub))
    WHERE rn = 1
), probes AS (
    SELECT vec_id AS query_id, v FROM emb WHERE vec_id IN ({probe_list})
), lut AS (
    SELECT p.query_id, c.sub, c.cid,
        list_reduce(list_transform(range(1, {_PQ_DSUB + 1}),
            i -> (p.v[c.sub * {_PQ_DSUB} + i] - c.c[i])
               * (p.v[c.sub * {_PQ_DSUB} + i] - c.c[i])),
            (x, y) -> x + y) AS d2
    FROM probes p CROSS JOIN {cents} c
), scored AS (
    SELECT f.query_id, f.vec_id,
        list_reduce(f.ds, (x, y) -> x + y) AS adc_d2
    FROM (
        SELECT l.query_id, f.vec_id, list(l.d2 ORDER BY f.sub) AS ds
        FROM fasg f JOIN lut l USING (sub, cid)
        GROUP BY l.query_id, f.vec_id) f
)
SELECT query_id, rank, vec_id, round(adc_d2, 6) AS adc_d2
FROM (
    SELECT query_id, vec_id, adc_d2,
        ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rank
    FROM scored)
WHERE rank <= {ADC_TOPK}
"""


# ------------------------------------- ADC search over PQ codes
#
# The read path PQ exists for: top-k nearest neighbors computed in the
# COMPRESSED domain via asymmetric distance computation — per query,
# an M×K lookup table of (query subvector → codeword) distances, then
# each database vector's approximate distance is M table lookups
# summed, never touching the original floats. At 100 TB the scan reads
# 4-byte codes instead of 512-byte vectors (the 64× I/O cut is the
# entire point), the LUT (M·K doubles per query) broadcasts, and the
# top-k is the standard per-query window over a linear scored scan.
# Deterministic: LUT entries from the 6-dp codebooks, the M-term sum
# runs in subspace order (sequential aggregate fold), ties break on
# vec_id. Rows-only (inherits the iterative trainer); the unit test
# replays the exact pipeline in numpy and matches the ranking.

ADC_QUERIES = (0, 1, 2)  # deterministic probe vec_ids
ADC_TOPK = 10


def adc_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-ADC_TOPK neighbors for each probe vector,
    scored entirely from PQ codes + per-query lookup tables."""
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # persist-across-Lloyd-rounds (same pattern as kmeans_query)
    subs = _pq_subvectors(emb).persist()
    cents = _pq_train(spark, subs)
    subs.unpersist()  # final encode pass recomputes from parquet
    codes = _pq_assign_arrow(subs, cents).select("vec_id", "sub", "cid")
    # per-query LUT: distance from the query's subvector to every
    # codeword — Q·M·K rows, broadcast
    probes = {
        r["vec_id"]: [float(x) for x in r["v"]]
        for r in emb.where(
            F.col("vec_id").isin(*ADC_QUERIES)
        ).collect()
    }
    d_sub = len(next(iter(probes.values()))) // PQ_M
    lut_rows = []
    for q, qv in sorted(probes.items()):
        for (s, i), c in sorted(cents.items()):
            qs = qv[s * d_sub : (s + 1) * d_sub]
            d2 = sum((a - b) * (a - b) for a, b in zip(qs, c))
            lut_rows.append((int(q), s, i, float(d2)))
    lut = F.broadcast(
        spark.createDataFrame(
            lut_rows, "query_id long, sub int, cid int, d2 double"
        )
    )
    scored = (
        codes.join(lut, ["sub", "cid"])
        # subspace-ordered sequential sum: deterministic double fold
        .groupBy("query_id", "vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("sub", "d2"))),
                    lambda t: t.d2,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_d2")
        )
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .where(F.col("rank") <= ADC_TOPK)
        .select(
            "query_id", "rank", "vec_id",
            F.round(F.col("adc_d2"), 6).alias("adc_d2"),
        )
    )


# ------------------------------------- IVF + ADC (the full ANN read path)
#
# The production FAISS-shaped pipeline in one operator: a coarse
# quantizer prunes the candidate set (only the query's cell is
# scanned), then PQ/ADC scores the survivors in the compressed domain.
# This composes the two scale mechanisms the repo already verifies
# separately — the corpus-scaled hyperplane cells (sim_knn_graph's
# quantizer: cell count grows with n, per-cell population constant)
# and the ADC lookup-table scoring (sim_adc_topk) — into the actual
# serving plan: at 100 TB the scan touches 1/#cells of the codes
# (partition-prunable if codes are written partitioned by cell), reads
# 4-byte codes instead of 512-byte vectors, and the per-query work is
# LUT-build (M·K doubles, broadcast) + candidates-in-cell lookups.
#
# Determinism: inherits the trainer's (md5 seeds, DECIMAL updates,
# 6-dp half-away codebooks), the cell id's (integer threshold chain +
# pre-evaluated plane literals), and the ADC fold's (subspace-ordered
# sequential sum, vec_id ties). Oracle: the shared unrolled-CTE
# codebooks + the shared cell SQL, joined on (sub, cid, cell).

from .similarity import _KNN_CELL_SQL, _KNN_H_SQL, _knn_cell, _knn_h


def ivfadc_topk_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    h = _knn_h(emb.count())  # one scalar count (footer metadata)
    celled = emb.select(
        "vec_id", "v", _knn_cell(F.col("v"), h).alias("cell")
    )
    subs = _pq_subvectors(emb).persist()
    cents = _pq_train(spark, subs)
    subs.unpersist()
    codes = _pq_assign_arrow(subs, cents).select(
        "vec_id", "sub", "cid"
    ).join(celled.select("vec_id", "cell"), "vec_id")
    probes = {
        int(r["vec_id"]): ([float(x) for x in r["v"]], int(r["cell"]))
        for r in celled.where(
            F.col("vec_id").isin(*ADC_QUERIES)
        ).collect()
    }
    d_sub = _PQ_DSUB
    lut_rows = []
    for q, (qv, qcell) in sorted(probes.items()):
        for (s, i), c in sorted(cents.items()):
            qs = qv[s * d_sub : (s + 1) * d_sub]
            d2 = sum((a - b) * (a - b) for a, b in zip(qs, c))
            lut_rows.append((q, qcell, s, i, float(d2)))
    lut = F.broadcast(
        spark.createDataFrame(
            lut_rows,
            "query_id long, qcell int, sub int, cid int, d2 double",
        )
    )
    scored = (
        codes.join(
            lut,
            (codes.sub == lut.sub)
            & (codes.cid == lut.cid)
            & (codes.cell == lut.qcell),  # IVF prune: cell-mates only
        )
        .groupBy("query_id", "vec_id")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(codes.sub, lut.d2))
                    ),
                    lambda t: t.d2,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_d2")
        )
    )
    wq = W.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .where(F.col("rank") <= ADC_TOPK)
        .select(
            "query_id", "rank", "vec_id",
            F.round(F.col("adc_d2"), 6).alias("adc_d2"),
        )
    )


def _ivfadc_topk_sql() -> str:
    """Oracle: the shared unrolled codebooks (_pq_cents_ctes) + the
    shared corpus-scaled cell SQL, candidates restricted to the
    query's cell before the same subspace-ordered ADC fold."""
    ctes, cents = _pq_cents_ctes()
    probe_list = ", ".join(str(q) for q in ADC_QUERIES)
    return f"""
WITH {ctes}, hh AS (
    SELECT {_KNN_H_SQL} AS h FROM (SELECT COUNT(*) AS n_total FROM emb)
), celled AS MATERIALIZED (
    SELECT vec_id, {_KNN_CELL_SQL} AS cell FROM emb CROSS JOIN hh
), fasg AS (
    SELECT vec_id, sub, cid FROM (
        SELECT s.vec_id, s.sub, c.cid,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id, s.sub
                ORDER BY {_PQ_DIST.format(v='s.subv', c='c.c')}, c.cid
            ) AS rn
        FROM subs s JOIN {cents} c USING (sub))
    WHERE rn = 1
), fasgc AS (
    SELECT f.vec_id, f.sub, f.cid, cl.cell
    FROM fasg f JOIN celled cl USING (vec_id)
), probes AS (
    SELECT e.vec_id AS query_id, e.v, cl.cell AS qcell
    FROM emb e JOIN celled cl USING (vec_id)
    WHERE e.vec_id IN ({probe_list})
), lut AS (
    SELECT p.query_id, p.qcell, c.sub, c.cid,
        list_reduce(list_transform(range(1, {_PQ_DSUB + 1}),
            i -> (p.v[c.sub * {_PQ_DSUB} + i] - c.c[i])
               * (p.v[c.sub * {_PQ_DSUB} + i] - c.c[i])),
            (x, y) -> x + y) AS d2
    FROM probes p CROSS JOIN {cents} c
), scored AS (
    SELECT f.query_id, f.vec_id,
        list_reduce(f.ds, (x, y) -> x + y) AS adc_d2
    FROM (
        SELECT l.query_id, f.vec_id, list(l.d2 ORDER BY f.sub) AS ds
        FROM fasgc f
        JOIN lut l ON f.sub = l.sub AND f.cid = l.cid
                  AND f.cell = l.qcell
        GROUP BY l.query_id, f.vec_id) f
)
SELECT query_id, rank, vec_id, round(adc_d2, 6) AS adc_d2
FROM (
    SELECT query_id, vec_id, adc_d2,
        ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY adc_d2, vec_id) AS rank
    FROM scored)
WHERE rank <= {ADC_TOPK}
"""


# ------------------------------- PQ per-subspace distortion audit
#
# The codebook-quality dial behind every PQ deployment: per SUBSPACE,
# the mean/max squared reconstruction error and how many of the K
# codewords are actually used. pq_codes reports per-VECTOR error;
# this slices the same assignment by subspace — an uneven profile
# says the split is misaligned with the embedding's variance
# structure (rotate or re-split), dead codewords say K is oversized
# (or a subspace collapsed). The M/K sizing report.
#
# Scale: the PQ trainer's contract (constant-size exchanges per
# Lloyd round) + one M-row final agg. Determinism: the shared
# assignment folds; the mean goes through the round-9-dp DECIMAL
# sum; max is over identical doubles.


def pq_distortion_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    subs = _pq_subvectors(emb).persist()
    cents = _pq_train(spark, subs)
    subs.unpersist()  # final assign recomputes from parquet (lazy)
    final = _pq_assign_arrow(subs, cents)
    return final.groupBy("sub").agg(
        F.count("*").cast("long").alias("n_vecs"),
        F.countDistinct("cid").cast("long").alias("n_codes_used"),
        F.round(
            F.sum(
                F.round(F.col("d2"), 9).cast("decimal(20,9)")
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_d2"),
        F.round(F.max("d2"), 6).alias("max_d2"),
    )


def _pq_distortion_sql() -> str:
    ctes, cents = _pq_cents_ctes()
    return f"""
WITH {ctes}, fasg AS (
    SELECT vec_id, sub, cid, d2 FROM (
        SELECT s.vec_id, s.sub, c.cid,
            {_PQ_DIST.format(v='s.subv', c='c.c')} AS d2,
            ROW_NUMBER() OVER (
                PARTITION BY s.vec_id, s.sub
                ORDER BY {_PQ_DIST.format(v='s.subv', c='c.c')}, c.cid
            ) AS rn
        FROM subs s JOIN {cents} c USING (sub))
    WHERE rn = 1
)
SELECT sub,
    CAST(COUNT(*) AS BIGINT) AS n_vecs,
    CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_codes_used,
    round(CAST(SUM(CAST(round(d2, 9) AS DECIMAL(20,9))) AS DOUBLE)
          / COUNT(*), 6) AS mean_d2,
    round(MAX(d2), 6) AS max_d2
FROM fasg GROUP BY sub
"""


# ----------------------- diagonal-Mahalanobis embedding outliers
#
# Per-vector outlier score under the corpus's own per-dimension
# Gaussian: Σ_i (x_i − μ_i)² / σ_i² — the diagonal Mahalanobis
# distance, the standard cheap anomaly screen over an embedding
# column (corrupt encodes, wrong-model vectors, adversarial points
# surface at the top). Reports the top OUTLIER_K scores.
#
# Scale shape: the per-dim μ/σ² come from dim_stats' DECIMAL(15,10)
# component sums (a 64-row table → broadcast); the scoring pass is
# the same posexplode + broadcast join + per-vector agg — linear, two
# combiner-backed exchanges; the final top-K rank runs over the
# per-vector score table with Spark's rank-limit pushdown.
#
# Determinism: μ and σ² are rounded to 9 dp BEFORE the residual
# arithmetic (the stats_mad armor — an ulp difference in the moments
# could otherwise reorder ties); each per-dim term rounds to 9 dp
# into DECIMAL(20,9) so the per-vector sum is order-exact.

OUTLIER_K = 20


def outlier_mahal_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "x")
    ).select("vec_id", "dim", F.col("x").cast("double").alias("xd"))
    xdec = F.col("xd").cast("decimal(15,10)")
    stats = comp.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.sum(xdec).alias("sx"),
        F.sum(xdec * xdec).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    mstats = stats.select(
        "dim",
        F.round(sx / n, 9).alias("mu"),
        F.round((n * sxx - sx * sx) / (n * n), 9).alias("vv"),
    )
    term = F.round(
        (F.col("xd") - F.col("mu"))
        * (F.col("xd") - F.col("mu"))
        / F.col("vv"),
        9,
    ).cast("decimal(20,9)")
    scored = (
        comp.join(F.broadcast(mstats), "dim")
        .groupBy("vec_id")
        .agg(F.sum(term).alias("s"))
        .select(
            "vec_id",
            F.round(F.col("s").cast("double"), 6).alias("mahal_sq"),
        )
    )
    w = W.orderBy(F.col("mahal_sq").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= OUTLIER_K)
        .select("rank", "vec_id", "mahal_sq")
    )


OUTLIER_MAHAL_SQL = f"""
WITH comp AS (
    SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        CAST(unnest(embedding) AS DOUBLE) AS xd
    FROM embeddings
), stats AS (
    SELECT dim, COUNT(*) AS n,
        SUM(CAST(xd AS DECIMAL(15,10))) AS sx,
        SUM(CAST(xd AS DECIMAL(15,10)) * CAST(xd AS DECIMAL(15,10)))
            AS sxx
    FROM comp GROUP BY dim
), mstats AS (
    SELECT dim,
        round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 9) AS mu,
        round((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS vv
    FROM stats
), scored AS (
    SELECT vec_id,
        round(CAST(SUM(CAST(round((xd - mu) * (xd - mu) / vv, 9)
            AS DECIMAL(20,9))) AS DOUBLE), 6) AS mahal_sq
    FROM comp JOIN mstats USING (dim)
    GROUP BY vec_id
)
SELECT rank, vec_id, mahal_sq FROM (
    SELECT vec_id, mahal_sq,
        ROW_NUMBER() OVER (ORDER BY mahal_sq DESC, vec_id) AS rank
    FROM scored
) WHERE rank <= {OUTLIER_K}
"""


# --------------------------------- Johnson–Lindenstrauss fidelity
#
# Random-projection audit: project every embedding 64 → JL_D dims
# with a fixed Rademacher (±1) matrix scaled by 1/√JL_D (the JL
# construction — E‖Px‖² = ‖x‖²) and measure, per query vector, how
# faithfully pairwise squared distances survive: ratio = ‖Pq−Pc‖² /
# ‖q−c‖² per candidate, reported as mean / min / max. This is the
# dimensionality-reduction counterpart of the PQ-distortion and
# Matryoshka audits — the "can we shuffle 4× fewer bytes in the
# dedup/ANN pipeline" dial.
#
# Scale: projection is map-side (JL_D folds per vector, fused into
# the scan); the audit pairs are |Q|·N with broadcast queries — the
# same linear brute-force shape as sim_cosine_topk. The Rademacher
# matrix is a deterministic md5-derived LITERAL (computed once in
# Python, embedded in both engines' plans — no RNG, no state).
# Determinism: both d² folds are sequential zip folds; the per-pair
# ratio is one IEEE division; means fold as integer nano-units.

JL_D = 16


def _jl_sign(i: int, j: int) -> int:
    """Deterministic Rademacher entry: ±1 from the first hex digit
    of md5('jl_{i}_{j}')."""
    import hashlib

    h = hashlib.md5(f"jl_{i}_{j}".encode()).hexdigest()[0]
    return 1 if int(h, 16) < 8 else -1


_JL_ROWS = [[_jl_sign(i, j) for j in range(64)] for i in range(JL_D)]
_JL_SCALE = _math.sqrt(JL_D)


def _jl_proj_py(v: list) -> list:
    """JL projection of one collected vector, driver-side: the same
    products-then-sequential-left-fold IEEE sequence the executor path
    runs (Python floats ARE IEEE doubles), so query projections are
    bit-identical to the old in-plan HOF columns."""
    out = []
    for row in _JL_ROWS:
        acc = 0.0
        for x, sg in zip(v, row):
            acc = acc + x * float(sg)
        out.append(acc / _JL_SCALE)
    return out


_JL_PART_SCHEMA = (
    "query_id long, n long, sfloor long, minr double, maxr double"
)


def _jl_partial_fn(queries):
    """mapInArrow per-task JL-fidelity partials (guide §4.2 — the old
    path evaluated JL_D interpreted projection folds per row plus two
    interpreted d² folds per (row × query) pair).

    Exactness: candidate projections and both d² folds run the
    identical per-element IEEE sequence (products first, sequential
    left fold from 0.0, ascending index) vectorized across rows; the
    per-pair ratio is the same single division; per-task partials are
    the exact Σ floor(ratio·1e9+0.5) int64 the old floor fold summed
    (values O(1e9)·pairs stay far under 2^63 per task), plus
    min/max/count — all recombined losslessly by the final agg."""
    qids = [int(q[0]) for q in queries]

    def _fn(batches):
        import numpy as np
        import pyarrow as pa

        nq = len(queries)
        qv = np.array([q[1] for q in queries], dtype=np.float64)
        qy = np.array([q[2] for q in queries], dtype=np.float64)
        sgn = np.array(_JL_ROWS, dtype=np.float64)
        cnt = np.zeros(nq, dtype=np.int64)
        sfl = np.zeros(nq, dtype=np.int64)
        mn = np.full(nq, np.inf)
        mx = np.full(nq, -np.inf)
        for batch in batches:
            col = batch.column(1)
            if not len(col):
                continue
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            vals = col.flatten().to_numpy(zero_copy_only=False)
            v = vals.reshape(len(col), -1)
            d = v.shape[1]
            y = np.empty((len(col), len(sgn)), dtype=np.float64)
            for k in range(len(sgn)):
                acc = np.zeros(len(col), dtype=np.float64)
                for j in range(d):
                    acc = acc + v[:, j] * sgn[k, j]
                y[:, k] = acc / _JL_SCALE
            for qi in range(nq):
                accv = np.zeros(len(col), dtype=np.float64)
                for j in range(d):
                    t = qv[qi, j] - v[:, j]
                    accv = accv + t * t
                accy = np.zeros(len(col), dtype=np.float64)
                for k in range(len(sgn)):
                    t = qy[qi, k] - y[:, k]
                    accy = accy + t * t
                mask = (ids != qids[qi]) & (accv > 0)
                if not mask.any():
                    continue
                ratio = accy[mask] / accv[mask]
                cnt[qi] += int(mask.sum())
                sfl[qi] += int(
                    np.floor(ratio * 1e9 + 0.5).astype(np.int64).sum()
                )
                mn[qi] = min(mn[qi], float(ratio.min()))
                mx[qi] = max(mx[qi], float(ratio.max()))
        keep = [i for i in range(nq) if cnt[i] > 0]
        if not keep:
            return
        yield pa.RecordBatch.from_pydict(
            {
                "query_id": [qids[i] for i in keep],
                "n": [int(cnt[i]) for i in keep],
                "sfloor": [int(sfl[i]) for i in keep],
                "minr": [float(mn[i]) for i in keep],
                "maxr": [float(mx[i]) for i in keep],
            },
            schema=pa.schema(
                [
                    ("query_id", pa.int64()),
                    ("n", pa.int64()),
                    ("sfloor", pa.int64()),
                    ("minr", pa.float64()),
                    ("maxr", pa.float64()),
                ]
            ),
        )

    return _fn


def jl_fidelity_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = fan_out(
        read_table(spark, sf_dir, "embeddings"), TRAINER_BYTES_PER_TASK
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    # constant-size driver job: the JL_QUERIES query vectors (the
    # pushed-down vec_id filter reads a handful of rows); projections
    # are recomputed driver-side with the identical IEEE fold
    qrows = (
        emb.where(F.col("vec_id") < JL_QUERIES)
        .select("vec_id", "v")
        .collect()
    )
    queries = [
        (r["vec_id"], list(r["v"]), _jl_proj_py(list(r["v"])))
        for r in sorted(qrows, key=lambda r: r["vec_id"])
    ]
    # ONE vectorized pass replaces the broadcast cross join + per-pair
    # interpreted folds; per-task partials are ≤ JL_QUERIES rows
    # regardless of corpus size (guide §2.3 aggregate-before-shuffle)
    part = emb.mapInArrow(_jl_partial_fn(queries), _JL_PART_SCHEMA)
    return part.groupBy("query_id").agg(
        F.sum("n").alias("n_pairs"),
        F.round(
            F.sum("sfloor").cast("double")
            / 1e9
            / F.sum("n").cast("double"),
            6,
        ).alias("mean_ratio"),
        F.round(F.min("minr"), 6).alias("min_ratio"),
        F.round(F.max("maxr"), 6).alias("max_ratio"),
    )


JL_QUERIES = 8


def _jl_sql() -> str:
    rows = ", ".join(
        "[" + ", ".join(f"{s}.0" for s in row) + "]" for row in _JL_ROWS
    )
    proj = (
        f"list_transform([{rows}], r -> "
        "list_reduce(list_transform(range(1, 65), "
        "i -> v[i] * r[i]), (x, y) -> x + y) "
        f"/ sqrt({JL_D}.0))"
    )
    d2v = (
        "list_reduce(list_transform(range(1, 65), "
        "i -> (q.qv[i] - p.v[i]) * (q.qv[i] - p.v[i])), (x, y) -> x + y)"
    )
    d2y = (
        f"list_reduce(list_transform(range(1, {JL_D + 1}), "
        "i -> (q.qy[i] - p.y[i]) * (q.qy[i] - p.y[i])), (x, y) -> x + y)"
    )
    return f"""
WITH emb AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), proj AS MATERIALIZED (
    SELECT vec_id, v, {proj} AS y FROM emb
), q AS (
    SELECT vec_id AS query_id, v AS qv, y AS qy
    FROM proj WHERE vec_id < {JL_QUERIES}
), pairs AS (
    SELECT query_id, d2y / d2v AS ratio FROM (
        SELECT q.query_id, ({d2y}) AS d2y, ({d2v}) AS d2v
        FROM proj p CROSS JOIN q WHERE p.vec_id <> q.query_id)
    WHERE d2v > 0
)
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
    round(CAST(SUM(CAST(floor(ratio * 1e9 + 0.5) AS BIGINT))
               AS DOUBLE) / 1e9 / COUNT(*), 6) AS mean_ratio,
    round(MIN(ratio), 6) AS min_ratio,
    round(MAX(ratio), 6) AS max_ratio
FROM pairs GROUP BY query_id
"""


# ------------------------------------------- participation ratio (PR)
#
# Effective dimensionality of the embedding space WITHOUT an
# eigendecomposition: PR = tr(C)² / ||C||_F² = (Σλ)²/Σλ² over the
# covariance eigenvalues — computable directly from the covariance
# grid since tr(C²) = Σ_ij C_ij². PR ≈ d for isotropic spaces, ≈ 1
# when one direction dominates; the standard "how many dimensions is
# this embedding really using" diagnostic (complements emb_isotropy's
# mean-cosine view and emb_pca_power's top eigenpair).
#
# Scale: the same map-side upper-triangle outer-product expansion as
# emb_covariance (d(d+1)/2 entries per vector, d²-bounded combiner
# agg) — but because PR is SCALE-INVARIANT, components quantize to
# integer nano FIRST and the per-vector products are plain LONG
# multiplies (q ~ 1e9, q·q ~ 1e18 < 2^63), not BigDecimal — ~4×
# cheaper on the only corpus-sized stage (bench: 7.0 → ~2 s).
# Everything after runs on the 64×64 grid. Determinism: each scaled
# covariance numerator n·S_ij − S_i·S_j is exact DECIMAL integer
# arithmetic (S_i < 1e19 holds while n < 1e10 vectors), normalized
# per pair count by the engine-identical floor fold; trace and
# Frobenius moments accumulate as DECIMAL(38,0) integers and the
# final ratio is one shared formula on identical doubles.

_PR_NUM = (
    "(nn * CAST(spp AS DOUBLE)"
    " - CAST(si AS DOUBLE) * CAST(sj AS DOUBLE))"
)
# covariance in nano² units: exact-integer numerator / n², floor-fold
_PR_NUM_UNIT = (
    f"CAST(floor({_PR_NUM} / (nn * nn) + 0.5E0) AS BIGINT)"
)
_PR_MILLI = (
    "CAST(floor((CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)"
    " / CAST(fro2 AS DOUBLE)) * 1000 + 0.5E0) AS BIGINT)"
)


_GRAM_SCHEMA = "k int, n long, sa long, sab long, sb long, sx long"


def _gram_partial(batches):
    """mapInArrow per-task partial Gram over quantized int64 vectors.

    Optimization guide §4.2: hand whole batches to vectorized native
    code instead of evaluating a 2080-struct HOF expression per row.
    Exactness: q is split into 16-bit halves q = a·2¹⁶ + b (arithmetic
    shift = floor division, so b ∈ [0, 65535] and the identity holds
    for negatives too); the three int64 Gram matrices aᵀa, aᵀb+bᵀa,
    bᵀb stay within int64 up to ~10⁸ rows per task (|a| ≤ |q|/2¹⁶
    with |q| ≈ 1e9-scale quantized components, products ≤ ~1e10) —
    far above any task size maxPartitionBytes allows. The Spark-side
    decimal(38,0) recomposition sa·2³² + sab·2¹⁶ + sb then equals the
    exact Σ qᵢqⱼ the old per-row expression summed, term for term.
    Per-dim component sums ride the same pass (k = 100000 + dim), so
    the corpus is scanned ONCE for both moment tables instead of
    twice."""
    import numpy as np
    import pyarrow as pa

    d = None
    n = 0
    ga = gab = gb = sx = None
    for batch in batches:
        col = batch.column(0)
        if not len(col):
            continue
        flat = col.flatten()
        vals = flat.to_numpy(zero_copy_only=False)
        if d is None:
            d = len(vals) // len(col)
        q = vals.reshape(len(col), d)
        a = q >> 16
        b = q & 0xFFFF
        pga = a.T @ a
        pgab = a.T @ b + b.T @ a
        pgb = b.T @ b
        psx = q.sum(axis=0)
        if ga is None:
            ga, gab, gb, sx = pga, pgab, pgb, psx
        else:
            ga += pga
            gab += pgab
            gb += pgb
            sx += psx
        n += len(col)
    if n == 0:
        return
    iu = np.triu_indices(d)
    ks = list(range(len(iu[0]))) + [100000 + i for i in range(d)]
    zeros = [0] * d
    yield pa.RecordBatch.from_pydict(
        {
            "k": ks,
            "n": [n] * len(iu[0]) + zeros,
            "sa": [int(x) for x in ga[iu]] + zeros,
            "sab": [int(x) for x in gab[iu]] + zeros,
            "sb": [int(x) for x in gb[iu]] + zeros,
            "sx": [0] * len(iu[0]) + [int(x) for x in sx],
        },
        schema=pa.schema(
            [
                ("k", pa.int32()),
                ("n", pa.int64()),
                ("sa", pa.int64()),
                ("sab", pa.int64()),
                ("sb", pa.int64()),
                ("sx", pa.int64()),
            ]
        ),
    )


def participation_ratio_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    prep(spark)
    d = 64
    emb = fan_out(read_table(spark, sf_dir, "embeddings")).select(
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * F.lit(1e9) + F.lit(0.5)
            ).cast("long"),
        ).alias("q")
    )
    # ONE vectorized pass (guide §4.2) replaces the old per-row
    # 2080-struct explode (4.2M struct allocations at sf0.1) AND the
    # second per-dim posexplode scan; sums are recomposed exactly —
    # see _gram_partial. Output is identical (verified value-equal at
    # sf0.1/0.01/0.001 and against the unchanged DuckDB oracle).
    tot = (
        emb.mapInArrow(_gram_partial, _GRAM_SCHEMA)
        .groupBy("k")
        .agg(
            F.sum("n").alias("n"),
            F.sum(F.col("sa").cast("decimal(38,0)")).alias("sa"),
            F.sum(F.col("sab").cast("decimal(38,0)")).alias("sab"),
            F.sum(F.col("sb").cast("decimal(38,0)")).alias("sb"),
            F.sum(F.col("sx").cast("decimal(38,0)")).alias("sx"),
        )
        .persist()  # 2144 rows; consumed by sums + both join sides —
        # un-cached each would re-scan the corpus (r9 scan audit)
    )
    kmap = []
    k = 0
    for i in range(d):
        for j in range(i, d):
            kmap.append((k, i, j))
            k += 1
    kdf = F.broadcast(
        spark.createDataFrame(kmap, "k int, di int, dj int")
    )
    spp = (
        F.col("sa") * F.lit(4294967296).cast("decimal(38,0)")
        + F.col("sab") * F.lit(65536).cast("decimal(38,0)")
        + F.col("sb")
    ).cast("decimal(38,0)")
    sums = (
        tot.where(F.col("k") < 100000)
        .join(kdf, "k")
        .select("di", "dj", "n", spp.alias("spp"))
    )
    comp = tot.where(F.col("k") >= 100000).select(
        (F.col("k") - 100000).alias("dim"), F.col("sx").alias("sx")
    )
    si = comp.select(F.col("dim").alias("di"), F.col("sx").alias("si"))
    sj = comp.select(F.col("dim").alias("dj"), F.col("sx").alias("sj"))
    grid = (
        sums.join(F.broadcast(si), "di")
        .join(F.broadcast(sj), "dj")
        .select(
            "di",
            "dj",
            "n",
            F.col("n").cast("double").alias("nn"),
            "spp",
            "si",
            "sj",
        )
        .select(
            "di",
            "dj",
            "n",
            F.expr(_PR_NUM_UNIT).alias("num_nano"),
        )
    )
    moments = grid.agg(
        F.max("n").alias("n_vecs"),
        F.sum(
            F.when(F.col("di") == F.col("dj"), F.col("num_nano"))
            .otherwise(F.lit(0))
            .cast("decimal(38,0)")
        ).alias("tr"),
        # full-matrix Frobenius: off-diagonal entries count twice
        F.sum(
            F.col("num_nano").cast("decimal(19,0)")
            * F.col("num_nano").cast("decimal(19,0)")
            * F.when(F.col("di") == F.col("dj"), F.lit(1)).otherwise(
                F.lit(2)
            )
        ).alias("fro2"),
        F.sum(
            (F.col("di") == F.col("dj")).cast("long")
        ).alias("n_dims"),
    )
    return moments.select(
        F.col("n_vecs").cast("long").alias("n_vecs"),
        "n_dims",
        F.col("tr").cast("double").alias("trace_nano"),
        F.expr(_PR_MILLI).alias("pr_milli"),
    )


PARTICIPATION_RATIO_SQL = f"""
WITH emb AS (
    SELECT list_transform(CAST(embedding AS DOUBLE[]),
        x -> CAST(floor(x * 1e9 + 0.5E0) AS BIGINT)) AS q
    FROM embeddings
), pairs AS (
    SELECT e['di'] AS di, e['dj'] AS dj, e['p'] AS p FROM (
        SELECT unnest(flatten(list_transform(range(1, 65),
            i -> list_transform(range(i, 65),
                j -> struct_pack(di := i - 1, dj := j - 1,
                    p := q[i] * q[j]))))) AS e
        FROM emb
    )
), sums AS (
    SELECT di, dj, COUNT(*) AS n,
        SUM(CAST(p AS DECIMAL(38,0))) AS spp
    FROM pairs GROUP BY di, dj
), comp AS (
    SELECT dim, SUM(CAST(x AS DECIMAL(38,0))) AS sx FROM (
        SELECT generate_subscripts(q, 1) - 1 AS dim, unnest(q) AS x
        FROM emb
    ) GROUP BY dim
), grid AS (
    SELECT s.di, s.dj, s.n,
        {_PR_NUM_UNIT} AS num_nano
    FROM (
        SELECT di, dj, n, CAST(n AS DOUBLE) AS nn, spp,
            a.sx AS si, b.sx AS sj
        FROM sums
        JOIN comp a ON a.dim = sums.di
        JOIN comp b ON b.dim = sums.dj
    ) s(di, dj, n, nn, spp, si, sj)
), moments AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
        SUM(CASE WHEN di = dj
            THEN CAST(num_nano AS DECIMAL(38,0))
            ELSE CAST(0 AS DECIMAL(38,0)) END) AS tr,
        SUM(CAST(num_nano AS DECIMAL(19,0))
            * CAST(num_nano AS DECIMAL(19,0))
            * (CASE WHEN di = dj THEN 1 ELSE 2 END)) AS fro2,
        CAST(SUM(CASE WHEN di = dj THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dims
    FROM grid
)
SELECT n_vecs, n_dims,
    CAST(tr AS DOUBLE) AS trace_nano,
    {_PR_MILLI} AS pr_milli
FROM moments
"""


# ----------------------------------------------------- isotropy audit
#
# Embedding-space isotropy: the mean pairwise cosine of the UNIT
# vectors and the mean resultant length rho = |sum u_i| / n. Isotropic
# (well-spread) embedding spaces have both near 0; a collapsed or
# anisotropic space (the "narrow cone" pathology that hurts cosine
# retrieval, Ethayarajh 2019) shows both large. The closed form needs
# no pairs: sum_{i!=j} <u_i,u_j> = |S|^2 - sum|u_i|^2 where S = sum u_i
# — so the whole audit is ONE posexplode + per-dim agg, never O(n^2).
#
# Scale: the posexplode is a narrow map; the only exchange is the
# dim-keyed combiner agg (64 partial rows per task regardless of
# corpus size). Determinism: unit components are quantized with the
# engine-identical floor(u*1e9 + 0.5) fold to BIGINT; every moment is
# then integer (DECIMAL(38,0) sums; |S_d| <= n*1e9 so S_d^2 stays
# exact below 1e38 for n < 1e10 vectors) and the two nano-unit outputs
# are shared floor-fold formula strings on identical doubles.

_ISO_PAIR_NANO = (
    "CAST(floor(((ss - r) / (nn * (nn - 1.0)) / 1e18) * 1e9 + 0.5)"
    " AS BIGINT)"
)
_ISO_RES_NANO = (
    "CAST(floor((sqrt(ss) / (nn * 1e9)) * 1e9 + 0.5) AS BIGINT)"
)

_ISO_SCHEMA = "dim int, n long, s long, rhi long, rlo long"


def _iso_partial(batches):
    """mapInArrow per-task partials for the isotropy moments (guide
    §4.2 — the old path evaluated three interpreted HOF folds per row
    plus a 64× posexplode).

    Exactness: per row the norm fold is the identical IEEE sequence
    (products first, then a sequential left fold from 0.0, k ascending)
    and q = floor(v/nrm·1e9 + 0.5) is the same double expression, so q
    is bit-identical to the old column. Per dim the task emits Σq (int64
    — |q| ≤ 1e9+1 and ≤ ~5e5 rows/task under 128 MB splits keep it
    < 2^63) and Σq² split as q² = hi·2³² + lo (q² ≤ ~1e18 fits int64
    elementwise; per-task Σhi ≤ ~1.2e14, Σlo ≤ ~2.2e15). The Spark-side
    decimal(38,0) recomposition Σhi·2³² + Σlo equals Σq² term for term,
    so `dims` carries the exact integers the old per-component
    aggregation produced."""
    import numpy as np
    import pyarrow as pa

    d = None
    n = 0
    s = hi = lo = None
    for batch in batches:
        col = batch.column(0)
        if not len(col):
            continue
        flat = col.flatten()
        vals = flat.to_numpy(zero_copy_only=False)
        if d is None:
            d = len(vals) // len(col)
        v = vals.reshape(len(col), d)
        acc = np.zeros(len(col), dtype=np.float64)
        for k in range(d):
            acc = acc + v[:, k] * v[:, k]
        with np.errstate(divide="ignore", invalid="ignore"):
            q = np.floor(v / np.sqrt(acc)[:, None] * 1e9 + 0.5).astype(
                np.int64
            )
        qq = q * q
        ps = q.sum(axis=0)
        phi = (qq >> 32).sum(axis=0)
        plo = (qq & 0xFFFFFFFF).sum(axis=0)
        if s is None:
            s, hi, lo = ps, phi, plo
        else:
            s += ps
            hi += phi
            lo += plo
        n += len(col)
    if n == 0:
        return
    yield pa.RecordBatch.from_pydict(
        {
            "dim": list(range(d)),
            "n": [n] * d,
            "s": [int(x) for x in s],
            "rhi": [int(x) for x in hi],
            "rlo": [int(x) for x in lo],
        },
        schema=pa.schema(
            [
                ("dim", pa.int32()),
                ("n", pa.int64()),
                ("s", pa.int64()),
                ("rhi", pa.int64()),
                ("rlo", pa.int64()),
            ]
        ),
    )


def isotropy_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    prep(spark)
    emb = fan_out(
        read_table(spark, sf_dir, "embeddings"), TRAINER_BYTES_PER_TASK
    ).select(
        F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    # ONE vectorized pass replaces the interpreted norm/quantize HOFs
    # and the 64× posexplode (guide §4.2); per-task partials are 64
    # rows regardless of corpus size (guide §2.3 aggregate-before-
    # shuffle), recombined exactly — see _iso_partial.
    dims = (
        emb.mapInArrow(_iso_partial, _ISO_SCHEMA)
        .groupBy("dim")
        .agg(
            F.sum(F.col("s").cast("decimal(38,0)")).alias("s"),
            (
                F.sum(F.col("rhi").cast("decimal(38,0)"))
                * F.lit(4294967296).cast("decimal(20,0)")
                + F.sum(F.col("rlo").cast("decimal(38,0)"))
            ).alias("r_d"),
            F.sum("n").alias("n"),
        )
    )
    fin = dims.agg(
        F.sum(F.col("s") * F.col("s")).alias("rss"),
        F.sum("r_d").alias("rr"),
        F.max("n").alias("n_vecs"),
        F.count("*").alias("n_dims"),
    ).select(
        F.col("n_vecs").cast("long").alias("n_vecs"),
        F.col("n_dims").cast("long").alias("n_dims"),
        F.col("rss").cast("double").alias("ss"),
        F.col("rr").cast("double").alias("r"),
        F.col("n_vecs").cast("double").alias("nn"),
    )
    return fin.select(
        "n_vecs",
        "n_dims",
        F.expr(_ISO_PAIR_NANO).alias("pair_cos_nano"),
        F.expr(_ISO_RES_NANO).alias("resultant_len_nano"),
    )


ISOTROPY_SQL = f"""
WITH emb AS (
    SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), normed AS (
    SELECT v,
        sqrt(list_reduce(list_transform(range(1, 65),
            i -> v[i] * v[i]), (a, b) -> a + b)) AS nrm
    FROM emb
), unitq AS (
    SELECT list_transform(v,
        x -> CAST(floor(x / nrm * 1e9 + 0.5) AS BIGINT)) AS q
    FROM normed
), comp AS (
    SELECT generate_subscripts(q, 1) - 1 AS dim, unnest(q) AS qv
    FROM unitq
), dims AS (
    SELECT dim, SUM(CAST(qv AS DECIMAL(38,0))) AS s,
        SUM(CAST(qv AS DECIMAL(19,0)) * CAST(qv AS DECIMAL(19,0)))
            AS r_d,
        COUNT(*) AS n
    FROM comp GROUP BY dim
), fin AS (
    SELECT CAST(MAX(n) AS BIGINT) AS n_vecs,
        CAST(COUNT(*) AS BIGINT) AS n_dims,
        CAST(SUM(CAST(s AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0)))
             AS DOUBLE) AS ss,
        CAST(SUM(r_d) AS DOUBLE) AS r,
        CAST(MAX(n) AS DOUBLE) AS nn
    FROM dims
)
SELECT n_vecs, n_dims,
    {_ISO_PAIR_NANO} AS pair_cos_nano,
    {_ISO_RES_NANO} AS resultant_len_nano
FROM fin
"""


REGISTRY = [
    ("emb_quantize_int8", quantize_int8_query, QUANTIZE_INT8_SQL),
    ("emb_centroids", centroids_query, CENTROIDS_SQL),
    ("emb_dim_stats", dim_stats_query, DIM_STATS_SQL),
    ("emb_covariance", covariance_query, COVARIANCE_SQL),
    # recursive-CTE oracle: same sequential folds (see block comment)
    ("emb_pca_power", pca_power_query, _pca_power_sql()),
    # unrolled-CTE oracle: same Lloyd rounds (see block comment)
    ("emb_kmeans", kmeans_query, _kmeans_sql()),
    # unrolled-CTE oracle: same per-subspace Lloyd rounds
    ("sim_pq_codes", pq_codes_query, _pq_codes_sql()),
    # unrolled-CTE oracle: same codebooks + LUT + subspace-order fold
    ("sim_adc_topk", adc_topk_query, _adc_topk_sql()),
    # IVF cell prune + ADC scoring (the full ANN serving plan)
    ("sim_ivfadc_topk", ivfadc_topk_query, _ivfadc_topk_sql()),
    # diagonal-Mahalanobis top-K embedding outliers
    ("emb_outlier_mahal", outlier_mahal_query, OUTLIER_MAHAL_SQL),
    # per-subspace PQ distortion + codeword-utilization audit
    ("sim_pq_distortion", pq_distortion_query, _pq_distortion_sql()),
    # simplified silhouette (second-nearest-centroid margin) audit
    ("emb_silhouette", silhouette_query, _silhouette_sql()),
    # Johnson–Lindenstrauss Rademacher-projection distance fidelity
    ("emb_jl_fidelity", jl_fidelity_query, _jl_sql()),
    # closed-form isotropy audit (mean pairwise cosine, no pairs)
    ("emb_isotropy", isotropy_query, ISOTROPY_SQL),
    # participation-ratio effective dimensionality (no eigensolve)
    ("emb_participation_ratio", participation_ratio_query,
     PARTICIPATION_RATIO_SQL),
]
