"""Distributed linear algebra over the embedding corpus: moment
profiles, covariance blocks, and a Gram-matrix → PCA pipeline.

An LLM-data platform audits its vector corpus the way it audits text:
which dimensions carry variance (dead/collapsed dims are a training
bug), how correlated coordinates are (whitening / PCA decisions), and
whether the spectrum is sane. At 100 TB none of this can touch the
driver — every operator here folds the corpus with ONE map-side
partial aggregation whose state is O(d²), independent of corpus size,
then finishes on the (tiny) aggregate.

Determinism contract (the driver hash-compares against DuckDB): a
float sum's value depends on accumulation order, so nothing here sums
raw doubles across rows. Per-element values/products are quantized to
integers FIRST — ``floor(x·10⁶ + 0.5)`` (identical floor semantics in
Spark and DuckDB; no round-half engine divergence) — and the integer
sums are exact and order-independent. Moments are reconstructed from
the integer sums in double arithmetic with the IDENTICAL expression
shape on both engines, so the final doubles agree bit-for-bit.

Reference scope note: the reference (main.py:1-466) has no vector
ops at all — this module is part of the training-data-pipeline
extension surface SURVEY §2 calls out beyond reference parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import (
    half_up,
    half_up_sql,
    micro_sum,
    micro_sum_sql,
    micro_units_sql,
    register,
    table_wide,
)

SRC_DIMS = 64  # embeddings table dimensionality (TESTDATA.md)
COV_DIMS = 8  # leading block emitted by emb_covariance_block
QSCALE = 1_000_000  # integer quantization: floor(x * QSCALE + 0.5)
Q9 = 1_000_000_000  # the 9-decimal step of the dimension profile


def _stepped_sql(expr: str, scale: int) -> str:
    """``FLOOR(expr·scale + 0.5) / scale`` as DOUBLE: a half-up step
    on the binary double, where ``ROUND(x, 9)`` splits the engines
    (Spark rounds the double's decimal string, DuckDB its value)."""
    return f"CAST({half_up_sql(expr, scale)} AS DOUBLE) / {scale}"


def _stepped(col, scale: int):
    """Twin of :func:`_stepped_sql`."""
    return half_up(col, scale).cast("double") / F.lit(float(scale))


@register(
    "emb_dimension_profile",
    oracle=f"""
    WITH e AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ), expanded AS (
      SELECT u.i - 1 AS dim_idx, u.x AS val
      FROM e, LATERAL (
        SELECT unnest(generate_series(1, len(v))) AS i, unnest(v) AS x
      ) u
    ), moments AS (
      SELECT dim_idx,
             COUNT(*) AS n,
             {micro_sum_sql('val')} AS s1,
             {micro_sum_sql('val * val')} AS s2,
             MIN(val) AS mn,
             MAX(val) AS mx
      FROM expanded GROUP BY dim_idx
    )
    SELECT dim_idx, n,
           {_stepped_sql(f"CAST(s1 AS DOUBLE) / n / {QSCALE}", Q9)}
             AS mean_val,
           {_stepped_sql(
               f"CAST(s2 AS DOUBLE) / n / {QSCALE}"
               f" - (CAST(s1 AS DOUBLE) / n / {QSCALE})"
               f" * (CAST(s1 AS DOUBLE) / n / {QSCALE})", Q9)} AS var_val,
           {_stepped_sql('mn', QSCALE)} AS min_val,
           {_stepped_sql('mx', QSCALE)} AS max_val
    FROM moments
    """,
)
def emb_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moment census: n, mean, variance, min, max for
    every embedding coordinate — the dead/collapsed-dimension audit
    (a coordinate with ~0 variance carries no signal; one with a
    shifted mean breaks cosine assumptions).

    Plan: posexplode (narrow, ×d) → ONE hash aggregate over exactly
    ``d`` keys with map-side partials — the shuffle moves O(d · tasks)
    rows regardless of corpus size. Integer-quantized sums (module
    docstring) keep the hash engine-portable; min/max of doubles are
    order-independent as-is.
    """
    emb = table_wide(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    el = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim_idx", "val"
        )
    )
    n = F.count("*").alias("n")
    s1 = micro_sum(F.col("val")).alias("s1")
    s2 = micro_sum(F.col("val") * F.col("val")).alias("s2")
    agg = el.groupBy("dim_idx").agg(
        n, s1, s2, F.min("val").alias("mn"), F.max("val").alias("mx")
    )
    s1d = F.col("s1").cast("double") / F.col("n") / F.lit(float(QSCALE))
    s2d = F.col("s2").cast("double") / F.col("n") / F.lit(float(QSCALE))
    return agg.select(
        "dim_idx",
        "n",
        _stepped(s1d, Q9).alias("mean_val"),
        _stepped(s2d - s1d * s1d, Q9).alias("var_val"),
        _stepped(F.col("mn"), QSCALE).alias("min_val"),
        _stepped(F.col("mx"), QSCALE).alias("max_val"),
    )


def _cov_oracle() -> str:
    """Generated oracle: quantized first/second moment sums for the
    leading COV_DIMS×COV_DIMS block (upper triangle), covariance
    reconstructed in double with the same expression shape as Spark.
    DuckDB list indexing is 1-based."""
    pair_rows = ",\n      ".join(
        f"({i}, {j})" for i in range(COV_DIMS) for j in range(i, COV_DIMS)
    )
    return f"""
    WITH e AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ), pairs(di, dj) AS (
      VALUES {pair_rows}
    ), sums AS (
      SELECT p.di, p.dj,
             COUNT(*) AS n,
             {micro_sum_sql('e.v[p.di + 1] * e.v[p.dj + 1]')} AS sprod,
             {micro_sum_sql('e.v[p.di + 1]')} AS si,
             {micro_sum_sql('e.v[p.dj + 1]')} AS sj
      FROM e CROSS JOIN pairs p
      GROUP BY p.di, p.dj
    )
    SELECT CAST(di AS INT) AS dim_i, CAST(dj AS INT) AS dim_j,
           ROUND(CAST(sprod AS DOUBLE) / n / {QSCALE}
                 - (CAST(si AS DOUBLE) / n / {QSCALE})
                   * (CAST(sj AS DOUBLE) / n / {QSCALE}), 9) AS cov
    FROM sums
    """


@register("emb_covariance_block", oracle=_cov_oracle())
def emb_covariance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance of the leading ``COV_DIMS``-dim block, emitted as
    upper-triangle ``(dim_i, dim_j, cov)`` rows.

    Plan: NO explode and NO per-pair shuffle — all 36 pair sums plus 8
    first-moment sums are columns of ONE global aggregate, so the
    partial-aggregation state per task is a fixed ~45-value vector and
    the exchange moves one row per task (classic matrix-sketch
    folding: the cluster reduces a d²-size sketch, never the data).
    The aggregate row is then unpivoted driver-free via ``stack``.

    cov(i,j) = E[x_i·x_j] − E[x_i]·E[x_j], reconstructed from exact
    integer sums (module docstring) — bit-identical to the oracle.
    """
    emb = table_wide(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    v = F.col("embedding").cast("array<double>")
    aggs = [F.count("*").alias("n")]
    for i in range(COV_DIMS):
        aggs.append(micro_sum(v.getItem(i)).alias(f"s_{i}"))
    for i in range(COV_DIMS):
        for j in range(i, COV_DIMS):
            aggs.append(
                micro_sum(v.getItem(i) * v.getItem(j)).alias(f"p_{i}_{j}")
            )
    one = emb.agg(*aggs)

    def mean(col: str):
        return (
            F.col(col).cast("double") / F.col("n") / F.lit(float(QSCALE))
        )

    cells = []
    for i in range(COV_DIMS):
        for j in range(i, COV_DIMS):
            cells.append(
                F.struct(
                    F.lit(i).alias("dim_i"),
                    F.lit(j).alias("dim_j"),
                    F.round(
                        mean(f"p_{i}_{j}") - mean(f"s_{i}") * mean(f"s_{j}"),
                        9,
                    ).alias("cov"),
                )
            )
    return (
        one.filter(F.col("n") > 0)  # empty corpus: no covariance rows
        .select(F.explode(F.array(*cells)).alias("c"))
        .select("c.dim_i", "c.dim_j", "c.cov")
    )


PCA_CHUNK = 512  # rows per numpy outer-product chunk inside a batch


def gram_moments(emb: DataFrame) -> DataFrame:
    """Partition-parallel integer Gram sketch: each task folds its
    rows to an upper-triangle of quantized second-moment sums plus
    first moments and a count, emitted as O(d²) rows per task; one
    tiny shuffle sums the partials. Row encoding: ``(dim_i, dim_j,
    qsum)`` for i ≤ j; ``(dim_i, -1, qsum)`` first moments;
    ``(-1, -1, n)`` the row count.

    The kernel quantizes per ELEMENT (``floor(x_i·x_j·QSCALE + 0.5)``,
    int64) before summing, so partial sums are exact integers and the
    cross-partition total is independent of partitioning — the same
    determinism contract as the column-expression operators, at d=64
    where 2 080 aggregate columns would blow up codegen. A quantum or
    a partial sum outside int64 raises ``OverflowError``, as the
    oracles' BIGINT casts raise, instead of wrapping.
    """
    import numpy as np
    import pandas as pd

    d = SRC_DIMS
    iu = np.triu_indices(d)
    bound = 2.0**63

    def quanta_sum(P):
        # exact column sums of floor(P·QSCALE + 0.5); int64 only where
        # the float bound Σ|q| rules out a wrap, Python ints otherwise
        q = np.floor(P * QSCALE + 0.5)
        a = np.abs(q)
        if not np.all(a < bound):  # NaN fails the test too
            raise OverflowError("gram_moments: a quantum overflows int64")
        if a.sum(axis=0).max() < bound / 2:
            return q.astype(np.int64).sum(axis=0).astype(object)
        return q.astype(np.int64).astype(object).sum(axis=0)

    def fold(batches):
        gsum = np.zeros((d, d), dtype=object)
        s1 = np.zeros(d, dtype=object)
        n = 0
        for pdf in batches:
            vals = [
                v for v in pdf["embedding"] if v is not None and len(v) == d
            ]
            if not vals:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vals]
            )
            n += X.shape[0]
            s1 += quanta_sum(X)
            for lo in range(0, X.shape[0], PCA_CHUNK):
                C = X[lo : lo + PCA_CHUNK]
                gsum += quanta_sum(C[:, :, None] * C[:, None, :])
        qsum = [*gsum[iu], *s1, n]
        if not all(-bound <= v < bound for v in qsum):
            raise OverflowError("gram_moments: a partial sum overflows int64")
        rows = {
            "dim_i": np.concatenate(
                [iu[0], np.arange(d), np.array([-1])]
            ).astype(np.int32),
            "dim_j": np.concatenate(
                [iu[1], np.full(d, -1), np.array([-1])]
            ).astype(np.int32),
            "qsum": np.array(qsum, dtype=np.int64),
        }
        yield pd.DataFrame(rows)

    partials = emb.select("embedding").mapInPandas(
        fold, schema="dim_i int, dim_j int, qsum long"
    )
    return partials.groupBy("dim_i", "dim_j").agg(
        F.sum("qsum").alias("qsum")
    )


PCA_POWER_ITERS = 64  # driver-side power iterations on the d×d matrix


def pca_from_gram(rows) -> dict:
    """Driver-side finish: rebuild covariance from the integer Gram
    sketch (d×d — bounded, corpus-independent) and extract the top
    eigenvalue by power iteration with a deterministic all-ones start
    (symmetric PSD matrix → converges to λ₁; no RNG, so the result is
    run-stable)."""
    import numpy as np

    d = SRC_DIMS
    G = np.zeros((d, d), dtype=np.float64)
    s1 = np.zeros(d, dtype=np.float64)
    n = 0
    for r in rows:
        i, j, q = r["dim_i"], r["dim_j"], r["qsum"]
        if i == -1:
            n = int(q)
        elif j == -1:
            s1[i] = float(q)
        else:
            G[i, j] = float(q)
            G[j, i] = float(q)
    mu = s1 / n / QSCALE
    cov = G / n / QSCALE - np.outer(mu, mu)
    v = np.ones(d) / np.sqrt(d)
    lam = 0.0
    for _ in range(PCA_POWER_ITERS):
        w = cov @ v
        lam = float(np.linalg.norm(w))
        if lam == 0.0:
            break
        v = w / lam
    return {
        "n_vectors": n,
        "lambda1": lam,
        "max_variance": float(np.diag(cov).max()),
        "trace": float(np.trace(cov)),
        "pc1_loadings": v,
    }


@register(
    "emb_pca_power_floor",
    oracle=f"""
    SELECT COUNT(*) AS n_vectors,
           CAST({SRC_DIMS} AS INT) AS dim,
           TRUE AS pc1_bounds_met
    FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def emb_pca_power_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA acceptance gate (the recall-floor pattern, similarity.py):
    top covariance eigenvalue λ₁ via the distributed Gram sketch +
    driver power iteration, pinned by the spectral sandwich the
    oracle can state independently: ``max_i var_i ≤ λ₁ ≤ trace`` and
    ``λ₁ ≥ trace/d`` (λ₁ dominates every diagonal entry of a PSD
    matrix and at least the average eigenvalue). The corpus-sized work
    is all in :func:`gram_moments` (one O(d²)-state fold); the
    eigen-extraction touches only the d×d sketch.

    Exact loadings are additionally pinned against ``numpy.linalg``
    in tests/test_operators.py.
    """
    emb = table_wide(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    stats = pca_from_gram(
        (r.asDict() for r in gram_moments(emb).collect())
    )
    eps = 1e-9
    if stats["n_vectors"] < 2:
        # below two vectors covariance is identically zero (or
        # undefined): the spectral sandwich holds vacuously — avoid
        # NaN comparisons poisoning the claim
        ok = True
    else:
        ok = (
            stats["lambda1"] >= stats["max_variance"] - eps
            and stats["lambda1"] <= stats["trace"] + eps
            and stats["lambda1"] >= stats["trace"] / SRC_DIMS - eps
        )
    return spark.createDataFrame(
        [(stats["n_vectors"], SRC_DIMS, bool(ok))],
        schema="n_vectors bigint, dim int, pc1_bounds_met boolean",
    )


@register(
    "emb_anisotropy_report",
    oracle=f"""
    WITH e AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ), expanded AS (
      SELECT u.i - 1 AS dim_idx, u.x AS val
      FROM e, LATERAL (
        SELECT unnest(generate_series(1, len(v))) AS i, unnest(v) AS x
      ) u
    ), per_dim AS (
      SELECT dim_idx,
             COUNT(*) AS n,
             {micro_sum_sql('val')} AS s1,
             {micro_sum_sql('val * val')} AS s2
      FROM expanded GROUP BY dim_idx
    ), folded AS (
      -- cross-row sums stay EXACT integers (s1^2 and s2 in
      -- HUGEINT-safe DECIMAL); the double divisions happen ONCE on
      -- the folded scalars, so no order-sensitive double sum exists
      SELECT MAX(nn.mx) AS n_vectors,
             COUNT(*) AS n_dims,
             SUM(CAST(s1 AS HUGEINT) * CAST(s1 AS HUGEINT))
               AS s1sq_sum,
             SUM(CAST(s2 AS HUGEINT)) AS s2_sum
      FROM per_dim, (SELECT MAX(n) AS mx FROM per_dim) nn
      GROUP BY ()
    ), shaped AS (
      SELECT n_vectors, n_dims,
             CAST(s1sq_sum AS DOUBLE)
               / CAST(n_vectors AS DOUBLE) / CAST(n_vectors AS DOUBLE)
               / {QSCALE} / {QSCALE} AS center_norm2,
             CAST(s2_sum AS DOUBLE)
               / CAST(n_vectors AS DOUBLE) / {QSCALE} AS mean_norm2
      FROM folded
    )
    SELECT CAST(n_vectors AS BIGINT) AS n_vectors,
           CAST(n_dims AS BIGINT) AS n_dims,
           ROUND(mean_norm2, 9) AS mean_norm2,
           ROUND(center_norm2, 9) AS center_norm2,
           {micro_units_sql("center_norm2 / mean_norm2")} AS anisotropy_q6
    FROM shaped
    """,
)
def emb_anisotropy_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy diagnostic (Mu & Viswanath 2018
    "All-but-the-Top"; Ethayarajh 2019): the squared norm of the
    corpus MEAN vector against the mean squared norm —
    ``||μ||² / E||x||²`` — is ~0 for an isotropic cloud and → 1 as
    the space collapses onto a common direction (the degenerate
    geometry that breaks cosine retrieval and is fixed by mean
    removal — the report that says whether `emb_pca_power_floor`'s
    top component is signal or artifact). Complements
    `embedding_hygiene_report` (per-vector norms) with the
    corpus-GEOMETRY readout.

    Determinism: per-element values quantize to exact q6 integers
    before any cross-row sum (the module contract); both norms
    reconstruct from the SAME integer sums with expression shapes
    stated identically in both engines; the ratio lands as FLOOR q6.

    Plan: posexplode (narrow ×d) → ONE d-key aggregate with map-side
    partials (the only shuffle, O(d·tasks)) → a d-row fold with the
    broadcast n scalar. Nothing driver-side, state O(d).
    """
    emb = table_wide(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    expanded = emb.select(
        F.posexplode("embedding").alias("dim_idx", "val_f")
    ).select("dim_idx", F.col("val_f").cast("double").alias("val"))
    per_dim = expanded.groupBy("dim_idx").agg(
        F.count("*").alias("n"),
        micro_sum(F.col("val")).alias("s1"),
        micro_sum(F.col("val") * F.col("val")).alias("s2"),
    )
    nn = per_dim.agg(F.max("n").alias("mx"))
    folded = per_dim.crossJoin(F.broadcast(nn)).agg(
        F.max("mx").cast("long").alias("n_vectors"),
        F.count("*").cast("long").alias("n_dims"),
        F.sum(
            F.col("s1").cast("decimal(38,0)") * F.col("s1")
        ).alias("s1sq_sum"),
        F.sum(F.col("s2").cast("decimal(38,0)")).alias("s2_sum"),
    )
    return folded.selectExpr(
        "n_vectors",
        "n_dims",
        f"CAST(s1sq_sum AS DOUBLE) / CAST(n_vectors AS DOUBLE)"
        f" / CAST(n_vectors AS DOUBLE) / {QSCALE} / {QSCALE}"
        " AS center_norm2",
        f"CAST(s2_sum AS DOUBLE) / CAST(n_vectors AS DOUBLE)"
        f" / {QSCALE} AS mean_norm2",
    ).selectExpr(
        "n_vectors",
        "n_dims",
        "ROUND(mean_norm2, 9) AS mean_norm2",
        "ROUND(center_norm2, 9) AS center_norm2",
        micro_units_sql("center_norm2 / mean_norm2") + " AS anisotropy_q6",
    )


def _pr_oracle() -> str:
    d = SRC_DIMS
    return f"""
    WITH e AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {d}
    ), nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM e),
    s1 AS (
      SELECT u.i AS a,
             CAST({micro_sum_sql("v[u.i]")} AS HUGEINT) AS s
      FROM e, LATERAL (
        SELECT unnest(generate_series(1, {d})) AS i) u
      GROUP BY u.i
    ), gram AS (
      SELECT p.i AS a, p.j AS b,
             CAST({micro_sum_sql("v[p.i] * v[p.j]")} AS HUGEINT) AS g
      FROM e, LATERAL (
        SELECT u1.i AS i, u2.j AS j
        FROM (SELECT unnest(generate_series(1, {d})) AS i) u1,
             (SELECT unnest(generate_series(1, {d})) AS j) u2
        WHERE u2.j >= u1.i) p
      GROUP BY p.i, p.j
    ), cells AS (
      SELECT g.a, g.b,
             (nn.n * g.g * {QSCALE} - sa.s * sb.s) AS cen,
             nn.n AS n
      FROM gram g
      JOIN s1 sa ON sa.a = g.a
      JOIN s1 sb ON sb.a = g.b
      CROSS JOIN nn
    ), lattice AS (
      SELECT a, b, n,
             CASE WHEN n = 0 THEN 0 ELSE cen // (n * n * 1000) END AS dcell
      FROM cells
    ), folds AS (
      SELECT CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n_vecs,
             CAST(COALESCE(SUM(CASE WHEN a = b THEN dcell ELSE 0 END),
                           0) AS HUGEINT) AS tr,
             CAST(COALESCE(SUM(CASE WHEN a = b THEN dcell * dcell
                      ELSE 2 * dcell * dcell END), 0) AS HUGEINT) AS fr2
      FROM lattice
    )
    SELECT n_vecs,
           CAST({d} AS BIGINT) AS d,
           CAST(tr AS BIGINT) AS trace_d,
           CAST(fr2 // 1000000 AS BIGINT) AS frob2_div6,
           CAST(CASE WHEN n_vecs < 2 OR fr2 <= 0 THEN 0
                ELSE (tr * tr * 1000000) // fr2 END AS BIGINT)
             AS pr_q6
    FROM folds
    """


@register("emb_effective_rank_pr", oracle=_pr_oracle())
def emb_effective_rank_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio — the eigendecomposition-free effective
    rank of the embedding covariance: PR = (Σλ)²/Σλ² =
    trace(C)²/‖C‖²_F, computable from the GRAM SKETCH alone because
    trace and Frobenius norm are linear/quadratic cell functionals —
    no power iteration, no eigensolve, exact integers end to end.
    PR ∈ [1, d]: ≈ d means isotropic spread, ≈ 1 means rank collapse
    (the anisotropy row's companion, from second moments).

    Exactness: the centered covariance lattice is ``n·G·10⁶ − s_a·s_b``
    from :func:`gram_moments`'s integer cells, divided (integer
    division, truncating toward zero on both engines) by n² so cells
    stay ~cov·10¹² at ANY corpus size — traces and Frobenius folds
    then fit DECIMAL(38,0)/HUGEINT at every SF, and PR is one integer
    division of exact folds.

    Scale: inherits gram_moments' shape — per-task O(d²) integer
    partials via the Arrow fold, one d²-cell shuffle, then arithmetic
    on the 2 080-row triangle. Nothing touches the corpus twice."""
    d = SRC_DIMS
    emb = table_wide(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == d)
    )
    g = gram_moments(emb)
    n_row = g.where(
        (F.col("dim_i") == -1) & (F.col("dim_j") == -1)
    ).select(F.col("qsum").cast("decimal(38,0)").alias("n"))
    s = g.where(
        (F.col("dim_i") >= 0) & (F.col("dim_j") == -1)
    ).select(
        F.col("dim_i").alias("a"),
        F.col("qsum").cast("decimal(38,0)").alias("s"),
    )
    gram = g.where(F.col("dim_j") >= 0).select(
        F.col("dim_i").alias("a"),
        F.col("dim_j").alias("b"),
        F.col("qsum").cast("decimal(38,0)").alias("g"),
    )
    sa = s.select(F.col("a"), F.col("s").alias("s_a"))
    sb = s.select(F.col("a").alias("b"), F.col("s").alias("s_b"))
    cells = (
        gram.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .crossJoin(F.broadcast(n_row))
        .select(
            "a",
            "b",
            "n",
            F.expr(f"n * g * {QSCALE} - s_a * s_b").alias("cen"),
        )
    )
    lattice = cells.select(
        "a",
        "b",
        "n",
        # div returns BIGINT — the (n²·1000) scale keeps every
        # downstream product inside DECIMAL(38,0) AND every div
        # result inside int64 at any corpus size
        F.expr("CASE WHEN n = 0 THEN 0 ELSE cen div (n * n * 1000) END").alias(
            "dcell"
        ),
    )
    folds = lattice.agg(
        F.max("n").cast("long").alias("n_vecs"),
        F.sum(
            F.expr(
                "CASE WHEN a = b THEN CAST(dcell AS DECIMAL(38,0))"
                " ELSE CAST(0 AS DECIMAL(38,0)) END"
            )
        ).alias("tr"),
        F.sum(
            F.expr(
                "CASE WHEN a = b THEN CAST(dcell AS DECIMAL(38,0)) * dcell"
                " ELSE 2 * CAST(dcell AS DECIMAL(38,0)) * dcell END"
            )
        ).alias("fr2"),
    )
    return folds.select(
        "n_vecs",
        F.lit(d).cast("long").alias("d"),
        F.col("tr").cast("long").alias("trace_d"),
        F.expr(
            "CAST(fr2 div 1000000 AS BIGINT)"
        ).alias("frob2_div6"),
        F.expr(
            "CAST(CASE WHEN n_vecs < 2 OR fr2 <= 0 THEN 0"
            " ELSE (tr * tr * 1000000) div fr2 END AS BIGINT)"
        ).alias("pr_q6"),
    )
