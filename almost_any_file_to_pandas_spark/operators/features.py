"""Feature engineering over relational columns — the model-input prep
stage of a training-data pipeline (categorical encoding, scaling,
hashing-trick bucketing), expressed Spark-first.

Reference scope note: the reference (main.py:1-466) stops at file →
all-string frame; feature encoding is extension surface alongside the
dedup/similarity/text families (SURVEY §7).

Scale shapes:
- ``feat_brand_index_onehot`` fits a StringIndexer-style vocabulary:
  distinct over the corpus (one shuffle over ~|vocab| keys with
  map-side partials) → bounded driver collect of the VOCABULARY (25
  brands here; bounded by category cardinality exactly like MLlib's
  StringIndexer fit, the Bloom bitset or the PQ codebook — never by
  corpus size) → the mapping ships back as a literal CASE chain, so
  the encode pass is a pure column expression: NO join against the
  corpus at all.
- ``feat_price_minmax_scale`` folds min/max in one aggregate and
  broadcasts the 1-row bounds onto the scan (a cross join with a
  1-row side is a broadcast nested loop of cost O(rows)); min/max are
  order-independent so no quantization is needed for hash parity.
- ``feat_hash_bucket`` is stateless — the hashing trick needs no fit
  pass, no vocabulary, no shuffle: one narrow md5-derived bucket
  expression (the engine-portable arithmetic of
  pipeline.split_bucket_expr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.plans import (
    exact_sum,
    exact_sum_sql,
    from_micro,
    from_micro_sql,
    micro_cents,
    micro_cents_sql,
    micro_sum,
    micro_sum_sql,
    micro_units,
    micro_units_sql,
    register,
    table,
)

HASH_BUCKETS = 1024


@register(
    "feat_brand_index_onehot",
    oracle="""
    WITH vocab AS (
      SELECT p_brand,
             ROW_NUMBER() OVER (ORDER BY p_brand) - 1 AS brand_idx
      FROM (SELECT DISTINCT p_brand FROM part)
    )
    SELECT p.p_partkey, p.p_brand, v.brand_idx,
           [CAST(CASE WHEN i = v.brand_idx THEN 1 ELSE 0 END AS INT)
            FOR i IN range((SELECT COUNT(*) FROM vocab))] AS onehot
    FROM part p JOIN vocab v USING (p_brand)
    """,
)
def feat_brand_index_onehot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable categorical index + one-hot vector for ``p_brand`` —
    the StringIndexer/OneHotEncoder pair as engine queries. Index =
    rank in sorted brand order (deterministic, no fit randomness);
    the vocabulary is collected once (bounded by cardinality, module
    docstring) and the encode is a literal CASE chain + array
    expression, keeping the corpus pass join-free and JVM-side.
    """
    part = table(spark, sf_dir, "part")
    vocab = sorted(
        r[0]
        for r in part.select("p_brand").distinct().collect()
    )
    idx_expr = F.lit(None).cast("int")
    for i in reversed(range(len(vocab))):
        idx_expr = F.when(
            F.col("p_brand") == vocab[i], F.lit(i)
        ).otherwise(idx_expr)
    onehot = F.array(
        *[
            F.when(F.col("brand_idx") == i, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            for i in range(len(vocab))
        ]
    )
    return (
        part.select("p_partkey", "p_brand")
        .withColumn("brand_idx", idx_expr)
        .withColumn("onehot", onehot)
    )


@register(
    "feat_price_minmax_scale",
    oracle="""
    WITH bounds AS (
      SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber,
           l_extendedprice,
           -- degenerate guard: a constant feature scales to 0.0
           -- (hi = lo would divide by zero)
           CASE WHEN hi = lo THEN 0.0
                ELSE ROUND((l_extendedprice - lo) / (hi - lo), 9)
                END AS price_scaled
    FROM lineitem CROSS JOIN bounds
    """,
)
def feat_price_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max scaling of ``l_extendedprice`` to [0, 1] — the
    numeric-feature normalization pass. One aggregate computes the
    bounds (order-independent extremes → no decimal quantization
    needed for hash parity); the 1-row bounds frame broadcasts onto
    the scan, so the scaling pass is a single narrow projection.
    """
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    return li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    ).crossJoin(F.broadcast(bounds)).select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice",
        F.when(F.col("hi") == F.col("lo"), F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("l_extendedprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo")),
                9,
            )
        )
        .alias("price_scaled"),
    )


@register(
    "feat_hash_bucket",
    oracle=f"""
    SELECT p_partkey, p_name,
           (('0x' || substr(md5(p_name), 1, 8))::BIGINT % {HASH_BUCKETS})
             AS name_bucket
    FROM part
    """,
)
def feat_hash_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature: ``p_name`` → one of ``HASH_BUCKETS``
    buckets from the md5-derived integer (identical arithmetic in the
    oracle). No vocabulary, no fit pass, no shuffle — the stateless
    encoding used when cardinality is unbounded (URLs, tokens,
    user-agents) and a collision rate ~1/buckets is acceptable.
    """
    part = table(spark, sf_dir, "part")
    bucket = (
        F.conv(F.substring(F.md5(F.col("p_name")), 1, 8), 16, 10)
        .cast("bigint")
        % HASH_BUCKETS
    )
    return part.select(
        "p_partkey", "p_name", bucket.alias("name_bucket")
    )


TARGET_ENCODE_ALPHA = 20  # smoothing pseudo-count toward the global mean


@register(
    "feat_segment_target_encode",
    oracle=f"""
    WITH joined AS (
      SELECT c.c_mktsegment, o.o_totalprice AS t
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), gprior AS (
      SELECT CAST({micro_sum_sql("t")} AS HUGEINT) AS gsum_u,
             COUNT(*) AS gn
      FROM joined
    )
    -- all-integer shrunk mean in micros (house _q6 recipe):
    -- (Σs + α·Σg/Ng)/(ns+α) = (Σs·Ng + α·Σg) / (Ng·(ns+α)),
    -- every term an exact HUGEINT — no float ever enters the output
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST((CAST({micro_sum_sql("t")} AS HUGEINT) * ANY_VALUE(gn)
                 + {TARGET_ENCODE_ALPHA} * ANY_VALUE(gsum_u))
                // (ANY_VALUE(gn) * (COUNT(*) + {TARGET_ENCODE_ALPHA}))
                AS BIGINT) AS target_enc_q6
    FROM joined CROSS JOIN gprior
    GROUP BY c_mktsegment
    """,
)
def feat_segment_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of ``c_mktsegment`` against order
    value: ``(Σt + α·prior) / (n + α)`` — the Bayesian-shrunk category
    mean that replaces high-cardinality categoricals in gradient
    models without exploding feature width (α pseudo-counts pull
    thin categories toward the global mean).

    Plan: one broadcast-dim join (customer side carries only the
    segment), exact micro-unit sums (order-independent → hash
    parity), a 1-row global prior broadcast back onto the 5-row
    category aggregate. Two shuffles total, both over partial sums.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select("c_mktsegment", F.col("o_totalprice").alias("t"))
    glob = joined.agg(
        micro_sum(F.col("t")).alias("gsum_u"), F.count("*").alias("gn")
    )
    per_seg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        micro_sum(F.col("t")).alias("_sum_u"),
    )
    return per_seg.crossJoin(F.broadcast(glob)).select(
        "c_mktsegment",
        "n_orders",
        F.expr(
            f"CAST((_sum_u * gn + {TARGET_ENCODE_ALPHA} * gsum_u)"
            f" div (gn * (n_orders + {TARGET_ENCODE_ALPHA}))"
            " AS BIGINT)"
        ).alias("target_enc_q6"),
    )


NEG_POOL_M = 64  # deterministic candidate item pool size
NEG_K = 4  # negatives emitted per user

_PAIR_HASH_SQL = (
    "(('0x' || substr(md5(CAST(o_custkey AS VARCHAR) || ':' "
    "|| CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT)"
)


@register(
    "feat_negative_samples",
    oracle=f"""
    WITH interactions AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), pool AS (
      SELECT p_partkey FROM part
      ORDER BY ('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 8))::BIGINT,
               p_partkey
      LIMIT {NEG_POOL_M}
    ), users AS (
      SELECT DISTINCT o_custkey FROM orders
    ), cand AS (
      SELECT u.o_custkey, p.p_partkey
      FROM users u CROSS JOIN pool p
      WHERE NOT EXISTS (
        SELECT 1 FROM interactions i
        WHERE i.o_custkey = u.o_custkey AND i.l_partkey = p.p_partkey
      )
    ), ranked AS (
      SELECT o_custkey, p_partkey,
             ROW_NUMBER() OVER (
               PARTITION BY o_custkey
               ORDER BY {_PAIR_HASH_SQL}, p_partkey
             ) AS neg_rank
      FROM cand
    )
    SELECT o_custkey, p_partkey, neg_rank
    FROM ranked WHERE neg_rank <= {NEG_K}
    """,
)
def feat_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive/recsys
    training: per customer, ``NEG_K`` parts they never purchased,
    drawn from a fixed hash-selected ``NEG_POOL_M``-item candidate
    pool (the standard bounded-pool formulation — the full user×item
    cross space is never materialized; candidate volume is
    users × M, linear in users).

    Plan: pool = TakeOrderedAndProject over part (broadcast); user ×
    pool candidates anti-joined against the distinct interaction
    pairs (one shuffle keyed on custkey — AQE can broadcast the pool
    side); per-user rank window runs over ≤ M rows per user. All
    randomness is md5-derived and engine-portable, so the sample is
    reproducible run-to-run and matches the oracle exactly.
    """
    from pyspark.sql import Window as W

    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")

    def h(col):
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")

    pool = (
        part.select("p_partkey")
        .orderBy(h(F.col("p_partkey").cast("string")), "p_partkey")
        .limit(NEG_POOL_M)
    )
    interactions = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
    )
    users = orders.select("o_custkey").distinct()
    cand = users.crossJoin(F.broadcast(pool))
    neg = cand.join(
        interactions,
        (cand.o_custkey == interactions.o_custkey)
        & (cand.p_partkey == interactions.l_partkey),
        "left_anti",
    )
    pair_hash = h(
        F.concat_ws(
            ":",
            F.col("o_custkey").cast("string"),
            F.col("p_partkey").cast("string"),
        )
    )
    w = W.partitionBy("o_custkey").orderBy(pair_hash, F.col("p_partkey"))
    return (
        neg.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= NEG_K)
        .select("o_custkey", "p_partkey", "neg_rank")
    )


@register(
    "feat_segment_ols_trend",
    oracle=f"""
    WITH obs AS (
      SELECT c.c_mktsegment,
             date_diff('day', DATE '1992-01-01', o.o_orderdate) AS x,
             CAST({micro_units_sql("o.o_totalprice")} AS DECIMAL(20,0))
               AS y_u
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), sums AS (
      SELECT c_mktsegment,
             COUNT(*) AS n,
             SUM(x) AS sx,
             SUM(CAST(x AS BIGINT) * x) AS sxx,
             {from_micro_sql("SUM(y_u)")} AS sy,
             {from_micro_sql("SUM(y_u * x)")} AS sxy
      FROM obs GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, n,
           ROUND((n * sxy - sx * sy)
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6)
             AS slope_per_day,
           ROUND((sy
                  - ((n * sxy - sx * sy)
                     / (n * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx)) * sx) / n, 6)
             AS intercept
    FROM sums
    """,
)
def feat_segment_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment least-squares trend of order value over time — the
    grouped-model-fit primitive (one regression per key, thousands of
    keys in production) done DECLARATIVELY: OLS reduces to five
    sufficient statistics per group (n, Σx, Σx², Σy, Σxy), so the fit
    is ONE map-side-combined aggregate; slope/intercept are closed
    forms over the aggregate row. No Python in the corpus path; the
    ``applyInPandas`` formulation (numpy lstsq per group) is pinned
    equal in tests/test_operators.py as the escape hatch for models
    with no sufficient-statistic form.

    Determinism: x is exact integer days, y exact micro-units
    (:func:`~almost_any_file_to_pandas_spark.plans.micro_units`) —
    both sums are order-independent DECIMALs, and the doubles are
    derived from them with the identical expression shape as the
    oracle. A row must satisfy |o_totalprice| < 9.2e12 (was 1e19 on
    the per-row DECIMAL cast); outside it the query raises.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    x = F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
    y_u = micro_units(F.col("o_totalprice")).cast("decimal(20,0)")
    obs = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        "c_mktsegment",
        x.cast("bigint").alias("x"),
        y_u.alias("y_u"),
    )
    sums = obs.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y_u").alias("sy_u"),
        F.sum(F.col("y_u") * F.col("x")).alias("sxy_u"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = from_micro(F.col("sy_u"))
    sxy = from_micro(F.col("sxy_u"))
    slope = (n * sxy - F.col("sx") * sy) / (n * sxx - sx * F.col("sx"))
    return sums.select(
        "c_mktsegment",
        "n",
        F.round(slope, 6).alias("slope_per_day"),
        F.round((sy - slope * F.col("sx")) / n, 6).alias("intercept"),
    )


def segment_ols_apply_in_pandas(obs: DataFrame) -> DataFrame:
    """The ``applyInPandas`` twin of :func:`feat_segment_ols_trend`'s
    aggregate form — per-group numpy least squares, for model shapes
    with no sufficient-statistic reduction (regularized/robust fits).
    Input schema: (c_mktsegment, x bigint, y double). Grouped state is
    one segment's rows per task — the standard group-map contract.
    """
    import numpy as np
    import pandas as pd

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        xv = pdf["x"].to_numpy(dtype=np.float64)
        yv = pdf["y"].to_numpy(dtype=np.float64)
        A = np.stack([xv, np.ones_like(xv)], axis=1)
        coef, *_ = np.linalg.lstsq(A, yv, rcond=None)
        return pd.DataFrame(
            {
                "c_mktsegment": [pdf["c_mktsegment"].iloc[0]],
                "n": [len(pdf)],
                "slope_per_day": [coef[0]],
                "intercept": [coef[1]],
            }
        )

    return obs.groupBy("c_mktsegment").applyInPandas(
        fit,
        schema=(
            "c_mktsegment string, n long, "
            "slope_per_day double, intercept double"
        ),
    )


WINSOR_LO = 0.01
WINSOR_HI = 0.99


@register(
    "feat_price_winsorize_census",
    oracle=f"""
    WITH bounds AS (
      SELECT quantile_cont(l_extendedprice, {WINSOR_LO}) AS lo,
             quantile_cont(l_extendedprice, {WINSOR_HI}) AS hi
      FROM lineitem
    )
    SELECT COUNT(*) AS n_rows,
           ROUND(ANY_VALUE(lo), 6) AS p01,
           ROUND(ANY_VALUE(hi), 6) AS p99,
           -- COALESCE: zero clipped rows on an empty corpus (the
           -- Spark side's count_if says 0; SUM over no rows, NULL)
           CAST(COALESCE(SUM(CASE WHEN l_extendedprice < lo
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_clipped_low,
           CAST(COALESCE(SUM(CASE WHEN l_extendedprice > hi
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_clipped_high,
           {exact_sum_sql("GREATEST(LEAST(l_extendedprice, hi), lo)")}
             AS clipped_sum
    FROM lineitem CROSS JOIN bounds
    """,
)
def feat_price_winsorize_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winsorization pass for a heavy-tailed numeric feature: exact
    p01/p99 bounds, outliers clipped to them, census row with clip
    counts and the exact clipped sum (the audit a pipeline logs
    before feeding scaled features to training).

    Plan: ``F.percentile`` computes both exact interpolated quantiles
    in ONE aggregate (same definition as DuckDB ``quantile_cont`` —
    hash-equality across engines is already pinned by the percentile
    relational queries); the 1-row bounds broadcast onto the scan and
    the clip census folds map-side. Two passes over the column, no
    corpus-wide sort — the win over naive rank-based winsorizing.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.percentile("l_extendedprice", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(WINSOR_HI)).alias("hi"),
    )
    clipped = F.greatest(
        F.least(F.col("l_extendedprice"), F.col("hi")), F.col("lo")
    )
    return (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(bounds))
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.first("lo"), 6).alias("p01"),
            F.round(F.first("hi"), 6).alias("p99"),
            F.count_if(F.col("l_extendedprice") < F.col("lo")).alias(
                "n_clipped_low"
            ),
            F.count_if(F.col("l_extendedprice") > F.col("hi")).alias(
                "n_clipped_high"
            ),
            exact_sum(clipped).alias("clipped_sum"),
        )
    )


DRIFT_BINS = 10


@register(
    "feat_price_drift_bins",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
      FROM lineitem
    ), binned AS (
      -- degenerate guard: a constant-price corpus (hi = lo) maps
      -- every row to bin 0 instead of dividing by zero
      SELECT CASE WHEN hi = lo THEN 0
                  ELSE LEAST(CAST(FLOOR((l_extendedprice - lo)
                                        / (hi - lo)
                              * {DRIFT_BINS}) AS INT),
                   {DRIFT_BINS - 1}) END AS bin_idx,
             l_orderkey % 2 AS half
      FROM lineitem CROSS JOIN bounds
    ), per_bin AS (
      SELECT bin_idx,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_base,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_delta
      FROM binned GROUP BY bin_idx
    ), totals AS (
      SELECT SUM(n_base) AS tb, SUM(n_delta) AS td FROM per_bin
    )
    SELECT bin_idx, n_base, n_delta,
           CASE WHEN tb = 0 THEN NULL
                ELSE ROUND(CAST(n_base AS DOUBLE) / tb, 6)
                END AS share_base,
           CASE WHEN td = 0 THEN NULL
                ELSE ROUND(CAST(n_delta AS DOUBLE) / td, 6)
                END AS share_delta,
           CASE WHEN tb = 0 OR td = 0 OR n_base = 0 THEN NULL
                ELSE ROUND((CAST(n_base AS DOUBLE) / tb
                  - CAST(n_delta AS DOUBLE) / td)
                 * (CAST(n_base AS DOUBLE) / tb
                    - CAST(n_delta AS DOUBLE) / td)
                 / (CAST(n_base AS DOUBLE) / tb), 9) END AS chi2_term
    FROM per_bin CROSS JOIN totals
    """,
)
def feat_price_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two deterministic corpus
    halves (the stand-in for yesterday's snapshot vs today's batch):
    equal-width bins over the shared min/max, per-bin counts and
    shares for each half, and the χ²-style per-bin drift term
    ``(p_base − p_delta)² / p_base`` — the PSI replacement that needs
    no logarithm (ln is not correctly-rounded across engines; squared
    ratios are plain IEEE arithmetic, hash-stable).

    Plan: one 1-row bounds aggregate broadcast onto the scan, ONE
    aggregate over ``DRIFT_BINS`` keys with both halves' counts as
    conditional sums (the corpus is read once, not once per half),
    and the share/χ² arithmetic runs on the 10-row bin table.
    """
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    )
    # degenerate guard: constant-price corpus maps to bin 0 (the
    # oracle states the same rule) instead of dividing by zero
    bin_idx = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor(
                (F.col("l_extendedprice") - F.col("lo"))
                / (F.col("hi") - F.col("lo"))
                * DRIFT_BINS
            ).cast("int"),
            F.lit(DRIFT_BINS - 1),
        )
    )
    half = F.col("l_orderkey") % 2
    per_bin = (
        li.select("l_extendedprice", "l_orderkey")
        .crossJoin(F.broadcast(bounds))
        .select(bin_idx.alias("bin_idx"), half.alias("half"))
        .groupBy("bin_idx")
        .agg(
            F.count_if(F.col("half") == 0).alias("n_base"),
            F.count_if(F.col("half") == 1).alias("n_delta"),
        )
    )
    totals = per_bin.agg(
        F.sum("n_base").alias("tb"), F.sum("n_delta").alias("td")
    )
    pb = F.col("n_base").cast("double") / F.col("tb")
    pd_ = F.col("n_delta").cast("double") / F.col("td")
    return per_bin.crossJoin(F.broadcast(totals)).select(
        "bin_idx",
        "n_base",
        "n_delta",
        F.when(F.col("tb") == 0, F.lit(None))
        .otherwise(F.round(pb, 6))
        .alias("share_base"),
        F.when(F.col("td") == 0, F.lit(None))
        .otherwise(F.round(pd_, 6))
        .alias("share_delta"),
        F.when(
            (F.col("tb") == 0)
            | (F.col("td") == 0)
            | (F.col("n_base") == 0),
            F.lit(None),
        )
        .otherwise(F.round((pb - pd_) * (pb - pd_) / pb, 9))
        .alias("chi2_term"),
    )


QBIN_N = 10


@register(
    "feat_price_quantile_bins",
    oracle=f"""
    WITH cuts AS (
      SELECT quantile_cont(l_extendedprice, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
      FROM lineitem
    ), binned AS (
      SELECT len(list_filter(qs, q -> l_extendedprice > q)) AS bin_idx,
             l_extendedprice AS price
      FROM lineitem CROSS JOIN cuts
    )
    SELECT CAST(bin_idx AS INT) AS bin_idx,
           COUNT(*) AS n_rows,
           ROUND(MIN(price), 2) AS min_price,
           ROUND(MAX(price), 2) AS max_price
    FROM binned GROUP BY bin_idx
    """,
)
def feat_price_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency (quantile) binning — the discretization that
    gives every bin the same mass regardless of the value
    distribution (the equal-width twin is ``feat_price_drift_bins``;
    decile-ranked orders are ``order_value_decile_binning`` — this
    one bins by VALUE cuts so new data can be assigned without a
    rank pass).

    Plan: the {QBIN_N - 1} exact interpolated cut points come from ONE
    aggregate (same quantile definition as DuckDB ``quantile_cont``);
    the 1-row cut array broadcasts onto the scan and bin assignment
    is a pure array-fold expression (count of cuts strictly below the
    value — identical comparison semantics in both engines, no
    rounding at the boundary); the census aggregates over ≤ {QBIN_N}
    keys.
    """
    li = table(spark, sf_dir, "lineitem")
    cuts = li.agg(
        F.array(
            *[
                F.percentile("l_extendedprice", F.lit(i / QBIN_N))
                for i in range(1, QBIN_N)
            ]
        ).alias("qs")
    )
    bin_idx = F.aggregate(
        F.col("qs"),
        F.lit(0),
        lambda acc, q: acc
        + F.when(F.col("l_extendedprice") > q, 1).otherwise(0),
    )
    return (
        li.select("l_extendedprice")
        .crossJoin(F.broadcast(cuts))
        .select(
            bin_idx.cast("int").alias("bin_idx"),
            F.col("l_extendedprice").alias("price"),
        )
        .groupBy("bin_idx")
        .agg(
            F.count("*").alias("n_rows"),
            F.round(F.min("price"), 2).alias("min_price"),
            F.round(F.max("price"), 2).alias("max_price"),
        )
    )


KFOLDS = 5  # deterministic hash folds for out-of-fold encoding

_FOLD_SQL = (
    "(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT"
    f" % {KFOLDS})"
)


@register(
    "feat_target_encode_oof",
    oracle=f"""
    WITH joined AS (
      SELECT c.c_mktsegment AS seg, {_FOLD_SQL} AS fold,
             o.o_totalprice AS t
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
      SELECT seg, fold, COUNT(*) AS n_cell,
             CAST({micro_sum_sql("t")} AS HUGEINT) AS sum_cell
      FROM joined GROUP BY seg, fold
    ), walked AS (
      SELECT seg, fold, n_cell,
             SUM(n_cell) OVER (PARTITION BY seg) - n_cell AS n_oof,
             SUM(sum_cell) OVER (PARTITION BY seg) - sum_cell AS sum_oof,
             SUM(n_cell) OVER () - SUM(n_cell) OVER (PARTITION BY fold)
               AS gn_oof,
             SUM(sum_cell) OVER ()
               - SUM(sum_cell) OVER (PARTITION BY fold) AS gsum_oof
      FROM cells
    )
    SELECT seg AS c_mktsegment, fold, CAST(n_cell AS BIGINT) AS n_in_fold,
           CAST(n_oof AS BIGINT) AS n_oof,
           CAST((sum_oof * gn_oof + {TARGET_ENCODE_ALPHA} * gsum_oof)
                // (gn_oof * (n_oof + {TARGET_ENCODE_ALPHA}))
                AS BIGINT) AS oof_enc_q6
    FROM walked
    """,
)
def feat_target_encode_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold smoothed target encoding — the LEAKAGE-FREE form of
    ``feat_segment_target_encode``: each (segment, fold) cell is
    encoded from the OTHER folds' rows only, so a model trained on
    fold f never sees its own targets inside the feature (the classic
    target-leak that inflates offline metrics). Fold assignment is the
    house md5-prefix hash of the order key — deterministic, engine-
    portable, partitioning-independent.

    One pass computes everything: the corpus reduces to the
    (segment × fold) cell grid (≤ 5·{KFOLDS} rows at any corpus
    size), and three window sums over that bounded grid derive
    per-segment leave-fold-out sums, plus the leave-fold-out GLOBAL
    prior (the shrinkage target must exclude the fold too, or the
    prior itself leaks). The shrunk mean uses the house all-integer
    recipe: ``(Σoof·Ngoof + α·Σgoof) / (Goof·(noof+α))`` in
    DECIMAL(38,0)/HUGEINT, exact q6 out.

    Scale: one broadcast dim join + ONE map-side-combinable shuffle
    to the cell grid; windows touch only the grid. Same cost shape as
    the in-fold encoder — leakage-freedom is free at scale.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    fold = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % KFOLDS
    )
    joined = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("seg"),
        fold.alias("fold"),
        F.col("o_totalprice").alias("t"),
    )
    cells = joined.groupBy("seg", "fold").agg(
        F.count("*").alias("n_cell"), micro_sum(F.col("t")).alias("sum_cell")
    )
    by_seg = W.partitionBy("seg")
    by_fold = W.partitionBy("fold")
    allw = W.partitionBy()
    walked = cells.select(
        "seg",
        "fold",
        "n_cell",
        (F.sum("n_cell").over(by_seg) - F.col("n_cell")).alias("n_oof"),
        (F.sum("sum_cell").over(by_seg) - F.col("sum_cell")).alias(
            "sum_oof"
        ),
        (
            F.sum("n_cell").over(allw) - F.sum("n_cell").over(by_fold)
        ).alias("gn_oof"),
        (
            F.sum("sum_cell").over(allw) - F.sum("sum_cell").over(by_fold)
        ).alias("gsum_oof"),
    )
    return walked.select(
        F.col("seg").alias("c_mktsegment"),
        "fold",
        F.expr("CAST(n_cell AS BIGINT)").alias("n_in_fold"),
        F.expr("CAST(n_oof AS BIGINT)").alias("n_oof"),
        F.expr(
            f"CAST((sum_oof * gn_oof + {TARGET_ENCODE_ALPHA} * gsum_oof)"
            f" div (gn_oof * (n_oof + {TARGET_ENCODE_ALPHA}))"
            " AS BIGINT)"
        ).alias("oof_enc_q6"),
    )


RFM_K = 4  # customer segments trained by the deterministic quantizer

# Features quantize to EXACT q6 rationals before training: integer
# millionths divided by 1e6 are bit-identical doubles on both engines,
# their DECIMAL(30,15) centroid-mean casts are exact, and the whole
# Lloyd chain inherits the embeddings recipe's determinism. Raw
# double ratios here (messy dividends like 37/89) surfaced last-ulp
# ROUND(x,12) divergence in the elbow curve's distance sums.
_RFM_SPEND_CENTS_SQL = micro_cents_sql(micro_sum_sql("o_totalprice"))
_RFM_E_SQL = f"""SELECT b.vec_id,
             [CASE WHEN m.max_r = 0 THEN 0.0
                   ELSE (b.r_days * 1000000 // m.max_r) / 1000000.0 END,
              CASE WHEN m.max_n = 0 THEN 0.0
                   ELSE (b.n_orders * 1000000 // m.max_n) / 1000000.0
              END,
              CASE WHEN m.max_s = 0 THEN 0.0
                   ELSE (b.spend_c * 1000000 // m.max_s) / 1000000.0
              END] AS v
      FROM (
        SELECT i.o_custkey AS vec_id,
               date_diff('day', i.last_d, g.gmax) AS r_days,
               i.n_orders,
               i.spend_c
        FROM (
          SELECT o_custkey,
                 MAX(CAST(o_orderdate AS DATE)) AS last_d,
                 COUNT(*) AS n_orders,
                 {_RFM_SPEND_CENTS_SQL} AS spend_c
          FROM orders GROUP BY o_custkey
        ) i CROSS JOIN (
          SELECT MAX(CAST(o_orderdate AS DATE)) AS gmax FROM orders
        ) g
      ) b CROSS JOIN (
        SELECT MAX(b2.r_days) AS max_r, MAX(b2.n_orders) AS max_n,
               MAX(b2.spend_c) AS max_s
        FROM (
          SELECT date_diff('day', i.last_d, g.gmax) AS r_days,
                 i.n_orders,
                 i.spend_c
          FROM (
            SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d,
                   COUNT(*) AS n_orders,
                   {_RFM_SPEND_CENTS_SQL} AS spend_c
            FROM orders GROUP BY o_custkey
          ) i CROSS JOIN (
            SELECT MAX(CAST(o_orderdate AS DATE)) AS gmax FROM orders
          ) g
        ) b2
      ) m"""


def _rfm_kmeans_oracle() -> str:
    from almost_any_file_to_pandas_spark.operators.ivf_kmeans import (
        _kmeans_cents_sql,
        _sqdist_q12_sql,
    )

    cents = _kmeans_cents_sql(
        e_sql=_RFM_E_SQL, k_fixed_sql=f"SELECT {RFM_K} AS k"
    )
    d = _sqdist_q12_sql("e.v", "c.cvec")
    return f"""
    WITH {cents}, assigned AS (
      SELECT e.vec_id, c.cid
      FROM e CROSS JOIN c2 c
      QUALIFY ROW_NUMBER() OVER (
        PARTITION BY e.vec_id ORDER BY {d}, c.cid) = 1
    ), raw AS (
      SELECT o_custkey AS vec_id,
             COUNT(*) AS n_orders,
             {_RFM_SPEND_CENTS_SQL} AS spend_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(a.cid AS BIGINT) AS segment,
           COUNT(*) AS n_customers,
           CAST(SUM(r.n_orders) AS BIGINT) AS total_orders,
           CAST(SUM(r.spend_cents) AS BIGINT) AS total_spend_cents
    FROM assigned a JOIN raw r ON r.vec_id = a.vec_id
    GROUP BY a.cid
    """


@register("customer_rfm_kmeans_segments", oracle=_rfm_kmeans_oracle())
def customer_rfm_kmeans_segments(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEARNED customer segmentation: k-means (k={RFM_K}) over
    normalized RFM features (recency days, order count, total spend
    cents — each scaled to [0,1] as an EXACT q6 rational: integer
    millionths divided by 1e6, so both engines see bit-identical
    vectors whose decimal casts are exact), trained by the SAME
    deterministic integer-q12 Lloyd's quantizer as the IVF index
    (``deterministic_kmeans_centroids`` — seeds = k smallest
    custkeys, 2 rounds, exact cross-engine parity), then a one-pass
    assignment and an exact integer census per segment. Complements
    the RULE-based ``customer_rfm_segments`` (fixed thresholds) with
    the data-driven clustering a CRM actually ships.

    100 TB shape: RFM features are ONE orders shuffle (custkey
    groupBy); the global max date and the three normalizers fold from
    customer-sized frames (1-row broadcasts). The quantizer's
    per-round assignment is a narrow broadcast-argmin map pass (no
    shuffle) and its mean step shuffles only (k × 3) keys; the final
    assignment reuses the same broadcast pattern, and the census is a
    {RFM_K}-row aggregate. q12 contract holds by construction:
    features live in [0, 1].

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    from almost_any_file_to_pandas_spark.operators.ivf_kmeans import (
        _argmin_cid,
        deterministic_kmeans_centroids,
    )

    orders = table(spark, sf_dir, "orders")
    inner = orders.groupBy(F.col("o_custkey").alias("vec_id")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count("*").alias("n_orders"),
        micro_cents(micro_sum(F.col("o_totalprice"))).alias("spend_c"),
    )
    g = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("gmax")
    )
    b = inner.crossJoin(F.broadcast(g)).select(
        "vec_id",
        # datediff returns 32-bit INT; under Spark-4 ANSI mode
        # r_days * 1000000 overflows once max recency >= 2148 days
        # (a standard TPC-H span is 2405) — widen BEFORE the scale
        F.datediff("gmax", "last_d").cast("long").alias("r_days"),
        "n_orders",
        "spend_c",
    )
    m = b.agg(
        F.max("r_days").alias("max_r"),
        F.max("n_orders").alias("max_n"),
        F.max("spend_c").alias("max_s"),
    )
    feat = (
        b.crossJoin(F.broadcast(m))
        .select(
            "vec_id",
            F.array(
                F.expr(
                    "CASE WHEN max_r = 0 THEN 0.0"
                    " ELSE (r_days * 1000000 div max_r) / 1000000.0 END"
                ),
                F.expr(
                    "CASE WHEN max_n = 0 THEN 0.0"
                    " ELSE (n_orders * 1000000 div max_n) / 1000000.0 END"
                ),
                F.expr(
                    "CASE WHEN max_s = 0 THEN 0.0"
                    " ELSE (spend_c * 1000000 div max_s) / 1000000.0 END"
                ),
            ).alias("v"),
        )
        # materialize ONCE (the elbow twin's existing discipline):
        # the trainer's seed pass, both Lloyd rounds, and the final
        # assignment all re-execute this lineage otherwise — each
        # replay is three orders scans (inner + the two 1-row
        # normalizer aggregates). Customer-sized frame, same
        # trade-off as the quantizer's own checkpoints.
        .localCheckpoint(eager=True)
    )
    cents = deterministic_kmeans_centroids(spark, feat, RFM_K)
    crow = cents.agg(F.collect_list(F.struct("cid", "cvec")).alias("cs"))
    assigned = feat.crossJoin(F.broadcast(crow)).select(
        "vec_id", _argmin_cid(F.col("cs"), F.col("v")).alias("cid")
    )
    raw = orders.groupBy(F.col("o_custkey").alias("vec_id")).agg(
        F.count("*").alias("n_orders"),
        micro_cents(micro_sum(F.col("o_totalprice"))).alias("spend_cents"),
    )
    return (
        assigned.join(raw, "vec_id")
        .groupBy(F.col("cid").cast("long").alias("segment"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("n_orders").cast("long").alias("total_orders"),
            F.sum("spend_cents").cast("long").alias("total_spend_cents"),
        )
    )


RFM_ELBOW_KS = (2, 4, 8)


def _rfm_elbow_oracle() -> str:
    from almost_any_file_to_pandas_spark.operators.ivf_kmeans import (
        _kmeans_cents_sql,
        _sqdist_q12_sql,
    )

    d = _sqdist_q12_sql("e.v", "c.cvec")
    arms = []
    for k in RFM_ELBOW_KS:
        cents = _kmeans_cents_sql(
            e_sql=_RFM_E_SQL, k_fixed_sql=f"SELECT {k} AS k"
        )
        arms.append(
            f"""(
      WITH {cents}, a AS (
        SELECT e.vec_id, c.cid, {d} AS dist
        FROM e CROSS JOIN c2 c
        QUALIFY ROW_NUMBER() OVER (
          PARTITION BY e.vec_id ORDER BY {d}, c.cid) = 1
      )
      SELECT {k} AS k,
             CAST(COUNT(*) AS BIGINT) AS n_points,
             CAST(COALESCE(SUM(CAST(dist AS HUGEINT)), 0)
                  // NULLIF(COUNT(*), 0) AS BIGINT) AS mean_sqdist_q12,
             CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_clusters_used
      FROM a
    )"""
        )
    return (
        "SELECT CAST(k AS BIGINT) AS k, n_points, mean_sqdist_q12,"
        " n_clusters_used FROM (\n"
        + "\n      UNION ALL ".join(arms)
        + "\n    )"
    )


@register("customer_rfm_kmeans_elbow_curve", oracle=_rfm_elbow_oracle())
def customer_rfm_kmeans_elbow_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The elbow curve for the learned RFM segmentation — the
    clustering family's knob curve (choose k by watching mean
    within-cluster squared distance fall): for k in {RFM_ELBOW_KS},
    train the SAME deterministic integer-q12 quantizer and report
    exact mean assigned-centroid q12 distance (HUGEINT/DECIMAL-
    widened sum — n·3e12 passes int64 at ~3M customers) plus how
    many clusters the seeds actually used. Every number is exact
    integer arithmetic, so the curve's monotone-in-k story is
    hash-pinned, not eyeballed.

    100 TB shape: one RFM feature build (shared lineage), then per k
    a fixed 2-round trainer (broadcast-argmin assignment passes,
    (k×3)-key mean shuffles) and ONE final assignment aggregate —
    |ks| bounded trainings, no per-k corpus rescan beyond the
    trainer's fixed passes; at production scale the trainer runs on
    a bounded sample exactly like the IVF quantizer.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    from almost_any_file_to_pandas_spark.operators.ivf_kmeans import (
        _sqdist_q12,
        deterministic_kmeans_centroids,
    )

    orders = table(spark, sf_dir, "orders")
    inner = orders.groupBy(F.col("o_custkey").alias("vec_id")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count("*").alias("n_orders"),
        micro_cents(micro_sum(F.col("o_totalprice"))).alias("spend_c"),
    )
    g = orders.agg(
        F.max(F.col("o_orderdate").cast("date")).alias("gmax")
    )
    b = inner.crossJoin(F.broadcast(g)).select(
        "vec_id",
        # widen datediff's 32-bit INT before the 1e6 scale (ANSI
        # overflow at >= 2148 days recency; see the segments twin)
        F.datediff("gmax", "last_d").cast("long").alias("r_days"),
        "n_orders",
        "spend_c",
    )
    m = b.agg(
        F.max("r_days").alias("max_r"),
        F.max("n_orders").alias("max_n"),
        F.max("spend_c").alias("max_s"),
    )
    feat = (
        b.crossJoin(F.broadcast(m))
        .select(
            "vec_id",
            F.array(
                F.expr(
                    "CASE WHEN max_r = 0 THEN 0.0"
                    " ELSE (r_days * 1000000 div max_r) / 1000000.0 END"
                ),
                F.expr(
                    "CASE WHEN max_n = 0 THEN 0.0"
                    " ELSE (n_orders * 1000000 div max_n) / 1000000.0"
                    " END"
                ),
                F.expr(
                    "CASE WHEN max_s = 0 THEN 0.0"
                    " ELSE (spend_c * 1000000 div max_s) / 1000000.0"
                    " END"
                ),
            ).alias("v"),
        )
        .localCheckpoint(eager=True)  # shared by all |ks| trainings
    )
    arms = []
    for k in RFM_ELBOW_KS:
        cents = deterministic_kmeans_centroids(spark, feat, k)
        crow = cents.agg(
            F.collect_list(F.struct("cid", "cvec")).alias("cs")
        )
        best = F.array_min(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    _sqdist_q12(F.col("v"), c["cvec"]).alias("d"),
                    c["cid"].alias("cid"),
                ),
            )
        )
        assigned = feat.crossJoin(F.broadcast(crow)).select(
            best["d"].alias("dist"), best["cid"].alias("cid")
        )
        arms.append(
            assigned.agg(
                F.lit(k).cast("long").alias("k"),
                F.count("*").alias("n_points"),
                F.expr(
                    "CAST(coalesce(sum(CAST(dist AS DECIMAL(38,0))), 0)"
                    " div nullif(count(*), 0) AS BIGINT)"
                ).alias("mean_sqdist_q12"),
                F.countDistinct("cid").cast("long").alias(
                    "n_clusters_used"
                ),
            ).select("k", "n_points", "mean_sqdist_q12", "n_clusters_used")
        )
    out = arms[0]
    for a in arms[1:]:
        out = out.unionAll(a)
    return out


GROUP_KFOLD_K = 5


@register(
    "feat_group_kfold_census",
    oracle=f"""
    WITH e AS (
      SELECT user_id,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
              % {GROUP_KFOLD_K}) AS fold
      FROM events
    ), f AS (
      SELECT fold, COUNT(DISTINCT user_id) AS n_users,
             COUNT(*) AS n_events
      FROM e GROUP BY fold
    ), t AS (
      SELECT SUM(n_users) AS tot_users, SUM(n_events) AS tot_events
      FROM f
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_users * 1000000 // tot_users AS BIGINT)
             AS user_share_q6,
           CAST(n_events * 1000000 // tot_events AS BIGINT)
             AS event_share_q6
    FROM f CROSS JOIN t
    """,
)
def feat_group_kfold_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GROUP k-fold assignment census (the GroupKFold
    contract: all rows of one group land in exactly ONE fold, so a
    model never sees its validation users at train time — the
    cross-validation twin of `corpus_split_leakage`'s train/test
    discipline): fold = portable md5 bucket of user_id mod
    {GROUP_KFOLD_K}, a pure function of the group key, making the
    no-leakage property hold BY CONSTRUCTION on any engine and any
    partitioning. The census reports per-fold user/event counts and
    shares — the balance check an experimenter reads before trusting
    fold variance.

    100 TB shape: fold is a stateless narrow expression (no fit pass,
    no vocabulary); the census is one (fold, user) two-phase distinct
    aggregate — {GROUP_KFOLD_K} output rows. Assignment of the corpus
    itself never shuffles: training readers filter
    ``fold != k`` with the same expression, predicate-pushable.
    """
    ev = table(spark, sf_dir, "events")
    folded = ev.select(
        "user_id",
        (
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint")
            % GROUP_KFOLD_K
        ).alias("fold"),
    )
    f = folded.groupBy("fold").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )
    t = f.agg(
        F.sum("n_users").alias("tot_users"),
        F.sum("n_events").alias("tot_events"),
    )
    return f.crossJoin(F.broadcast(t)).select(
        F.col("fold").cast("long").alias("fold"),
        F.col("n_users").cast("long").alias("n_users"),
        F.col("n_events").cast("long").alias("n_events"),
        F.expr("n_users * 1000000 div tot_users").alias("user_share_q6"),
        F.expr("n_events * 1000000 div tot_events").alias(
            "event_share_q6"
        ),
    )
