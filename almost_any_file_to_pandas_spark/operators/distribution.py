"""Distribution-shape censuses over the TPC-H-ish tables: the
Gini/Lorenz concentration curve and the autocorrelation function of
the daily order series. (Benford conformance already exists as the
round-3 ``orders_benford_first_digit`` row in plans/relational.py —
deliberately NOT duplicated here.)

These are the classic "is this data shaped the way production data
should be" monitors a training-data pipeline runs before trusting a
new drop: Gini/Lorenz quantifies customer concentration (and, on
corpora, token or domain concentration), and the ACF exposes
periodicity and drift in arrival series.

Determinism: every cross-row fold is exact-integer (cents, counts,
DECIMAL(38,0)/HUGEINT products); each query performs its divisions
once, at the end, with the symmetric-truncation CASE so Spark ``div``
(truncate toward zero) and DuckDB ``//`` (floor) agree on negative
numerators.

Scale notes per operator are in the docstrings; the shared theme is
that nothing here materializes per-row state on the driver — the
Lorenz fold's only driver artifact is the per-range-partition
row-count offsets (≤ shuffle partition count), and the ACF runs over
a calendar-bounded daily spine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import (
    cents_units,
    cents_units_sql,
    micro_units_sql,
    register,
    table,
)

_GINI_ORACLE = f"""
    WITH spend AS (
      SELECT c.c_custkey,
             CAST(COALESCE(SUM({cents_units_sql("o.o_totalprice")}), 0)
                  AS BIGINT) AS spend_c
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    ), ranked AS (
      SELECT spend_c,
             CAST(ROW_NUMBER() OVER (ORDER BY spend_c, c_custkey)
                  AS BIGINT) AS i
      FROM spend
    ), gstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(spend_c AS HUGEINT)) AS HUGEINT) AS s0,
             CAST(SUM(CAST(i AS HUGEINT) * spend_c) AS HUGEINT) AS s1
      FROM ranked
    ), deciles AS (
      SELECT CAST((i - 1) * 10 // g.n + 1 AS BIGINT) AS decile,
             CAST(COUNT(*) AS BIGINT) AS n_cust,
             CAST(SUM(CAST(spend_c AS HUGEINT)) AS HUGEINT) AS dec_c
      FROM ranked CROSS JOIN gstats g
      GROUP BY 1
    )
    SELECT d.decile,
           d.n_cust,
           CAST(d.dec_c AS BIGINT) AS decile_spend_c,
           CAST(CASE WHEN g.s0 IS NULL OR g.s0 = 0 THEN 0
                ELSE SUM(d.dec_c) OVER (ORDER BY d.decile) * 1000000
                     // g.s0 END AS BIGINT) AS cum_share_q6,
           CAST(CASE WHEN g.s0 IS NULL OR g.s0 = 0 THEN 0
                ELSE (2 * g.s1 - (g.n + 1) * g.s0) * 1000000
                     // (g.n * g.s0) END AS BIGINT) AS gini_q6
    FROM deciles d CROSS JOIN gstats g
    """


@register("customer_spend_gini_lorenz", oracle=_GINI_ORACLE)
def customer_spend_gini_lorenz(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lorenz decile curve + exact Gini coefficient of per-customer
    spend (integer cents; customers with no orders count as 0).

    Gini over values sorted ascending with ranks i = 1..n is
    ``(2·Σ i·x_i − (n+1)·Σ x_i) / (n·Σ x_i)`` — exact in
    DECIMAL(38,0)/HUGEINT up to one final q6 division (numerator is
    ≥ 0 by the rearrangement inequality, so ``div`` and ``//``
    agree). Σ i·x_i is invariant to intra-tie order, so the
    ``c_custkey`` tie-break only pins the row_number, not the result.

    Scale — the global rank WITHOUT a single-partition window:
    ``repartitionByRange(spend_c, c_custkey)`` gives ascending,
    non-overlapping ranges per partition; ``row_number`` runs
    PARTITIONED by ``spark_partition_id()`` (parallel, partial
    sort only), and the global rank is the local rank plus a
    per-partition row-count offset — a ≤ shuffle-partition-count
    frame, broadcast back. This is the standard two-phase distributed
    ranking; at 100 TB the sort is Spark's ordinary range-partitioned
    exchange, never one task.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey",
        cents_units(F.col("o_totalprice")).alias("cents"),
    )
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.coalesce(F.sum("cents"), F.lit(0)).alias("spend_c"))
    )
    n_part = spark.sparkContext.defaultParallelism
    ranged = spend.repartitionByRange(
        n_part, "spend_c", "c_custkey"
    ).withColumn("pid", F.spark_partition_id())
    local = ranged.withColumn(
        "j",
        F.row_number().over(
            W.partitionBy("pid").orderBy("spend_c", "c_custkey")
        ),
    )
    # Per-partition counts → exclusive prefix-sum offsets. The frame
    # is ≤ n_part rows; the running-sum window over it is trivially
    # small and the result broadcasts.
    offsets = (
        ranged.groupBy("pid")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "offset",
            F.coalesce(
                F.sum("cnt").over(
                    W.orderBy("pid").rowsBetween(
                        W.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        )
        .select("pid", "offset")
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "spend_c", (F.col("j") + F.col("offset")).alias("i")
    )
    glob = ranked.agg(
        F.count("*").alias("n"),
        F.sum(F.expr("CAST(spend_c AS DECIMAL(38,0))")).alias("s0"),
        F.sum(
            F.expr("CAST(i AS DECIMAL(38,0)) * spend_c")
        ).alias("s1"),
    )
    deciles = (
        ranked.crossJoin(F.broadcast(glob))
        .groupBy(
            F.expr("CAST((i - 1) * 10 div n + 1 AS BIGINT)").alias(
                "decile"
            )
        )
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.expr("CAST(spend_c AS DECIMAL(38,0))")).alias(
                "dec_c"
            ),
        )
    )
    return (
        deciles.crossJoin(F.broadcast(glob))
        .withColumn(
            "cum_c",
            F.sum("dec_c").over(
                W.orderBy("decile").rowsBetween(
                    W.unboundedPreceding, 0
                )
            ),
        )
        .select(
            "decile",
            F.col("n_cust").cast("long").alias("n_cust"),
            F.col("dec_c").cast("long").alias("decile_spend_c"),
            F.expr(
                "CAST(CASE WHEN s0 IS NULL OR s0 = 0 THEN 0"
                " ELSE cum_c * 1000000 div s0 END AS BIGINT)"
            ).alias("cum_share_q6"),
            F.expr(
                "CAST(CASE WHEN s0 IS NULL OR s0 = 0 THEN 0"
                " ELSE (2 * s1 - (n + 1) * s0) * 1000000"
                " div (n * s0) END AS BIGINT)"
            ).alias("gini_q6"),
        )
    )


ACF_MAX_LAG = 14

_ACF_ORACLE = f"""
    WITH bounds AS (
      SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1 FROM orders
    ), spine AS (
      SELECT CAST(datediff('day', b.d0, CAST(g.x AS DATE)) AS BIGINT)
               AS idx
      FROM bounds b,
           LATERAL (SELECT UNNEST(range(b.d0::TIMESTAMP,
                                        (b.d1 + INTERVAL 1 DAY)::TIMESTAMP,
                                        INTERVAL 1 DAY)) AS x) g
    ), daily AS (
      SELECT CAST(datediff('day', b.d0, o.o_orderdate) AS BIGINT) AS idx,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders o CROSS JOIN bounds b GROUP BY 1
    ), series AS (
      SELECT s.idx, CAST(COALESCE(d.x, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN daily d ON s.idx = d.idx
    ), gstats AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS q
      FROM series
    ), lags AS (
      SELECT CAST(UNNEST(range(1, {ACF_MAX_LAG + 1})) AS BIGINT) AS lag
    ), pairs AS (
      SELECT l.lag,
             CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(a.x AS HUGEINT) * b.x) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(a.x AS HUGEINT)) AS HUGEINT) AS head_s,
             CAST(SUM(CAST(b.x AS HUGEINT)) AS HUGEINT) AS tail_s
      FROM lags l
      JOIN series a ON TRUE
      JOIN series b ON b.idx = a.idx + l.lag
      GROUP BY l.lag
    )
    SELECT p.lag,
           p.n_pairs,
           CAST(p.sxy AS BIGINT) AS sxy,
           CASE WHEN (g.n * g.n * p.sxy - g.n * g.s
                        * (p.head_s + p.tail_s)
                      + (g.n - p.lag) * g.s * g.s) >= 0
                THEN CAST((g.n * g.n * p.sxy - g.n * g.s
                             * (p.head_s + p.tail_s)
                           + (g.n - p.lag) * g.s * g.s) * 1000000
                          // (g.n * g.n * g.q - g.n * g.s * g.s)
                          AS BIGINT)
                ELSE -CAST((-(g.n * g.n * p.sxy - g.n * g.s
                                * (p.head_s + p.tail_s)
                              + (g.n - p.lag) * g.s * g.s)) * 1000000
                           // (g.n * g.n * g.q - g.n * g.s * g.s)
                           AS BIGINT)
           END AS acf_q6
    FROM pairs p CROSS JOIN gstats g
    """


@register("orders_acf_daily_counts", oracle=_ACF_ORACLE)
def orders_acf_daily_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Autocorrelation function (lags 1..{ACF_MAX_LAG}) of the DENSE
    daily order-count series, from exact-integer sufficient
    statistics.

    The centered ACF numerator over pairs (t, t+k), scaled by n² to
    clear the rational mean, is
    ``n²·Σx_t·x_{{t+k}} − n·S·(head_k + tail_k) + (n−k)·S²`` with
    ``S = Σx``; the denominator is ``n²·Q − n·S²`` with ``Q = Σx²``.
    All folds are DECIMAL(38,0)/HUGEINT; one symmetric-truncation q6
    division per lag at the end (numerators go negative for
    anti-correlated lags — the sign CASE keeps Spark ``div`` and
    DuckDB ``//`` identical).

    Scale: the dense series is CALENDAR-BOUNDED (one row per day —
    ~2.4k rows for seven years, regardless of table size), so the
    lag self-join and the per-lag aggregation are over a frame that
    does not grow with the data; the only full-table work is the one
    map-side-combined daily groupBy.
    """
    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("d0"),
        F.max("o_orderdate").alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
        "d0",
    ).select(F.datediff("day", "d0").cast("long").alias("idx"))
    daily = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff("o_orderdate", "d0").cast("long").alias("idx")
        )
        .agg(F.count("*").alias("x"))
    )
    series = spine.join(daily, "idx", "left").select(
        "idx", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    glob = series.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("q"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = series.alias("a")
    b = series.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("b.idx") == F.col("a.idx") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.expr("CAST(a.x AS DECIMAL(38,0)) * b.x")
            ).alias("sxy"),
            F.sum(F.col("a.x")).alias("head_s"),
            F.sum(F.col("b.x")).alias("tail_s"),
        )
    )
    num = (
        "(CAST(n AS DECIMAL(38,0)) * n * sxy"
        " - CAST(n AS DECIMAL(38,0)) * s * (head_s + tail_s)"
        " + (CAST(n AS DECIMAL(38,0)) - lag) * s * s)"
    )
    den = (
        "(CAST(n AS DECIMAL(38,0)) * n * q"
        " - CAST(n AS DECIMAL(38,0)) * s * s)"
    )
    return pairs.crossJoin(F.broadcast(glob)).select(
        "lag",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("sxy").cast("long").alias("sxy"),
        F.expr(
            f"CASE WHEN {num} >= 0"
            f" THEN CAST(({num} * 1000000) div {den} AS BIGINT)"
            f" ELSE -CAST((-{num} * 1000000) div {den} AS BIGINT)"
            " END"
        ).alias("acf_q6"),
    )


@register(
    "events_type_entropy_census",
    oracle=f"""
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ), agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM({micro_units_sql("n * ln(n)")}) AS BIGINT) AS sum_nln
      FROM counts
    )
    SELECT nn AS n_events,
           k AS n_types,
           CAST(CASE WHEN nn < 1 THEN 0
                ELSE {micro_units_sql("ln(nn)")}
                     - sum_nln // nn END AS BIGINT) AS entropy_q6,
           CAST(CASE WHEN k < 2 OR nn < 1 THEN 0
                ELSE ({micro_units_sql("ln(nn)")}
                      - sum_nln // nn) * 1000000
                     // {micro_units_sql("ln(k)")}
                END AS BIGINT) AS norm_entropy_q6
    FROM agg
    """,
)
def events_type_entropy_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shannon entropy (nats, q6) of the event-type mix plus its
    normalized form H/ln(k) — the one-number "is this stream's
    composition drifting" monitor.

    H = ln N − (Σ nᵢ·ln nᵢ)/N, with each nᵢ·ln nᵢ term quantized to
    an INTEGER q6 micro-nat BEFORE the cross-row sum (the house
    rule: never sum raw doubles — ln on an exact-integer input is
    bit-stable per libm, the quantized terms then fold exactly in
    any order). One final integer division each; the k<2 / empty
    guards short-circuit to 0 on both engines.

    Scale: one map-side-combined groupBy onto the bounded event-type
    domain, then a 1-row fold of that census."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    agg = counts.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.expr(micro_units_sql("n * ln(n)"))).alias("sum_nln"),
    )
    return agg.select(
        F.col("nn").alias("n_events"),
        F.col("k").alias("n_types"),
        F.expr(
            "CAST(CASE WHEN nn < 1 THEN 0"
            f" ELSE {micro_units_sql('ln(nn)')}"
            " - sum_nln div nn END AS BIGINT)"
        ).alias("entropy_q6"),
        F.expr(
            "CAST(CASE WHEN k < 2 OR nn < 1 THEN 0"
            f" ELSE ({micro_units_sql('ln(nn)')}"
            " - sum_nln div nn) * 1000000"
            f" div {micro_units_sql('ln(k)')}"
            " END AS BIGINT)"
        ).alias("norm_entropy_q6"),
    )


NEWSVENDOR_FRACTILE_Q6 = 800_000  # cu=4, co=1 → cu/(cu+co) = 0.8


@register(
    "part_newsvendor_stock_level",
    oracle=f"""
    WITH demand AS (
      SELECT p.p_brand AS brand,
             CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT) AS q
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), census AS (
      SELECT brand, q, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM demand GROUP BY brand, q
    ), walk AS (
      SELECT brand, q, cnt,
             SUM(cnt) OVER (PARTITION BY brand ORDER BY q) AS cum,
             SUM(cnt) OVER (PARTITION BY brand) AS n_obs
      FROM census
    ), hit AS (
      SELECT brand, q, cum, n_obs,
             ROW_NUMBER() OVER (PARTITION BY brand ORDER BY q) AS rn
      FROM walk
      WHERE cum * 1000000 >= {NEWSVENDOR_FRACTILE_Q6} * n_obs
    )
    SELECT brand,
           CAST(n_obs AS BIGINT) AS n_obs,
           CAST(q AS BIGINT) AS stock_level,
           CAST(cum * 1000000 // n_obs AS BIGINT) AS achieved_q6
    FROM hit WHERE rn = 1
    """,
)
def part_newsvendor_stock_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newsvendor stocking level per brand at the critical fractile
    cu/(cu+co) = 0.8: the smallest order quantity q whose empirical
    CDF reaches the fractile — the textbook single-period inventory
    answer, computed as an EXACT ceil-rank order statistic on the
    per-brand quantity VALUE CENSUS (cum·10⁶ ≥ fractile·n in pure
    integers; no percentile builtin, no float CDF).

    Scale: the demand build is the ordinary co-partitioned
    lineitem⋈part join; the census collapses to ≤|brands|·|distinct
    qty| cells (25×50 here — quantity domains are enumerable in any
    real catalog) and every window runs partitioned by brand over
    that bounded frame."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)").alias("q"),
    )
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    census = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"), "q")
        .agg(F.count("*").alias("cnt"))
    )
    walk = census.select(
        "brand",
        "q",
        "cnt",
        F.sum("cnt")
        .over(W.partitionBy("brand").orderBy("q"))
        .alias("cum"),
        F.sum("cnt").over(W.partitionBy("brand")).alias("n_obs"),
    )
    hit = (
        walk.where(
            F.col("cum") * 1_000_000
            >= F.lit(NEWSVENDOR_FRACTILE_Q6) * F.col("n_obs")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("brand").orderBy("q")
            ),
        )
        .where(F.col("rn") == 1)
    )
    return hit.select(
        "brand",
        F.col("n_obs").cast("long").alias("n_obs"),
        F.col("q").cast("long").alias("stock_level"),
        F.expr("CAST(cum * 1000000 div n_obs AS BIGINT)").alias(
            "achieved_q6"
        ),
    )


import math as _math

SPECTRUM_PERIODS = tuple(range(2, 15))  # candidate cycles, days

# round(cos/sin(2πr/p)·1e6) — integer micro-coefficients computed
# once and injected as LITERALS into both engines, so the DFT bin
# folds are exact-integer and accumulation-order-free.
_SPECTRUM_COEFFS = [
    (
        p,
        r,
        round(_math.cos(2 * _math.pi * r / p) * 1e6),
        round(_math.sin(2 * _math.pi * r / p) * 1e6),
    )
    for p in SPECTRUM_PERIODS
    for r in range(p)
]

_COEFF_VALUES_SQL = ", ".join(
    f"({p}, {r}, {c}, {s})" for p, r, c, s in _SPECTRUM_COEFFS
)


@register(
    "orders_weekday_spectrum",
    oracle=f"""
    WITH bounds AS (
      SELECT MIN(o_orderdate) AS d0, MAX(o_orderdate) AS d1 FROM orders
    ), spine AS (
      SELECT CAST(datediff('day', b.d0, CAST(g.x AS DATE)) AS BIGINT)
               AS idx
      FROM bounds b,
           LATERAL (SELECT UNNEST(range(b.d0::TIMESTAMP,
                                        (b.d1 + INTERVAL 1 DAY)::TIMESTAMP,
                                        INTERVAL 1 DAY)) AS x) g
    ), daily AS (
      SELECT CAST(datediff('day', b.d0, o.o_orderdate) AS BIGINT) AS idx,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM orders o CROSS JOIN bounds b GROUP BY 1
    ), series AS (
      SELECT s.idx, CAST(COALESCE(d.x, 0) AS BIGINT) AS x
      FROM spine s LEFT JOIN daily d ON s.idx = d.idx
    ), gstats AS (
      SELECT CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS s0 FROM series
    ), coeffs(p, r, cosq, sinq) AS (
      VALUES {_COEFF_VALUES_SQL}
    ), bins AS (
      SELECT c.p,
             CAST(SUM(CAST(t.x AS HUGEINT) * c.cosq) AS HUGEINT) AS sc,
             CAST(SUM(CAST(t.x AS HUGEINT) * c.sinq) AS HUGEINT) AS ss,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM series t JOIN coeffs c ON c.r = t.idx % c.p
      GROUP BY c.p
    )
    SELECT b.p AS period,
           b.n_days,
           CAST(b.sc AS BIGINT) AS s_cos_q6,
           CAST(b.ss AS BIGINT) AS s_sin_q6,
           CAST(CASE WHEN g.s0 = 0 THEN 0
                ELSE (b.sc * b.sc + b.ss * b.ss) // (g.s0 * g.s0)
                END AS BIGINT) AS amp2_q12
    FROM bins b CROSS JOIN gstats g
    """,
)
def orders_weekday_spectrum(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-integer DFT bins of the dense daily order series at
    candidate periods 2..14 days — the periodicity detector that
    answers "does this arrival stream have a weekly cycle" without a
    float FFT: each bin folds Σ x·cosq(t mod p) and Σ x·sinq(t mod p)
    against q6-quantized trig LITERALS (identical integers on both
    engines), and the squared relative amplitude
    (Sc² + Ss²)/S0² emits as q12 after one HUGEINT/DECIMAL division.
    A flat series scores ≈0 on every bin; a weekly cycle spikes
    period 7 (and its alias 14).

    Scale: the corpus-sized work is the one daily groupBy; the
    spectrum fold joins the CALENDAR-BOUNDED series to a 104-row
    broadcast coefficient table and aggregates onto ≤13 period
    keys."""
    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min("o_orderdate").alias("d0"),
        F.max("o_orderdate").alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
        "d0",
    ).select(F.datediff("day", "d0").cast("long").alias("idx"))
    daily = (
        orders.crossJoin(F.broadcast(bounds))
        .groupBy(
            F.datediff("o_orderdate", "d0").cast("long").alias("idx")
        )
        .agg(F.count("*").alias("x"))
    )
    series = spine.join(daily, "idx", "left").select(
        "idx", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    gstats = series.agg(
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("s0")
    )
    coeffs = spark.createDataFrame(
        _SPECTRUM_COEFFS, "p bigint, r bigint, cosq bigint, sinq bigint"
    )
    bins = (
        series.join(
            F.broadcast(coeffs),
            F.col("r") == F.col("idx") % F.col("p"),
        )
        .groupBy("p")
        .agg(
            F.sum(
                F.expr("CAST(x AS DECIMAL(38,0)) * cosq")
            ).alias("sc"),
            F.sum(
                F.expr("CAST(x AS DECIMAL(38,0)) * sinq")
            ).alias("ss"),
            F.count("*").cast("long").alias("n_days"),
        )
    )
    return bins.crossJoin(F.broadcast(gstats)).select(
        F.col("p").alias("period"),
        "n_days",
        F.col("sc").cast("long").alias("s_cos_q6"),
        F.col("ss").cast("long").alias("s_sin_q6"),
        F.expr(
            "CAST(CASE WHEN s0 = 0 THEN 0"
            " ELSE (sc * sc + ss * ss) div (s0 * s0) END AS BIGINT)"
        ).alias("amp2_q12"),
    )


@register(
    "orders_price_index_fisher",
    oracle=f"""
    WITH yrs AS (
      SELECT MIN(year(o_orderdate)) AS y0, MAX(year(o_orderdate)) AS y1
      FROM orders
    ), py AS (
      SELECT l.l_partkey AS pk, year(o.o_orderdate) AS y,
             CAST(SUM({cents_units_sql("l.l_extendedprice")}) AS BIGINT)
               AS ext_c,
             CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
                  AS BIGINT) AS qty
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      CROSS JOIN yrs
      WHERE year(o.o_orderdate) IN (yrs.y0, yrs.y1)
      GROUP BY 1, 2 HAVING SUM(l.l_quantity) > 0
    ), priced AS (
      SELECT pk, y, qty,
             CAST(CAST(ext_c AS HUGEINT) * 1000000 // qty AS BIGINT)
               AS p_q6
      FROM py
    ), common AS (
      SELECT b.pk,
             b.p_q6 AS p0, b.qty AS q0,
             c.p_q6 AS p1, c.qty AS q1
      FROM priced b JOIN priced c ON c.pk = b.pk
      CROSS JOIN yrs
      WHERE b.y = yrs.y0 AND c.y = yrs.y1 AND yrs.y0 < yrs.y1
    ), folds AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common_parts,
             CAST(SUM(CAST(p1 AS HUGEINT) * q0) AS HUGEINT) AS l_num,
             CAST(SUM(CAST(p0 AS HUGEINT) * q0) AS HUGEINT) AS l_den,
             CAST(SUM(CAST(p1 AS HUGEINT) * q1) AS HUGEINT) AS p_num,
             CAST(SUM(CAST(p0 AS HUGEINT) * q1) AS HUGEINT) AS p_den
      FROM common
    )
    SELECT y.y0 AS base_year, y.y1 AS comp_year,
           f.n_common_parts,
           CAST(f.l_num * 1000000 // f.l_den AS BIGINT)
             AS laspeyres_q6,
           CAST(f.p_num * 1000000 // f.p_den AS BIGINT)
             AS paasche_q6,
           CAST(FLOOR(sqrt(
             CAST(f.l_num * 1000000 // f.l_den AS DOUBLE)
             * CAST(f.p_num * 1000000 // f.p_den AS DOUBLE)) + 0.5)
             AS BIGINT) AS fisher_q6
    FROM folds f CROSS JOIN yrs y
    WHERE f.n_common_parts > 0
    """,
)
def orders_price_index_fisher(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between the first
    and last order year over the COMMON part basket — the classic
    "did prices actually move, net of mix shift" decomposition every
    spend dashboard needs. Per-part unit prices quantize to exact q6
    integers FIRST ((Σ cents·10⁶) div Σ qty — one integer division
    per part-year), then the four index folds (Σp₁q₀, Σp₀q₀, Σp₁q₁,
    Σp₀q₁) are pure HUGEINT/DECIMAL(38,0) sums; Laspeyres and
    Paasche emit after one integer division each, and Fisher is the
    correctly-rounded sqrt of their (exact) product — the only
    double in the row, on bit-identical inputs.

    Scale: one fact-join groupBy to (part, year) restricted to the
    two basket years (partition-prunable at a real lake), a
    co-partitioned self-join on part, and a 1-row fold. Nothing
    holds more than the part-year frame."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("y")
    )
    yrs = orders.agg(
        F.min("y").alias("y0"), F.max("y").alias("y1")
    )
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        cents_units(F.col("l_extendedprice")).alias("ext_c"),
        F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)").alias(
            "qty1"
        ),
    )
    py = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .crossJoin(F.broadcast(yrs))
        .where((F.col("y") == F.col("y0")) | (F.col("y") == F.col("y1")))
        .groupBy(F.col("l_partkey").alias("pk"), "y")
        .agg(
            F.sum("ext_c").alias("ext_c"),
            F.sum("qty1").alias("qty"),
        )
        .where(F.col("qty") > 0)
    )
    priced = py.select(
        "pk",
        "y",
        "qty",
        F.expr(
            "CAST(CAST(ext_c AS DECIMAL(38,0)) * 1000000 div qty"
            " AS BIGINT)"
        ).alias("p_q6"),
    )
    b = priced.alias("b")
    c = priced.alias("c")
    common = (
        b.join(c, F.col("b.pk") == F.col("c.pk"))
        .crossJoin(F.broadcast(yrs))
        .where(
            (F.col("b.y") == F.col("y0"))
            & (F.col("c.y") == F.col("y1"))
            & (F.col("y0") < F.col("y1"))
        )
        .select(
            F.col("b.p_q6").alias("p0"),
            F.col("b.qty").alias("q0"),
            F.col("c.p_q6").alias("p1"),
            F.col("c.qty").alias("q1"),
        )
    )
    folds = common.agg(
        F.count("*").cast("long").alias("n_common_parts"),
        F.sum(F.expr("CAST(p1 AS DECIMAL(38,0)) * q0")).alias("l_num"),
        F.sum(F.expr("CAST(p0 AS DECIMAL(38,0)) * q0")).alias("l_den"),
        F.sum(F.expr("CAST(p1 AS DECIMAL(38,0)) * q1")).alias("p_num"),
        F.sum(F.expr("CAST(p0 AS DECIMAL(38,0)) * q1")).alias("p_den"),
    )
    return (
        folds.crossJoin(F.broadcast(yrs))
        .where(F.col("n_common_parts") > 0)
        .select(
            F.col("y0").cast("long").alias("base_year"),
            F.col("y1").cast("long").alias("comp_year"),
            "n_common_parts",
            F.expr(
                "CAST(l_num * 1000000 div l_den AS BIGINT)"
            ).alias("laspeyres_q6"),
            F.expr(
                "CAST(p_num * 1000000 div p_den AS BIGINT)"
            ).alias("paasche_q6"),
            F.expr(
                "CAST(FLOOR(sqrt("
                "CAST(l_num * 1000000 div l_den AS DOUBLE)"
                " * CAST(p_num * 1000000 div p_den AS DOUBLE)) + 0.5)"
                " AS BIGINT)"
            ).alias("fisher_q6"),
        )
    )
