"""Temporal operators Spark has no built-in for: as-of join.

The reference has no joins at all (SURVEY §2.9); as-of joins are in
the extension surface's named custom-operator list. Per the
composition-first rule (build from existing DataFrame ops before
reaching for UDFs), the as-of join here is NOT a join node: both
sides union into one event stream and a window function carries the
most recent left-side row forward — the "last non-null over ordered
partition" formulation.

Why this wins at 100 TB: a naive as-of join is a non-equi join
(t_right ≤ t_left) that Spark plans as a broadcast nested loop or an
exploded range join; the window form is ONE shuffle on the
partition key and a per-partition sort — exactly the cost of the
sort-merge join it replaces, with no quadratic blowup and AQE-managed
skew. DuckDB's native ASOF JOIN exists for the oracle, but the
window restatement is used there too so both engines run the
identical algorithm on identical types.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.plans import (
    SESSION_GAP_MINUTES,
    exact_sum,
    exact_sum_sq,
    exact_sum_sq_sql,
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
    table_wide,
)

ASOF_TOLERANCE_MINUTES = 30


def asof_join_last_before(
    events: DataFrame,
    left_type: str,
    right_type: str,
    tolerance_micros: int,
) -> DataFrame:
    """Generic as-of: for each ``left_type`` event, the most recent
    ``right_type`` event of the same user strictly before it (row
    order: ts, event_id), within ``tolerance_micros``."""
    ev = events.filter(F.col("event_type").isin(left_type, right_type))
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    is_right = F.col("event_type") == right_type
    marked = ev.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.last(F.when(is_right, F.col("ts")), ignorenulls=True)
        .over(w)
        .alias("matched_ts"),
        F.last(F.when(is_right, F.col("event_id")), ignorenulls=True)
        .over(w)
        .alias("matched_id"),
    )
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("matched_ts"))
    # canonicalization-proof outputs: timestamps as INTEGER epoch
    # micros, the gap as INTEGER micros (never a rendered timestamp or
    # a float division — the r03 fragile classes)
    return marked.filter(
        (F.col("event_type") == left_type)
        & F.col("matched_ts").isNotNull()
        & (gap <= tolerance_micros)
    ).select(
        F.col("event_id").alias("left_id"),
        "user_id",
        F.unix_micros(F.col("ts")).alias("left_ts_us"),
        F.col("matched_id").alias("right_id"),
        F.unix_micros(F.col("matched_ts")).alias("right_ts_us"),
        gap.alias("gap_us"),
    )


@register(
    "events_asof_view_click",
    oracle=f"""
    WITH ev AS (
      -- micros-truncate BEFORE ordering/diffing (Spark reads the
      -- possibly-nanos parquet ts truncated to micros)
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
      FROM events WHERE event_type IN ('click', 'view')
    ), marked AS (
      SELECT event_id, user_id, ts, event_type,
        last_value(CASE WHEN event_type = 'view' THEN ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS matched_ts,
        last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS matched_id
      FROM ev
    )
    SELECT event_id AS left_id, user_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS left_ts_us,
           matched_id AS right_id,
           epoch_us(CAST(matched_ts AS TIMESTAMP)) AS right_ts_us,
           epoch_us(CAST(ts AS TIMESTAMP))
             - epoch_us(CAST(matched_ts AS TIMESTAMP)) AS gap_us
    FROM marked
    WHERE event_type = 'click' AND matched_ts IS NOT NULL
      AND epoch_us(CAST(ts AS TIMESTAMP))
            - epoch_us(CAST(matched_ts AS TIMESTAMP))
          <= {ASOF_TOLERANCE_MINUTES} * 60 * 1000000
    """,
)
def events_asof_view_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→click attribution: for every click, the user's most recent
    view within the tolerance — the canonical as-of join, in the
    window-function formulation (one shuffle on user_id, no join
    node, no non-equi explosion)."""
    ev = table(spark, sf_dir, "events")
    return asof_join_last_before(
        ev, "click", "view", ASOF_TOLERANCE_MINUTES * 60 * 1_000_000
    )


# ---------------------------------------------------------------------------
# The experiment kernel. The A/B and anomaly rows share one
# implementation of each piece below, with its DuckDB twin beside it:
# the q6 quantizer, the cohort pivot, the moment fold and its mean/std
# step, the cohort/period split, and the two per-user micro-unit
# frames. Every ``value`` sum and sum of squares runs on the exact-sum
# recipe (``plans.micro_units``), so both engines compute the same
# integers and a row must satisfy |x| < 9.2e12 on both, or the query
# raises.
# ---------------------------------------------------------------------------


def _q6(x: Column) -> Column:
    """``FLOOR(x·1e6 + 0.5)``: a derived statistic quantized to q6."""
    return F.floor(x * 1_000_000 + F.lit(0.5))


def _q6_sql(x: str) -> str:
    """DuckDB twin of :func:`_q6`."""
    return f"CAST(FLOOR(({x}) * 1000000 + 0.5) AS BIGINT)"


def cohort_pivot_sql(col: str, **keys: int) -> str:
    """``MAX(CASE WHEN k = v AND … THEN col END)``: the cell of a keyed
    frame where every key matches, as one column."""
    cond = " AND ".join(f"{k} = {v}" for k, v in keys.items())
    return f"MAX(CASE WHEN {cond} THEN {col} END)"


def cohort_pivot(col: str, **keys: int) -> Column:
    """:func:`cohort_pivot_sql` on the Spark side (the same SQL text)."""
    return F.expr(cohort_pivot_sql(col, **keys))


def moment_fold(ev: DataFrame, *keys) -> DataFrame:
    """``(keys…, n, sum_v, sum_vsq)``: per key, the row count and the
    exact Σvalue and Σvalue² (``exact_sum``, ``exact_sum_sq``)."""
    return ev.groupBy(*keys).agg(
        F.count("*").alias("n"),
        exact_sum(F.col("value")).alias("sum_v"),
        exact_sum_sq(F.col("value")).alias("sum_vsq"),
    )


def _moment_fold_sql(*keys: str) -> str:
    """DuckDB twin of :func:`moment_fold` over ``events``; each key is
    a select expression."""
    return f"""SELECT {", ".join(keys)}, COUNT(*) AS n,
             {exact_sum_sql("value")} AS sum_v,
             {exact_sum_sq_sql("value")} AS sum_vsq
      FROM events GROUP BY ALL"""


def mean_std_q6(ev: DataFrame, key: str) -> DataFrame:
    """``(key, n_events, mean_q6, std_q6)``: the population mean and
    standard deviation of ``value`` per key, from :func:`moment_fold`,
    quantized q6."""
    mean = F.col("sum_v") / F.col("n")
    var = F.col("sum_vsq") / F.col("n") - mean * mean
    return moment_fold(ev, key).select(
        key,
        F.col("n").alias("n_events"),
        _q6(mean).alias("mean_q6"),
        _q6(F.sqrt(var)).alias("std_q6"),
    )


def _mean_std_q6_sql(key: str) -> str:
    """DuckDB twin of :func:`mean_std_q6`: the CTEs ``stats`` and
    ``quant``."""
    return f"""stats AS ({_moment_fold_sql(key)}
    ), quant AS (
      SELECT {key}, n AS n_events, {_q6_sql("sum_v / n")} AS mean_q6,
             {_q6_sql("sqrt(sum_vsq / n - (sum_v / n) * (sum_v / n))")}
               AS std_q6
      FROM stats
    )"""


def period_split(ev: DataFrame) -> DataFrame:
    """``ev`` plus ``ts_us``, ``cohort`` (``user_id % 2``) and
    ``period``: 0 before the integer midpoint of the stream's epoch-µs
    range, 1 from it. The midpoint is 64-bit integer arithmetic on a
    1-row min/max fold, broadcast back."""
    ev = ev.withColumn("ts_us", F.unix_micros(F.col("ts")))
    lim = ev.agg(F.expr("(MIN(ts_us) + MAX(ts_us)) DIV 2").alias("mid_us"))
    return ev.crossJoin(F.broadcast(lim)).select(
        *ev.columns,
        (F.col("user_id") % 2).alias("cohort"),
        F.when(F.col("ts_us") < F.col("mid_us"), 0)
        .otherwise(1)
        .alias("period"),
    )


# DuckDB twin of period_split: the CTEs ``ev`` and ``split``
_PERIOD_SPLIT_SQL = """ev AS (
      SELECT *, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events
    ), split AS (
      SELECT ev.*, user_id % 2 AS cohort,
             CASE WHEN ts_us < mid_us THEN 0 ELSE 1 END AS period
      FROM ev CROSS JOIN (
        SELECT (MIN(ts_us) + MAX(ts_us)) // 2 AS mid_us FROM ev) lim
    )"""


def user_pre_post(split: DataFrame) -> DataFrame:
    """``(user_id, cohort, x, y)``: each user's pre- and post-period
    value sums of a :func:`period_split` frame, in exact micro-units
    (0 for an empty period)."""
    return split.groupBy("user_id", "cohort").agg(
        *[
            F.coalesce(
                micro_sum(F.when(F.col("period") == p, F.col("value"))),
                F.lit(0),
            ).alias(xy)
            for xy, p in (("x", 0), ("y", 1))
        ]
    )


# DuckDB twin of user_pre_post: _PERIOD_SPLIT_SQL plus the CTE ``u``
# (HUGEINT micro-unit sums)
_USER_PRE_POST_SQL = f"""{_PERIOD_SPLIT_SQL}, u AS (
      SELECT user_id, cohort,
        COALESCE(SUM(CASE WHEN period = 0
                          THEN {micro_units_sql("value")} END), 0) AS x,
        COALESCE(SUM(CASE WHEN period = 1
                          THEN {micro_units_sql("value")} END), 0) AS y
      FROM split GROUP BY user_id, cohort
    )"""


def cuped_moments(u: DataFrame) -> DataFrame:
    """The 1-row pooled fold of a :func:`user_pre_post` frame: ``n``
    and Σx, Σy, Σxy, Σx², Σy² as ``sx`` … ``syy``, each an exact
    integer sum cast to a double once."""
    x, y = F.col("x"), F.col("y")
    sums = {"sx": x, "sy": y, "sxy": x * y, "sxx": x * x, "syy": y * y}
    return u.agg(
        F.count("*").alias("n"),
        *[F.sum(e).cast("double").alias(name) for name, e in sums.items()],
    )


# DuckDB twin of cuped_moments: _USER_PRE_POST_SQL plus the CTE ``g``
_CUPED_MOMENTS_SQL = f"""{_USER_PRE_POST_SQL}, g AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(x) AS DOUBLE) AS sx,
        CAST(SUM(y) AS DOUBLE) AS sy,
        CAST(SUM(x * y) AS DOUBLE) AS sxy,
        CAST(SUM(x * x) AS DOUBLE) AS sxx,
        CAST(SUM(y * y) AS DOUBLE) AS syy
      FROM u
    )"""

# CUPED θ = cov(X,Y)/var(X) over cuped_moments, one SQL text for both
# engines. Zero pre-period variance (a single user, a constant X) makes
# θ undefined: NULL, never a division error.
_CUPED_COV = "(n * sxy - sx * sy)"
_CUPED_VARX = "(n * sxx - sx * sx)"
_CUPED_THETA = f"{_CUPED_COV} / NULLIF({_CUPED_VARX}, 0)"
# corr²(X,Y) = cov² / (var_X·var_Y), NULL on a zero variance
_CUPED_CORR2 = (
    f"{_CUPED_COV} * {_CUPED_COV}"
    f" / NULLIF({_CUPED_VARX} * (n * syy - sy * sy), 0)"
)


def user_totals(ev: DataFrame) -> DataFrame:
    """``(user_id, cohort, tot)``: each user's value sum in exact
    micro-units, as BIGINT."""
    return ev.groupBy("user_id", (F.col("user_id") % 2).alias("cohort")).agg(
        micro_sum(F.col("value")).cast("bigint").alias("tot")
    )


# DuckDB twin of user_totals: the CTE ``users``
_USER_TOTALS_SQL = f"""users AS (
      SELECT user_id, user_id % 2 AS cohort,
             CAST({micro_sum_sql("value")} AS BIGINT) AS tot
      FROM events GROUP BY ALL
    )"""


ZSCORE_THRESHOLD = 3.0


@register(
    "events_anomaly_zscore",
    oracle=f"""
    WITH {_mean_std_q6_sql("event_type")}
    SELECT s.event_type, s.n_events,
           s.mean_q6 AS mean_value_q6, s.std_q6 AS std_value_q6,
           COUNT(*) FILTER (
             WHERE abs(e.value - s.mean_q6 / 1000000.0)
                   > {ZSCORE_THRESHOLD} * (s.std_q6 / 1000000.0)
           ) AS n_anomalies
    FROM events e JOIN quant s USING (event_type)
    GROUP BY s.event_type, s.n_events, s.mean_q6, s.std_q6
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly counts — the monitoring pass of an
    event pipeline. Two aggregates: the per-type moment fold
    (:func:`mean_std_q6`: exact micro-unit Σv and Σv², order-
    independent), broadcast back over the stream for the outlier
    count. The corpus shuffles only for the per-type partials; the
    stats side is |event_types| rows at any scale.

    Canonicalization-proof moments (r03 fragile-class sweep): the
    reported mean/std are INTEGER-quantized (``floor(x·1e6+0.5)``),
    never ROUND(double)ed — and the anomaly threshold cuts on values
    recomputed from those same integers, so both engines compare
    against the bit-identical boundary.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12,
    or the query raises.
    """
    ev = table(spark, sf_dir, "events")
    quant = mean_std_q6(ev, "event_type")
    return (
        ev.join(F.broadcast(quant), "event_type")
        .groupBy("event_type", "n_events", "mean_q6", "std_q6")
        .agg(
            F.count_if(
                F.abs(F.col("value") - F.col("mean_q6") / 1_000_000.0)
                > ZSCORE_THRESHOLD * (F.col("std_q6") / 1_000_000.0)
            ).alias("n_anomalies")
        )
        .select(
            "event_type",
            "n_events",
            F.col("mean_q6").alias("mean_value_q6"),
            F.col("std_q6").alias("std_value_q6"),
            "n_anomalies",
        )
    )


RANGE_JOIN_TOLERANCE_MINUTES = 30


def binned_range_join_count(
    events: DataFrame,
    left_type: str,
    right_type: str,
    tolerance_micros: int,
) -> DataFrame:
    """Pure time-range join (no equi key): for each ``left_type``
    event, COUNT the ``right_type`` events anywhere in the stream
    within ±tolerance — the global-proximity sibling of the per-user
    as-of join above.

    Spark plans a bare ``|t_l − t_r| ≤ tol`` predicate as a broadcast
    nested loop (or worse, a cartesian) — quadratic at scale. The
    classic fix, used here: BIN the time axis at exactly the
    tolerance width, replicate each right-side row to its bin and
    both neighbors (any in-tolerance pair differs by ≤ 1 bin), then
    an ordinary hash EQUI-join on the bin key + the exact residual
    filter. Cost: one shuffle of 3×|right| + |left| compact rows on
    a key Catalyst hash-partitions like any other; a time-localized
    traffic spike skews a bin, which AQE's skew-join splitting
    absorbs. Each (left, right) pair meets exactly once because the
    left row keeps its single home bin.
    """
    tol = int(tolerance_micros)
    left = events.filter(F.col("event_type") == left_type).select(
        "event_id",
        "ts",
        F.expr(f"unix_micros(ts) DIV {tol}").alias("bin"),
    )
    right = events.filter(F.col("event_type") == right_type).select(
        F.col("event_id").alias("r_id"),
        F.col("ts").alias("r_ts"),
        F.expr(f"unix_micros(ts) DIV {tol}").alias("r_bin"),
    )
    replicated = right.select(
        "r_id",
        "r_ts",
        F.explode(
            F.array(
                F.col("r_bin") - 1, F.col("r_bin"), F.col("r_bin") + 1
            )
        ).alias("bin"),
    )
    matched = (
        left.join(replicated, "bin")
        .filter(
            F.abs(F.unix_micros("ts") - F.unix_micros("r_ts")) <= tol
        )
        .groupBy("event_id")
        .agg(F.count("*").cast("bigint").alias("n_nearby"))
    )
    return left.join(matched, "event_id", "left").select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.coalesce(F.col("n_nearby"), F.lit(0).cast("bigint")).alias(
            "n_views_nearby"
        ),
    )


@register(
    "events_range_join_interval",
    oracle=f"""
    SELECT p.event_id,
           epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
           CAST(COUNT(v.event_id) AS BIGINT) AS n_views_nearby
    FROM events p
    LEFT JOIN events v
      ON v.event_type = 'view'
     AND abs(epoch_us(CAST(v.ts AS TIMESTAMP))
             - epoch_us(CAST(p.ts AS TIMESTAMP)))
         <= {RANGE_JOIN_TOLERANCE_MINUTES} * 60 * 1000000
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.ts
    """,
)
def events_range_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views within ±30 min of every purchase (global time proximity,
    user-independent): the binned range-join restatement of a non-equi
    interval join. The DuckDB oracle runs the naive non-equi LEFT JOIN
    (its IEJoin handles it at oracle scale); Spark runs the
    bin + neighbor-replicate + equi-join plan that survives 100 TB.
    """
    ev = table(spark, sf_dir, "events")
    return binned_range_join_count(
        ev, "purchase", "view", RANGE_JOIN_TOLERANCE_MINUTES * 60 * 1_000_000
    )


@register(
    "events_seasonality_profile",
    oracle=f"""
    WITH cells AS (
      SELECT date_part('dow', ts) AS day_of_week,
             date_part('hour', ts) AS hour_of_day,
             COUNT(*) AS n_events,
             COUNT(DISTINCT user_id) AS n_users,
             {micro_sum_sql("value")} AS sum_value_u
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(day_of_week AS INT) AS day_of_week,
           CAST(hour_of_day AS INT) AS hour_of_day,
           n_events, n_users,
           -- exact integer cents / all-integer share (house recipe):
           -- ROUND over a double sum is the banned class
           {micro_cents_sql("sum_value_u")} AS sum_value_cents,
           CAST((CAST(n_events AS HUGEINT) * 1000000)
                // SUM(n_events) OVER () AS BIGINT) AS share_q6
    FROM cells
    """,
)
def events_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week activity profile — the seasonality
    census behind load forecasting and anomaly baselines (the z-score
    monitor compares against per-type means; this exposes the weekly
    periodicity those baselines should condition on).

    Plan: one aggregate folds the stream to ≤168 cells (distinct-user
    term takes the standard two-phase distinct plan); the share
    window runs over those 168 rows only — its single partition is
    the intended shape, stated over an aggregate output that can
    never grow with the data. DuckDB's ``dow`` is 0=Sunday; Spark's
    ``dayofweek`` is 1=Sunday, so the Spark side subtracts 1 to align
    the encoding.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    ev = table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.dayofweek("ts") - 1).cast("int").alias("day_of_week"),
        F.hour("ts").cast("int").alias("hour_of_day"),
    ).agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        micro_sum(F.col("value")).alias("sum_value_u"),
    )
    w = W.partitionBy(F.pmod(F.col("n_events"), F.lit(1)))
    return cells.select(
        "day_of_week",
        "hour_of_day",
        "n_events",
        "n_users",
        micro_cents(F.col("sum_value_u")).alias("sum_value_cents"),
        F.expr(
            "CAST(CAST(n_events AS DECIMAL(38,0)) * 1000000 div"
            " SUM(n_events) OVER (PARTITION BY n_events % 1)"
            " AS BIGINT)"
        ).alias("share_q6"),
    )


LATE_TOL_US = 600 * 1_000_000  # 10-minute candidate watermark delay


@register(
    "events_late_arrival_profile",
    oracle=f"""
    WITH arr AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max_us
      FROM events
    ), lateness AS (
      SELECT user_id,
             GREATEST(COALESCE(prior_max_us - ts_us, 0), 0) AS late_us
      FROM arr
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_out_of_order,
           CAST(SUM(CASE WHEN late_us > {LATE_TOL_US} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_beyond_watermark,
           MAX(late_us) AS max_late_us
    FROM lateness
    GROUP BY user_id
    """,
)
def events_late_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-sizing audit: with ``event_id`` as ARRIVAL order and
    ``ts`` as event time, each event's lateness is how far it trails
    the per-user running maximum event time at its arrival. The
    per-user report counts out-of-order events and — the number that
    sizes a production watermark — events later than the candidate
    10-minute delay, which a streaming job with that watermark would
    drop from windowed state. The streaming builders in
    streaming/events.py consume exactly this number.

    Plan: one PARTITIONED window (user_id, ordered by arrival) feeds
    one per-user aggregate — the same single shuffle both stages reuse
    (Catalyst aligns the window and groupBy partitioning). Lateness
    math runs on integer microseconds (``unix_micros`` ↔ DuckDB
    ``epoch_us``) so both engines compare exact integers.
    """
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    arr = ev.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.max(F.unix_micros(F.col("ts"))).over(w).alias("prior_max_us"),
    )
    late = arr.select(
        "user_id",
        F.greatest(
            F.coalesce(
                F.col("prior_max_us") - F.col("ts_us"), F.lit(0)
            ),
            F.lit(0),
        ).alias("late_us"),
    )
    return late.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0)).alias(
            "n_out_of_order"
        ),
        F.sum(
            F.when(F.col("late_us") > LATE_TOL_US, 1).otherwise(0)
        ).alias("n_beyond_watermark"),
        F.max("late_us").alias("max_late_us"),
    )


@register(
    "events_ab_cohort_compare",
    oracle=f"""
    WITH stats AS (
      {_moment_fold_sql("event_type", "user_id % 2 AS cohort")}
    ), sides AS (
      SELECT event_type,
             {cohort_pivot_sql("n", cohort=0)} AS n_a,
             {cohort_pivot_sql("n", cohort=1)} AS n_b,
             {cohort_pivot_sql("sum_v", cohort=0)} AS sum_a,
             {cohort_pivot_sql("sum_v", cohort=1)} AS sum_b,
             {cohort_pivot_sql("sum_vsq", cohort=0)} AS sum2_a,
             {cohort_pivot_sql("sum_vsq", cohort=1)} AS sum2_b
      FROM stats GROUP BY event_type
    )
    SELECT event_type, n_a, n_b,
           {_q6_sql("sum_a / n_a")} AS mean_a_q6,
           {_q6_sql("sum_b / n_b")} AS mean_b_q6,
           {_q6_sql("sum_b / n_b - sum_a / n_a")} AS lift_q6,
           {_q6_sql(
               "(sum_b / n_b - sum_a / n_a)"
               " / sqrt((sum2_a / n_a - (sum_a / n_a) * (sum_a / n_a)) / n_a"
               " + (sum2_b / n_b - (sum_b / n_b) * (sum_b / n_b)) / n_b)"
           )} AS z_score_q6
    FROM sides
    """,
)
def events_ab_cohort_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experimentation readout: split users into two deterministic
    cohorts (``user_id % 2`` — in production, a salted hash of the
    unit id), compare per-event-type mean value, and report the lift
    with its Welch z-score (unequal-variance two-sample statistic
    from the sufficient statistics n/Σv/Σv²).

    Scale shape: ONE aggregate over (event_type, cohort) computes all
    sufficient statistics with map-side partials (:func:`moment_fold`:
    exact micro-unit sums, so both engines fold order-independently;
    moments divide in double at the end); the cohort pivot and the z
    arithmetic run on the tiny per-type table. No window, no second
    pass over data — the whole experiment readout costs one shuffle
    of partial sums.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12,
    or the query raises.
    """
    stats = moment_fold(
        table(spark, sf_dir, "events"),
        "event_type",
        (F.col("user_id") % 2).alias("cohort"),
    )
    sides = stats.groupBy("event_type").agg(
        cohort_pivot("n", cohort=0).alias("n_a"),
        cohort_pivot("n", cohort=1).alias("n_b"),
        cohort_pivot("sum_v", cohort=0).alias("sum_a"),
        cohort_pivot("sum_v", cohort=1).alias("sum_b"),
        cohort_pivot("sum_vsq", cohort=0).alias("sum2_a"),
        cohort_pivot("sum_vsq", cohort=1).alias("sum2_b"),
    )
    mean_a = F.col("sum_a") / F.col("n_a")
    mean_b = F.col("sum_b") / F.col("n_b")
    var_a = F.col("sum2_a") / F.col("n_a") - mean_a * mean_a
    var_b = F.col("sum2_b") / F.col("n_b") - mean_b * mean_b
    return sides.select(
        "event_type",
        "n_a",
        "n_b",
        _q6(mean_a).alias("mean_a_q6"),
        _q6(mean_b).alias("mean_b_q6"),
        _q6(mean_b - mean_a).alias("lift_q6"),
        _q6(
            (mean_b - mean_a)
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
        ).alias("z_score_q6"),
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "events_pivot_type_by_day",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day,
           {", ".join(
               f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
               f" AS BIGINT) AS {t}"
               for t in EVENT_TYPES
           )},
           {exact_sum_sql(
               "CASE WHEN event_type = 'purchase' THEN value END"
           )} AS purchase_value
    FROM events GROUP BY 1
    """,
)
def events_pivot_type_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long→wide pivot: daily event counts with one column per event
    type plus purchase revenue — the dashboard/report shape every
    analytics surface exports, and the engine's exercise of Spark's
    ``pivot`` relational operator (the inventory's unpivot twin is
    ``emb_covariance_block``'s struct-explode).

    The pivot value list is DECLARED (``EVENT_TYPES``), not inferred:
    an unlisted pivot makes Spark run an extra distinct-collect job
    over the corpus to discover column names before planning — at
    100 TB that's a full scan spent naming columns. With the list
    pinned, the plan is ONE hash aggregate on day with map-side
    partials (pivot compiles to exactly the oracle's conditional
    aggregation; no extra shuffle, no discovery job). Missing
    day×type cells surface as NULL counts → coalesced to 0 to match
    the conditional-sum semantics; revenue stays NULL-when-absent.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    ev = table(spark, sf_dir, "events")
    wide = (
        ev.groupBy(F.to_date("ts").alias("day"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(
            F.struct(
                F.count(F.lit(1)).alias("n"),
                micro_sum(F.col("value")).alias("s"),
            )
        )
    )
    cols = [F.col("day")]
    for t in EVENT_TYPES:
        cols.append(
            F.coalesce(F.col(f"{t}.n"), F.lit(0)).alias(t)
        )
    cols.append(from_micro(F.col("purchase.s")).alias("purchase_value"))
    return wide.select(*cols)


@register(
    "events_user_day_sequences",
    oracle="""
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           list(event_type
                ORDER BY CAST(ts AS TIMESTAMP), event_id) AS seq
    FROM events
    GROUP BY 1, 2
    """,
)
def events_user_day_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered per-user-per-day event-type sequences — the raw
    training examples for behavioral sequence models (next-event
    prediction, session embeddings); the trigram/transition queries
    consume windows of exactly these sequences.

    Plan: ONE shuffle on (user_id, day); ordering happens inside each
    group by sorting the collected (ts, event_id, type) structs —
    struct comparison is field-lexicographic, so ``sort_array`` gives
    the (ts, event_id)-ordered sequence without a separate window
    sort pass over the corpus. event_id tie-breaks equal timestamps,
    making the sequence deterministic and hash-stable. Group state is
    bounded by a user's events in one day — the same per-key
    boundedness argument as the sessionizer.
    """
    ev = table(spark, sf_dir, "events")
    packed = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("event_type")
            )
        )
    )
    return (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.transform(packed, lambda s: s.event_type).alias("seq"),
        )
    )


CHURN_WINDOW_DAYS = 7


@register(
    "events_user_churn_labels",
    oracle=f"""
    WITH horizon AS (
      SELECT MAX(ts) AS max_ts FROM events
    ), per_user AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             MAX(ts) AS last_seen
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events,
           epoch_us(CAST(last_seen AS TIMESTAMP)) AS last_seen_us,
           CAST(date_diff('day', CAST(last_seen AS DATE),
                          CAST(max_ts AS DATE)) AS BIGINT)
             AS days_inactive,
           date_diff('day', CAST(last_seen AS DATE), CAST(max_ts AS DATE))
             >= {CHURN_WINDOW_DAYS} AS churned
    FROM per_user CROSS JOIN horizon
    """,
)
def events_user_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn-label generation — the supervised-target prep step of a
    retention model: a user is labeled churned when inactive for the
    trailing ``CHURN_WINDOW_DAYS`` of the observed window (horizon =
    corpus max ts, so the label set is reproducible from the data
    alone, no wall-clock dependence).

    Plan: one per-user aggregate (map-side partials) + a 1-row
    horizon broadcast; day arithmetic on timestamps matches DuckDB's
    date_diff('day') via integer epoch-day subtraction.
    """
    ev = table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("max_ts"))
    per_user = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max("ts").alias("last_seen"),
    )
    days = F.datediff(
        F.col("max_ts").cast("date"), F.col("last_seen").cast("date")
    ).cast("bigint")
    return per_user.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        "n_events",
        F.unix_micros(F.col("last_seen")).alias("last_seen_us"),
        days.alias("days_inactive"),
        (days >= CHURN_WINDOW_DAYS).alias("churned"),
    )


@register(
    "orders_monthly_dense_spine",
    oracle=f"""
    WITH bounds AS (
      SELECT date_trunc('month', MIN(o_orderdate)) AS lo,
             date_trunc('month', MAX(o_orderdate)) AS hi
      FROM orders
    ), spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH))
                  AS DATE) AS month_start
      FROM bounds
    ), monthly AS (
      SELECT date_trunc('month', o_orderdate) AS month_start,
             COUNT(*) AS n_orders,
             {exact_sum_sql("o_totalprice")} AS revenue
      FROM orders GROUP BY 1
    )
    SELECT CAST(s.month_start AS VARCHAR) AS month_start,
           COALESCE(m.n_orders, 0) AS n_orders,
           COALESCE(m.revenue, 0.0) AS revenue
    FROM spine s LEFT JOIN monthly m ON s.month_start = m.month_start
    """,
)
def orders_monthly_dense_spine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sparse→dense time series: a generated month spine from the
    data's own min/max bounds, left-joined onto the monthly rollup
    with zero fill — the gap-filling step every forecasting/anomaly
    model needs (a month with no orders must appear as 0, not be
    silently absent).

    Plan: bounds are a 1-row aggregate; the spine is ``F.sequence``
    EXPLODED FROM THAT ONE ROW (a generated dimension, never a scan);
    the rollup aggregates once; spine ⟕ rollup is a broadcast join of
    two month-sized frames. The fact table is read exactly once.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.date_trunc("month", F.min("o_orderdate"))
        .cast("date")
        .alias("lo"),
        F.date_trunc("month", F.max("o_orderdate"))
        .cast("date")
        .alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(
                F.col("lo"), F.col("hi"), F.expr("interval 1 month")
            )
        ).alias("month_start")
    )
    monthly = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .alias("month_start")
    ).agg(
        F.count("*").alias("n_orders"),
        exact_sum(F.col("o_totalprice")).alias("revenue"),
    )
    return (
        spine.join(F.broadcast(monthly), "month_start", "left")
        .select(
            F.col("month_start").cast("string").alias("month_start"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.coalesce("revenue", F.lit(0.0)).alias("revenue"),
        )
    )


@register(
    "events_interarrival_stats",
    oracle="""
    WITH ev_us AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), gaps AS (
      SELECT user_id,
             date_diff('second',
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
               ts) AS gap_s
      FROM ev_us
    )
    SELECT user_id,
           COUNT(gap_s) AS n_gaps,
           CAST(MIN(gap_s) AS BIGINT) AS min_gap_s,
           CAST(MAX(gap_s) AS BIGINT) AS max_gap_s,
           -- all-integer mean (house _q6 recipe): gaps are exact
           -- integer seconds, so sum*1e6 div n needs no floats
           (CAST(SUM(gap_s) AS BIGINT) * 1000000) // COUNT(gap_s)
             AS mean_gap_s_q6
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gap features (min/max/mean seconds
    between consecutive events) — the burstiness signal behavioral
    models and bot detectors condition on; the sessionizer's gap
    threshold should be read off these distributions.

    Plan: ONE shuffle+sort on user_id for the lag window (the same
    partitioning the sessionizer uses), then a per-user aggregate that
    reuses the window's partitioning — Catalyst plans no second
    exchange. Gap seconds are exact integers (epoch-second
    subtraction); the mean is the all-integer _q6 recipe.
    """
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.unix_timestamp(F.col("ts"))
        - F.unix_timestamp(F.lag("ts").over(w))
    )
    gaps = ev.select("user_id", gap.alias("gap_s")).filter(
        F.col("gap_s").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_s").alias("n_gaps"),
        F.min("gap_s").cast("bigint").alias("min_gap_s"),
        F.max("gap_s").cast("bigint").alias("max_gap_s"),
        F.expr("sum(gap_s) * 1000000 div count(gap_s)").alias(
            "mean_gap_s_q6"
        ),
    )


@register(
    "events_dau_wau_stickiness",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1
    ), weekly AS (
      SELECT date_trunc('week', ts) AS week,
             COUNT(DISTINCT user_id) AS wau
      FROM events GROUP BY 1
    )
    SELECT CAST(d.day AS VARCHAR) AS day,
           d.dau,
           w.wau,
           ROUND(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
    FROM daily d JOIN weekly w
      ON date_trunc('week', d.day) = w.week
    """,
)
def events_dau_wau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU/WAU stickiness — the engagement ratio every product
    dashboard leads with: daily distinct users over the containing
    week's distinct users.

    Plan: two distinct-count aggregates (each the standard two-phase
    distinct expansion) over day- and week-truncated keys, joined on
    the week — both sides are calendar-sized, so the join broadcasts
    at any scale. Spark's ``weekofyear`` weeks differ from DuckDB's
    ISO truncation only in representation; both sides truncate with
    ``date_trunc('week', …)``, which is ISO-Monday in BOTH engines,
    so the join keys and ratios hash-match.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    weekly = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).agg(F.countDistinct("user_id").alias("wau"))
    return (
        daily.withColumn(
            "week", F.date_trunc("week", F.col("day")).cast("date")
        )
        .join(F.broadcast(weekly), "week")
        .select(
            F.col("day").cast("string").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias(
                "stickiness"
            ),
        )
    )


@register(
    "events_user_type_gini",
    oracle="""
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), agg AS (
      SELECT user_id,
             SUM(c) AS n_events,
             COUNT(*) AS n_types,
             SUM(CAST(c AS DECIMAL(38,0)) * c) AS sum_c2
      FROM per GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           -- HUGEINT, not DECIMAL, for the // : DuckDB's DECIMAL //
           -- rounds the quotient to the result scale BEFORE flooring
           -- (794090 vs the exact 794091 on user 0), while integer //
           -- truncates exactly like Spark's div
           CAST(1000000 - (CAST(sum_c2 AS HUGEINT) * 1000000)
                // (CAST(n_events AS HUGEINT) * n_events)
                AS BIGINT) AS gini_q6
    FROM agg
    """,
)
def events_user_type_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user behavioral diversity as GINI IMPURITY
    ``1 − Σᵢ pᵢ²`` over the user's event-type distribution — the
    log-free substitute for Shannon entropy (entropy needs ``ln``,
    which is not IEEE-exact and is banned from hash-compared outputs
    by the repo's determinism contract; Gini ranks distributions the
    same way for feature purposes). 0 = single-type user (bot-like),
    → 1−1/k = uniform across k types. EXACT integers end to end:
    ``gini_q6 = 1e6 − (Σc²·1e6) div n²`` with the products widened
    through DECIMAL(38,0) so per-user volumes beyond ~3e9 events
    can't overflow an int64 square.

    Plan: one (user, type) aggregate with map-side partials, one
    per-user rollup — both shuffles on the same user_id-prefixed key,
    the second over ≤ |types| rows per user.
    """
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    agg = per.groupBy("user_id").agg(
        F.sum("c").alias("n_events"),
        F.count("*").alias("n_types"),
        F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c")).alias("sum_c2"),
    )
    return agg.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        F.expr(
            "CAST(1000000 - (sum_c2 * 1000000) div "
            "(CAST(n_events AS DECIMAL(38,0)) * n_events) AS BIGINT)"
        ).alias("gini_q6"),
    )


@register(
    "events_hourly_quantiles_by_type",
    oracle="""
    WITH hours AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             COUNT(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           COUNT(*) AS n_hours,
           CAST(quantile_disc(n, 0.5) AS BIGINT) AS p50_hourly,
           CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_hourly,
           CAST(MAX(n) AS BIGINT) AS max_hourly
    FROM hours
    GROUP BY event_type
    """,
)
def events_hourly_quantiles_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-type exact p50/p99 of hourly event volume — the capacity-
    planning distribution — via the VALUE-HISTOGRAM quantile pattern:
    when the measured value is a small-domain integer (counts), exact
    grouped quantiles need NO per-group sort of observations and NO
    driver refinement loop. Fold observations to a (group, value)
    frequency table, cumulative-sum per group over the DISTINCT
    VALUES (bounded cardinality — the window's partition can never
    grow with the corpus), and pick the smallest value whose
    cumulative count reaches ⌈q·n⌉ (``quantile_disc`` semantics).

    This complements `exact_disc_quantiles` (driver-side histogram
    refinement for UNBOUNDED real domains, ungrouped): for grouped
    integer metrics this form is one shuffle cheaper and fully
    declarative. All outputs integer — hash-stable by construction.
    """
    ev = table(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("n"))
    hist = hours.groupBy("event_type", "n").agg(
        F.count("*").alias("c")
    )
    w_cum = (
        W.partitionBy("event_type")
        .orderBy("n")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "n",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("tot"),
        F.max("n").over(w_all).alias("max_n"),
    )
    pick = lambda q: F.min(  # noqa: E731 — smallest n reaching ⌈q·tot⌉
        F.when(
            F.col("cum") >= F.ceil(F.lit(q) * F.col("tot")), F.col("n")
        )
    )
    return cum.groupBy("event_type").agg(
        F.max("tot").alias("n_hours"),
        pick(0.5).cast("bigint").alias("p50_hourly"),
        pick(0.99).cast("bigint").alias("p99_hourly"),
        F.max("max_n").cast("bigint").alias("max_hourly"),
    )


BOT_CENSUS_MIN_EVENTS = 50  # volume floor before a user can be flagged
BOT_FAST_GAP_US = 1_000_000  # "machine-speed" inter-event gap: <1s


@register(
    "events_bot_user_census",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), gaps AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      FROM ev
    ), per_user AS (
      SELECT user_id,
             COUNT(*) AS n_events,
             COUNT(CASE WHEN gap_us < {BOT_FAST_GAP_US} THEN 1 END)
               AS n_fast,
             COUNT(gap_us) AS n_gaps
      FROM gaps GROUP BY user_id
    ), flagged AS (
      SELECT user_id, n_events,
             (n_events >= {BOT_CENSUS_MIN_EVENTS}
              AND n_fast * 2 > n_gaps) AS is_bot
      FROM per_user
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(CASE WHEN is_bot THEN 1 END) AS BIGINT) AS n_bots,
           CAST(COALESCE(SUM(CASE WHEN is_bot THEN n_events END), 0)
                AS BIGINT) AS n_bot_events
    FROM flagged
    """,
)
def events_bot_user_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic bot filter census — the traffic-hygiene step a
    training-data pipeline runs before any behavioral feature is
    trusted: a user is flagged when they are high-volume
    (≥ BOT_CENSUS_MIN_EVENTS) AND a majority of their inter-event gaps
    are machine-speed (< 1s). All-integer decision (gap micros, count
    comparisons ×2 — no ratio floats), so the flag is hash-stable.

    Plan: the same ONE user-keyed window shuffle the sessionizer and
    interarrival profile pay (identical partitioning — a pipeline
    computing all three shares the exchange), folded to a per-user
    row then a one-row census.
    """
    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(
        F.unix_micros(F.col("ts"))
    ).over(w)
    per_user = (
        ev.select("user_id", gap.alias("gap_us"))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.count(
                F.when(F.col("gap_us") < BOT_FAST_GAP_US, 1)
            ).alias("n_fast"),
            F.count("gap_us").alias("n_gaps"),
        )
    )
    is_bot = (F.col("n_events") >= BOT_CENSUS_MIN_EVENTS) & (
        F.col("n_fast") * 2 > F.col("n_gaps")
    )
    return per_user.select(
        "n_events", is_bot.alias("is_bot")
    ).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count(F.when(F.col("is_bot"), 1)).cast("bigint").alias("n_bots"),
        F.coalesce(
            F.sum(F.when(F.col("is_bot"), F.col("n_events"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_bot_events"),
    )


@register(
    "events_new_vs_returning_daily",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS first_day
      FROM events GROUP BY user_id
    ), daily AS (
      SELECT DISTINCT e.user_id, CAST(e.ts AS DATE) AS day, f.first_day
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(COUNT(CASE WHEN day = first_day THEN 1 END) AS BIGINT)
             AS n_new,
           CAST(COUNT(CASE WHEN day <> first_day THEN 1 END) AS BIGINT)
             AS n_returning
    FROM daily
    GROUP BY day
    """,
)
def events_new_vs_returning_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Daily new-vs-returning active-user split — the growth
    accounting identity (DAU = new + retained + resurrected collapses
    to new/returning at day grain) every product dashboard leads
    with; complements the retention cohort matrix with the time-series
    view.

    Plan: first-seen aggregate (one user shuffle) → join back on the
    same key (partitioning reused) → per-(user, day) distinct →
    calendar-keyed census. Day keys are bounded cardinality; the
    VARCHAR day rendering is a DATE cast (not a timestamp), identical
    across engines.
    """
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_day")
    )
    daily = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "first_day",
        )
        .distinct()
    )
    return daily.groupBy(
        F.col("day").cast("string").alias("day")
    ).agg(
        F.count(F.when(F.col("day") == F.col("first_day"), 1))
        .cast("bigint")
        .alias("n_new"),
        F.count(F.when(F.col("day") != F.col("first_day"), 1))
        .cast("bigint")
        .alias("n_returning"),
    )


MAD_K = 5  # flag hours above median + K * MAD


@register(
    "events_anomaly_mad",
    oracle=f"""
    WITH hours AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
      FROM events GROUP BY 1, 2
    ), med AS (
      SELECT event_type,
             CAST(quantile_disc(n, 0.5) AS BIGINT) AS med_n
      FROM hours GROUP BY event_type
    ), dev AS (
      SELECT h.event_type, h.n, m.med_n, ABS(h.n - m.med_n) AS d
      FROM hours h JOIN med m ON h.event_type = m.event_type
    ), mad AS (
      SELECT event_type,
             CAST(quantile_disc(d, 0.5) AS BIGINT) AS mad_n
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_hours,
           ANY_VALUE(d.med_n) AS med_hourly,
           ANY_VALUE(m.mad_n) AS mad_hourly,
           CAST(COUNT(CASE WHEN d.n > d.med_n + {MAD_K} * m.mad_n
                           THEN 1 END) AS BIGINT) AS n_anomalous_hours
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) hourly-volume anomaly census per event type
    — the outlier-resistant alternative to the z-score monitor: one
    traffic spike inflates a mean+stddev threshold and masks later
    spikes, while median and median-absolute-deviation barely move.
    Decision is ALL-INTEGER (counts, integer medians, integer
    comparison) — nothing to canonicalize.

    Plan: the value-histogram grouped-median pattern TWICE — once over
    hourly counts, once over absolute deviations — each a cumulative
    window over the bounded distinct-value domain; the corpus pays
    only the initial (type, hour) aggregate. No driver loop, no
    per-group sort of observations.
    """
    ev = table(spark, sf_dir, "events")
    hours = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").alias("n"))

    def grouped_median(df: DataFrame, col: str) -> DataFrame:
        hist = df.groupBy("event_type", col).agg(F.count("*").alias("c"))
        w_cum = (
            W.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        w_all = W.partitionBy("event_type")
        cum = hist.select(
            "event_type",
            col,
            F.sum("c").over(w_cum).alias("cum"),
            F.sum("c").over(w_all).alias("tot"),
        )
        return cum.groupBy("event_type").agg(
            F.min(
                F.when(
                    F.col("cum") >= F.ceil(F.lit(0.5) * F.col("tot")),
                    F.col(col),
                )
            )
            .cast("bigint")
            .alias(f"med_{col}")
        )

    med = grouped_median(hours, "n").withColumnRenamed("med_n", "med_n")
    dev = hours.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n",
        "med_n",
        F.abs(F.col("n") - F.col("med_n")).alias("d"),
    )
    mad = grouped_median(dev, "d").withColumnRenamed("med_d", "mad_n")
    flagged = dev.join(F.broadcast(mad), "event_type")
    return flagged.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_hours"),
        F.any_value("med_n").alias("med_hourly"),
        F.any_value("mad_n").alias("mad_hourly"),
        F.count(
            F.when(
                F.col("n") > F.col("med_n") + MAD_K * F.col("mad_n"), 1
            )
        )
        .cast("bigint")
        .alias("n_anomalous_hours"),
    )


@register(
    "events_value_drift_chi2",
    oracle="""
    WITH ev AS (
      SELECT event_type, value,
             (CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01')
               AS d
      FROM events WHERE value IS NOT NULL
    ), span AS (
      SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM ev
    ), lab AS (
      SELECT event_type, value,
             CASE WHEN d < s.dmin + (s.dmax - s.dmin + 1) // 2
                  THEN 1 ELSE 0 END AS is_ref
      FROM ev, span s
    ), bounds AS (
      SELECT event_type, MIN(value) AS vmin, MAX(value) AS vmax
      FROM lab WHERE is_ref = 1 GROUP BY event_type
    ), binned AS (
      SELECT l.event_type, l.is_ref,
             CASE WHEN b.vmax > b.vmin
                  THEN GREATEST(0, LEAST(9, CAST(FLOOR(
                         (l.value - b.vmin) * 10 / (b.vmax - b.vmin)
                       ) AS BIGINT)))
                  ELSE 0 END AS bin
      FROM lab l JOIN bounds b USING (event_type)
    ), cnt AS (
      SELECT event_type, bin,
             SUM(is_ref) AS nr, SUM(1 - is_ref) AS nc
      FROM binned GROUP BY event_type, bin
    ), tot AS (
      SELECT event_type, SUM(nr) AS tr, SUM(nc) AS tc
      FROM cnt GROUP BY event_type
    ), terms AS (
      SELECT c.event_type,
             CAST(CAST(c.nr AS HUGEINT) * 1000000 // t.tr AS BIGINT)
               AS p_q6,
             CASE WHEN t.tc > 0
                  THEN CAST(CAST(c.nc AS HUGEINT) * 1000000 // t.tc
                            AS BIGINT)
                  ELSE 0 END AS q_q6
      FROM cnt c JOIN tot t USING (event_type)
    )
    SELECT tm.event_type,
           CAST(t.tr AS BIGINT) AS n_ref,
           CAST(t.tc AS BIGINT) AS n_cur,
           CAST(SUM(CASE WHEN tm.p_q6 + tm.q_q6 > 0
                THEN (tm.p_q6 - tm.q_q6) * (tm.p_q6 - tm.q_q6)
                     // (tm.p_q6 + tm.q_q6)
                ELSE 0 END) AS BIGINT) AS drift_chi2_q6
    FROM terms tm JOIN tot t USING (event_type)
    GROUP BY tm.event_type, t.tr, t.tc
    """,
)
def events_value_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (the PSI-style screen every feature
    pipeline runs before retraining): per event type, a chi²-style
    statistic between the value distribution of the REFERENCE period
    (first half of the corpus's day span) and the CURRENT period
    (second half), over 10 equal-width bins fitted on the reference.

    PSI's ``Σ(p−q)·ln(p/q)`` needs a transcendental, which the
    determinism invariants ban from hashed outputs (libm vs JVM ulp
    divergence); the chi²-style twin ``Σ(p−q)²/(p+q)`` ranks drift
    identically and is EXACT in integers: shares quantize to q6 by
    integer division (HUGEINT/DECIMAL(38,0)-widened — counts at corpus
    scale overflow int64 when ×1e6), and each term is an integer
    square over an integer sum. The bin index is pure IEEE arithmetic
    (sub/mul/div are correctly rounded in both engines → bit-identical
    doubles → identical FLOOR); current-period outliers clamp to the
    edge bins; types with no reference rows are dropped (no baseline
    to drift FROM — documented, both engines).

    Plan shape: one narrow pass + two small aggregates. The corpus
    pays one (type, bin)-keyed aggregate with map-side partials; the
    day-span scalar and per-type bounds broadcast back (dimension-
    sized). No window over raw rows anywhere.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            "value",
            F.unix_date(F.col("ts").cast("date")).alias("d"),
        )
    )
    span = ev.agg(F.min("d").alias("dmin"), F.max("d").alias("dmax"))
    lab = ev.crossJoin(F.broadcast(span)).select(
        "event_type",
        "value",
        F.when(
            F.col("d")
            < F.col("dmin")
            + F.expr("(dmax - dmin + 1) div 2"),
            1,
        )
        .otherwise(0)
        .alias("is_ref"),
    )
    bounds = (
        lab.filter(F.col("is_ref") == 1)
        .groupBy("event_type")
        .agg(F.min("value").alias("vmin"), F.max("value").alias("vmax"))
    )
    binned = lab.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "is_ref",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(9),
                    F.floor(
                        (F.col("value") - F.col("vmin"))
                        * 10
                        / (F.col("vmax") - F.col("vmin"))
                    ),
                ),
            ),
        )
        .otherwise(0)
        .alias("bin"),
    )
    cnt = binned.groupBy("event_type", "bin").agg(
        F.sum("is_ref").alias("nr"),
        F.sum(1 - F.col("is_ref")).alias("nc"),
    )
    tot = cnt.groupBy("event_type").agg(
        F.sum("nr").alias("tr"), F.sum("nc").alias("tc")
    )
    terms = cnt.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "tr",
        "tc",
        F.expr(
            "CAST(CAST(nr AS DECIMAL(38,0)) * 1000000 div tr AS BIGINT)"
        ).alias("p_q6"),
        F.expr(
            "CASE WHEN tc > 0 THEN "
            "CAST(CAST(nc AS DECIMAL(38,0)) * 1000000 div tc AS BIGINT) "
            "ELSE 0 END"
        ).alias("q_q6"),
    )
    return (
        terms.groupBy("event_type", "tr", "tc")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN p_q6 + q_q6 > 0 THEN "
                    "(p_q6 - q_q6) * (p_q6 - q_q6) div (p_q6 + q_q6) "
                    "ELSE 0 END"
                )
            )
            .cast("long")
            .alias("drift_chi2_q6")
        )
        .select(
            "event_type",
            F.col("tr").cast("long").alias("n_ref"),
            F.col("tc").cast("long").alias("n_cur"),
            "drift_chi2_q6",
        )
    )


_HOUR_US = 3600 * 1_000_000
_DAY_US = 24 * _HOUR_US


@register(
    "events_concurrency_profile",
    oracle=f"""
    WITH ev_us AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts FROM events
    ), marked AS (
      SELECT user_id, ts,
        CASE WHEN ts - LAG(ts) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '{{gap}} minutes'
             OR LAG(ts) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new,
        event_id
      FROM ev_us
    ), srows AS (
      SELECT user_id, ts,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    ), sess AS (
      SELECT epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) + 1 AS e_us
      FROM srows GROUP BY user_id, sid
    ), clip AS (
      SELECT CAST(dd AS DATE) AS day,
             GREATEST(s_us,
               epoch_us(CAST(CAST(dd AS DATE) AS TIMESTAMP))) AS lo,
             LEAST(e_us,
               epoch_us(CAST(CAST(dd AS DATE) AS TIMESTAMP))
                 + {_DAY_US}) AS hi
      FROM (
        SELECT s_us, e_us,
               UNNEST(generate_series(
                 CAST(make_timestamp(s_us) AS DATE),
                 CAST(make_timestamp(e_us - 1) AS DATE),
                 INTERVAL 1 DAY)) AS dd
        FROM sess
      )
    ), pts AS (
      SELECT day, lo AS t, 1 AS delta FROM clip
      UNION ALL
      SELECT day, hi AS t, -1 AS delta FROM clip
    ), net AS (
      SELECT day, t, SUM(delta) AS net,
             SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS n_starts
      FROM pts GROUP BY day, t
    ), walk AS (
      SELECT day, t, n_starts,
             SUM(net) OVER (PARTITION BY day ORDER BY t
                            ROWS UNBOUNDED PRECEDING) AS running,
             LEAD(t) OVER (PARTITION BY day ORDER BY t) AS nxt
      FROM net
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(SUM(n_starts) AS BIGINT) AS n_sessions,
           CAST(MAX(running) AS BIGINT) AS peak_concurrent,
           CAST(SUM(CASE WHEN running > 0 AND nxt IS NOT NULL
                         THEN nxt - t ELSE 0 END) AS BIGINT) AS covered_us
    FROM walk GROUP BY day
    """.replace("{gap}", str(SESSION_GAP_MINUTES)),
)
def events_concurrency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-algebra rollup: per day, how many sessions ran
    CONCURRENTLY at the busiest instant, and how many microseconds of
    the day had at least one active session (the union-coverage /
    capacity-planning pair every ops dashboard wants).

    Sessions are the house 30-minute-gap islands, taken as CLOSED
    intervals [first_event, last_event] — encoded half-open as
    ``[s, e+1µs)`` so a single-event session still registers one
    instant of presence. Intervals clip to day boundaries (a
    midnight-spanning session counts in both days).

    The sweep-line: +1/−1 boundary points, aggregated per instant
    (so simultaneous starts/ends collapse before any ordering —
    no tie-order sensitivity), then a running sum whose max is the
    peak and whose positive segments sum to the coverage.

    100 TB shape — the TWO-LEVEL sweep: a day of a busy corpus holds
    millions of boundary points, so a per-day ordered window is the
    single-partition anti-pattern. The engine instead (1) seeds every
    (day, hour) with a zero-delta synthetic boundary point, (2) runs
    the running sum per (day, HOUR) partition, (3) reconstructs each
    hour's offset from the 25-row per-day hour-total window, and
    (4) reads coverage segments inside hours only — the synthetic
    points guarantee segments never span an hour boundary, so an
    hour fully inside a long session is carried by its seed point.
    Identical values to the oracle's single-level walk; partition
    granularity drops from day to hour (and generalizes to minutes
    by changing one constant). The daily rollup is a plain keyed
    aggregate.
    """
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    ev = table(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts"))
    gap = tus - F.lag(tus).over(order)
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0).alias(
            "is_new"
        ),
    )
    running_w = order.rowsBetween(W.unboundedPreceding, 0)
    sess = (
        marked.withColumn("sid", F.sum("is_new").over(running_w))
        .groupBy("user_id", "sid")
        .agg(
            F.unix_micros(F.min("ts")).alias("s_us"),
            (F.unix_micros(F.max("ts")) + 1).alias("e_us"),
        )
    )
    intervals = sess.select(
        "s_us",
        "e_us",
        F.explode(
            F.sequence(
                F.to_date(F.timestamp_micros(F.col("s_us"))),
                F.to_date(F.timestamp_micros(F.col("e_us") - 1)),
            )
        ).alias("day"),
    ).select(
        "s_us",
        "e_us",
        "day",
        F.unix_micros(F.col("day").cast("timestamp")).alias("day_us"),
    )
    clip = intervals.select(
        "day",
        "day_us",
        F.greatest(F.col("s_us"), F.col("day_us")).alias("lo"),
        F.least(F.col("e_us"), F.col("day_us") + _DAY_US).alias("hi"),
    )
    points = clip.select(
        "day", "day_us", F.col("lo").alias("t"), F.lit(1).alias("delta")
    ).unionAll(
        clip.select(
            "day", "day_us", F.col("hi").alias("t"), F.lit(-1).alias("delta")
        )
    )
    seeds = (
        clip.select("day", "day_us")
        .distinct()
        .select(
            "day",
            "day_us",
            F.explode(F.sequence(F.lit(0), F.lit(24))).alias("h"),
        )
        .select(
            "day",
            "day_us",
            (F.col("day_us") + F.col("h") * F.lit(_HOUR_US)).alias("t"),
            F.lit(0).alias("delta"),
        )
    )
    net = (
        points.unionAll(seeds)
        .groupBy("day", "day_us", "t")
        .agg(
            F.sum("delta").alias("net"),
            F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias(
                "n_starts"
            ),
        )
        .withColumn("h", F.expr(f"(t - day_us) div {_HOUR_US}"))
    )
    in_hour = W.partitionBy("day", "h").orderBy("t")
    walk = net.select(
        "day",
        "day_us",
        "h",
        "t",
        "n_starts",
        F.sum("net")
        .over(in_hour.rowsBetween(W.unboundedPreceding, 0))
        .alias("local"),
        F.lead("t").over(in_hour).alias("nxt"),
    )
    hour_tot = net.groupBy("day", "h").agg(F.sum("net").alias("hnet"))
    w_hours = (
        W.partitionBy("day")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = hour_tot.select(
        "day",
        "h",
        F.coalesce(F.sum("hnet").over(w_hours), F.lit(0)).alias("offset"),
    )
    staged = walk.join(offsets, ["day", "h"]).select(
        "day",
        "n_starts",
        (F.col("offset") + F.col("local")).alias("running"),
        F.when(
            F.col("h") < 24,
            F.coalesce(
                F.col("nxt"),
                F.col("day_us") + (F.col("h") + 1) * F.lit(_HOUR_US),
            )
            - F.col("t"),
        )
        .otherwise(F.lit(0))
        .alias("seg"),
    )
    return staged.groupBy("day").agg(
        F.sum("n_starts").cast("long").alias("n_sessions"),
        F.max("running").cast("long").alias("peak_concurrent"),
        F.sum(F.when(F.col("running") > 0, F.col("seg")).otherwise(0))
        .cast("long")
        .alias("covered_us"),
    ).select(
        F.col("day").cast("string").alias("day"),
        "n_sessions",
        "peak_concurrent",
        "covered_us",
    )


@register(
    "orders_theilsen_trend_by_segment",
    oracle="""
    WITH monthly AS (
      SELECT c.c_mktsegment AS segment,
             (EXTRACT(YEAR FROM o.o_orderdate) * 12
              + EXTRACT(MONTH FROM o.o_orderdate)) AS m,
             SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
               AS rev
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ), slopes AS (
      SELECT a.segment,
             (b.rev - a.rev) AS da,
             (b.m - a.m) AS db
      FROM monthly a JOIN monthly b
        ON a.segment = b.segment AND a.m < b.m
    ), ranked AS (
      SELECT segment, da, db,
             ROW_NUMBER() OVER (
               PARTITION BY segment
               ORDER BY CAST(da AS DOUBLE) / CAST(db AS DOUBLE),
                        da, db
             ) AS rn,
             COUNT(*) OVER (PARTITION BY segment) AS n_slopes
      FROM slopes
    )
    SELECT segment,
           CAST(n_slopes AS BIGINT) AS n_slopes,
           CAST(CAST(da AS HUGEINT) * 1000000 // db AS BIGINT)
             AS slope_cents_per_month_q6
    FROM ranked
    WHERE rn = (n_slopes + 1) // 2
    """,
)
def orders_theilsen_trend_by_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust revenue trend per market segment: the Theil–Sen
    estimator (median of all pairwise slopes) over the monthly
    revenue series — the outlier-proof answer to "is this segment
    growing?", where one promo-spike month drags an OLS fit
    (`feat_segment_ols_trend` is the OLS sibling) but moves the
    pairwise-slope median barely at all.

    Determinism: slopes are exact integer pairs (Δcents, Δmonths);
    the median picks by rank over the total order (slope double,
    Δcents, Δmonths) — the double division is correctly rounded from
    exact integers so it is bit-identical across engines, and the
    integer tie-suffix makes the order total even where distinct
    rationals round to the same double. The lower-median convention
    avoids two-value averaging; the reported slope re-derives from
    the chosen pair by exact integer division (q6, truncating
    identically in both engines).

    Scale: the corpus pays ONE (segment, month)-keyed aggregate; the
    pairwise expansion is over the calendar-sized monthly frame —
    |months|²/2 pairs per segment (thousands of rows at ANY corpus
    scale), the same boundedness argument as the CUSUM walk.
    """
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer")
    monthly = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (
                F.year("o_orderdate") * 12 + F.month("o_orderdate")
            ).alias("m"),
        )
        .agg(
            F.sum(
                F.expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")
            ).alias("rev")
        )
    )
    a = monthly.alias("a")
    b = monthly.alias("b")
    slopes = a.join(
        b,
        (F.col("a.segment") == F.col("b.segment"))
        & (F.col("a.m") < F.col("b.m")),
    ).select(
        F.col("a.segment").alias("segment"),
        (F.col("b.rev") - F.col("a.rev")).alias("da"),
        (F.col("b.m") - F.col("a.m")).alias("db"),
    )
    w_seg = W.partitionBy("segment")
    ranked = slopes.select(
        "segment",
        "da",
        "db",
        F.row_number()
        .over(
            w_seg.orderBy(
                F.col("da").cast("double") / F.col("db").cast("double"),
                "da",
                "db",
            )
        )
        .alias("rn"),
        F.count("*").over(w_seg).alias("n_slopes"),
    )
    return ranked.filter(
        F.col("rn") == F.expr("(n_slopes + 1) div 2")
    ).select(
        "segment",
        F.col("n_slopes").cast("long").alias("n_slopes"),
        F.expr(
            "CAST(CAST(da AS DECIMAL(38,0)) * 1000000 div db AS BIGINT)"
        ).alias("slope_cents_per_month_q6"),
    )


@register(
    "events_time_weighted_value",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             {micro_units_sql("value")} AS v_micro
      FROM events
    ), stepped AS (
      SELECT user_id, v_micro,
             LEAD(us) OVER (PARTITION BY user_id
                            ORDER BY us, event_id) - us AS dur_us
      FROM ev
    ), per_user AS (
      SELECT user_id,
             COUNT(*) + 1 AS n_events,
             CAST(SUM(dur_us) AS BIGINT) AS span_us,
             SUM(CAST(v_micro AS HUGEINT) * dur_us) AS wsum
      FROM stepped WHERE dur_us IS NOT NULL
      GROUP BY 1
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events, span_us,
           CAST(wsum // span_us AS BIGINT) AS twap_micro
    FROM per_user WHERE span_us > 0
    """,
)
def events_time_weighted_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user time-weighted average value (TWAP): each event's
    value "holds" until the user's next event, and the average
    weights each value by its holding duration — the metrics-layer
    integral (billing meters, position marks, feature freshness), as
    opposed to the per-row mean that over-counts rapid-fire events.

    One user-keyed sort (the shared per-user shuffle): LEAD gives
    each event its holding duration in integer micros; the weighted
    sum Σ v_micro·dur_us is a widened exact integer and
    ``twap_micro = wsum div span`` its exact q6 mean. Tie-safe: the
    LEAD order is (us, event_id), so same-microsecond events assign
    the zero-duration hold deterministically. Zero-span users (all
    events in one microsecond) are excluded — both engines would
    otherwise fault on the division, and a zero-width integral is
    undefined anyway. Note ``span_us = Σ dur_us`` telescopes to
    last−first exactly.
    """
    ev = table(spark, sf_dir, "events")
    stepped = ev.select(
        "user_id",
        micro_units(F.col("value")).alias("v_micro"),
        (
            F.lead(F.unix_micros("ts")).over(
                W.partitionBy("user_id").orderBy(
                    F.unix_micros("ts"), "event_id"
                )
            )
            - F.unix_micros("ts")
        ).alias("dur_us"),
    )
    per_user = (
        stepped.filter(F.col("dur_us").isNotNull())
        .groupBy("user_id")
        .agg(
            (F.count("*") + 1).cast("long").alias("n_events"),
            F.expr("CAST(SUM(dur_us) AS BIGINT)").alias("span_us"),
            F.expr(
                "SUM(CAST(v_micro AS DECIMAL(38,0)) * dur_us)"
            ).alias("wsum"),
        )
    )
    return per_user.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_events",
        "span_us",
        F.expr("CAST(wsum div span_us AS BIGINT)").alias("twap_micro"),
    )


@register(
    "events_user_balance_reflect",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  WHEN event_type = 'error'
                  THEN -CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                  ELSE 0 END AS delta
      FROM events
      WHERE event_type IN ('purchase', 'error')
    ), summed AS (
      SELECT user_id, us, event_id, delta,
             SUM(delta) OVER (PARTITION BY user_id
                              ORDER BY us, event_id
                              ROWS UNBOUNDED PRECEDING) AS s,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM ev
    ), walked AS (
      SELECT user_id, delta, s, rn, n,
             LEAST(MIN(s) OVER (PARTITION BY user_id
                                ORDER BY us, event_id
                                ROWS UNBOUNDED PRECEDING), 0)
               AS floor_adj
      FROM summed
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_moves,
           CAST(SUM(CASE WHEN delta < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_debits,
           CAST(MAX(s - floor_adj) AS BIGINT) AS peak_balance_cents,
           CAST(MAX(CASE WHEN rn = n THEN s - floor_adj END)
                AS BIGINT) AS final_balance_cents
    FROM walked GROUP BY user_id
    """,
)
def events_user_balance_reflect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user credit balance FLOORED AT ZERO (purchases credit,
    errors debit, a debit can never push below 0 — the prepaid-wallet
    / inventory-on-hand semantics). The floor makes the recurrence
    ``B_t = max(0, B_{t-1} + δ_t)`` look inherently sequential, but
    the Skorokhod reflection identity closes it:
    ``B_t = S_t − min(0, min_{j≤t} S_j)`` over the UNFLOORED prefix
    sums S — so the whole operator is two stacked per-user windows
    (running sum, then running min of it), no recursion, no UDF, no
    driver loop. The oracle runs the identical identity; an
    adversarial fixture pins it against the literal sequential fold.

    Output is the per-user wallet summary (move count, debit count,
    peak and final balance) — user-sized, not event-sized. One
    user-keyed shuffle, the partitioning every per-user operator
    shares; events outside the two move types are filtered at the
    scan (predicate pushdown).
    """
    ev = table(spark, sf_dir, "events")
    moves = ev.filter(
        F.col("event_type").isin("purchase", "error")
    ).select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.when(
            F.col("event_type") == "purchase",
            F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"),
        )
        .otherwise(
            -F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")
        )
        .alias("delta"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    summed = moves.select(
        "user_id",
        "us",
        "event_id",
        "delta",
        F.sum("delta").over(w).alias("s"),
        F.row_number()
        .over(W.partitionBy("user_id").orderBy("us", "event_id"))
        .alias("rn"),
        F.count("*").over(W.partitionBy("user_id")).alias("n"),
    )
    walked = summed.select(
        "user_id",
        "delta",
        "s",
        "rn",
        "n",
        F.least(F.min("s").over(w), F.lit(0)).alias("floor_adj"),
    )
    return walked.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_moves"),
        F.sum(F.when(F.col("delta") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_debits"),
        F.max(F.col("s") - F.col("floor_adj"))
        .cast("long")
        .alias("peak_balance_cents"),
        F.max(
            F.when(F.col("rn") == F.col("n"), F.col("s") - F.col("floor_adj"))
        )
        .cast("long")
        .alias("final_balance_cents"),
    )


SLIDING_DISTINCT_DAYS = 7  # trailing window width shared with the HLL twin


@register(
    "events_sliding_distinct_exact",
    oracle=f"""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ), membership AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    )
    SELECT d.day, CAST(COUNT(DISTINCT m.user_id) AS BIGINT) AS users_7d
    FROM days d
    JOIN membership m
      ON m.day BETWEEN d.day - INTERVAL {SLIDING_DISTINCT_DAYS - 1} DAY
                   AND d.day
    GROUP BY d.day
    """,
)
def events_sliding_distinct_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT trailing-7-day distinct users per day WITHOUT the 7×
    membership expansion — the island/interval-counting restatement
    of the metric `events_sliding_dau_7d` estimates with HLL
    sketches. A user contributes to day d iff they have an active day
    in [d-6, d]; equivalently each maximal run of active days with
    gaps ≤ 6 (an "island" [s, e]) contributes the coverage interval
    [s, e+6]. So: per-user islands via gaps-and-islands (lag + running
    flag sum), then classic interval counting — +1 at s, −1 at e+7,
    prefix-summed over the day domain — gives every day's distinct
    count with NO count-distinct and NO range join.

    The oracle is the literal definition (distinct membership
    range-joined to the day spine, COUNT(DISTINCT) per day): two
    independent algorithms, hash-compared — the same harness pattern
    the HLL twin uses for its exact anchor.

    At 100 TB: the corpus is touched once for the (user, day)
    dedup (one user-keyed shuffle); the lag/island windows REUSE that
    partitioning (no second exchange); everything after is day-domain
    sized (+1/−1 deltas, one tiny global prefix-sum window over
    |days|+ rows — hundreds, explicitly driver-safe). The literal
    algorithm shuffles 7× the membership and runs a two-phase
    count-distinct per day; this one replaces both with integer
    deltas. Window width is a compile-time constant shared with the
    HLL twin, so the two stay comparable per round.
    """
    k = SLIDING_DISTINCT_DAYS
    ev = table(spark, sf_dir, "events")
    member = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    wu = W.partitionBy("user_id").orderBy("day")
    islands = (
        member.withColumn("prev_day", F.lag("day").over(wu))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_day").isNull()
                | (F.datediff("day", "prev_day") >= k),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island_id",
            F.sum("new_island").over(
                wu.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "island_id")
        .agg(F.min("day").alias("s"), F.max("day").alias("e"))
    )
    deltas = (
        islands.select(F.col("s").alias("day"), F.lit(1).alias("delta"))
        .unionAll(
            islands.select(
                F.date_add("e", k).alias("day"),
                F.lit(-1).alias("delta"),
            )
        )
        .unionAll(
            ev.select(F.to_date("ts").alias("day"))
            .distinct()
            .select("day", F.lit(0).alias("delta"))
        )
        .groupBy("day")
        .agg(F.sum("delta").alias("d"))
    )
    # |days|-sized frame: the single-partition global window is over
    # the DAY DOMAIN (+ island ends), not the corpus
    run = deltas.withColumn(
        "users_7d",
        F.sum("d")
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .cast("long"),
    )
    spine = ev.select(F.to_date("ts").alias("day")).distinct()
    return run.join(spine, "day").select("day", "users_7d")


ROLLING_MEDIAN_N = 7  # trailing-frame width (this event + 6 prior)


@register(
    "events_user_rolling_median7",
    oracle=f"""
    WITH cents AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ), framed AS (
      SELECT user_id, event_id,
             list_sort(list(v) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id
                                     ROWS {ROLLING_MEDIAN_N - 1} PRECEDING))
               AS win
      FROM cents
    )
    SELECT user_id, event_id,
           CAST(win[(len(win) + 1) // 2] AS BIGINT)
             AS rolling_median_cents
    FROM framed
    """,
)
def events_user_rolling_median7(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Trailing rolling MEDIAN of purchase value per user (this event
    plus up to 6 predecessors) — the robust spend-level tracker a
    rolling mean cannot be (one whale purchase drags a mean for 7
    rows; the median shrugs). Exact, not sketched: the frame is a
    compile-time constant 7, so the window materializes ≤7 integer
    cents per row (``collect_list`` over a bounded ROWS frame —
    bounded state by construction), sorts in-row, and picks the lower
    median at index ``(n+1) div 2``. All JVM built-ins, no UDF.

    Both engines run the IDENTICAL algorithm (bounded list → sort →
    1-indexed lower-median pick), so ties and odd/even frames agree
    exactly — integer cents end to end, ORDER BY (event-time,
    event_id) total order.

    Scale: one user-keyed shuffle (the shared per-user partitioning);
    per-row cost is O(7 log 7); output is event-sized. A data-
    dependent frame width would make state unbounded — that variant
    belongs to the sketch family, not here.
    """
    ev = table(spark, sf_dir, "events")
    cents = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").alias("v"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-(ROLLING_MEDIAN_N - 1), 0)
    )
    return (
        cents.withColumn(
            "win", F.array_sort(F.collect_list("v").over(w))
        ).select(
            "user_id",
            "event_id",
            F.expr(
                "CAST(element_at(win, CAST((size(win) + 1) div 2 AS INT))"
                " AS BIGINT)"
            ).alias("rolling_median_cents"),
        )
    )


MASE_SEASON_LAG = 12  # months; naive competitor is lag-1


@register(
    "orders_seasonal_naive_mase",
    oracle=f"""
    WITH monthly AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT mkey, rev,
             CASE WHEN lag(mkey, {MASE_SEASON_LAG})
                       OVER (ORDER BY mkey) = mkey - {MASE_SEASON_LAG}
                  THEN lag(rev, {MASE_SEASON_LAG}) OVER (ORDER BY mkey)
             END AS rev_season,
             CASE WHEN lag(mkey, 1) OVER (ORDER BY mkey) = mkey - 1
                  THEN lag(rev, 1) OVER (ORDER BY mkey)
             END AS rev_naive
      FROM monthly
    ), folded AS (
      SELECT COUNT(*) AS n_eval,
             SUM(ABS(rev - rev_season)) AS sae_s,
             SUM(ABS(rev - rev_naive)) AS sae_n
      FROM lagged
      WHERE rev_season IS NOT NULL AND rev_naive IS NOT NULL
    )
    SELECT CAST(n_eval AS BIGINT) AS n_eval,
           CAST(sae_s AS BIGINT) AS sae_seasonal_cents,
           CAST(sae_n AS BIGINT) AS sae_naive_cents,
           CAST(CASE WHEN sae_n = 0 THEN NULL
                ELSE CAST(sae_s AS HUGEINT) * 1000000 // sae_n
                END AS BIGINT) AS mase_q6
    FROM folded
    """,
)
def orders_seasonal_naive_mase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast backtest: does a seasonal-naive model (predict this
    month = same month last year) beat the one-step naive (predict
    this month = last month) on monthly revenue? The ratio of their
    absolute-error sums is MASE (Hyndman & Koehler 2006) with the
    naive MAE as the scale — the unit-free forecast-quality number a
    demand pipeline tracks per backfill. mase_q6 < 1e6 means
    seasonality carries signal beyond drift.

    Both lags run over the month spine keyed by the INTEGER month
    index ``year·12 + month`` (engine-neutral arithmetic, no interval
    types), and each lag validates its distance (``lag(mkey,k) =
    mkey−k``) so calendar gaps at tiny SFs yield NULL forecasts
    rather than silently comparing wrong months; evaluation restricts
    to months where BOTH forecasts exist, so the two error sums are
    over the identical month set. Integer cents end to end; the q6
    ratio widens to DECIMAL(38,0)/HUGEINT before dividing.

    Scale: one corpus-sized map-side-combinable aggregate reduces
    orders to the calendar-bounded monthly frame (≤ a few hundred
    rows at ANY corpus size); the unpartitioned lag window runs over
    that frame only — the module's bounded-model-state discipline.
    """
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
            "mkey"
        )
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev")
    )
    w = W.orderBy("mkey")
    lagged = monthly.select(
        "mkey",
        "rev",
        F.when(
            F.lag("mkey", MASE_SEASON_LAG).over(w)
            == F.col("mkey") - MASE_SEASON_LAG,
            F.lag("rev", MASE_SEASON_LAG).over(w),
        ).alias("rev_season"),
        F.when(
            F.lag("mkey", 1).over(w) == F.col("mkey") - 1,
            F.lag("rev", 1).over(w),
        ).alias("rev_naive"),
    )
    folded = lagged.filter(
        F.col("rev_season").isNotNull() & F.col("rev_naive").isNotNull()
    ).agg(
        F.count("*").alias("n_eval"),
        F.sum(F.abs(F.col("rev") - F.col("rev_season"))).alias("sae_s"),
        F.sum(F.abs(F.col("rev") - F.col("rev_naive"))).alias("sae_n"),
    )
    return folded.select(
        F.expr("CAST(n_eval AS BIGINT)").alias("n_eval"),
        F.expr("CAST(sae_s AS BIGINT)").alias("sae_seasonal_cents"),
        F.expr("CAST(sae_n AS BIGINT)").alias("sae_naive_cents"),
        F.expr(
            "CAST(CASE WHEN sae_n = 0 THEN NULL"
            " ELSE CAST(sae_s AS DECIMAL(38,0)) * 1000000 div sae_n"
            " END AS BIGINT)"
        ).alias("mase_q6"),
    )


# Bot screen model parameters — explicit, documented thresholds (the
# cap-is-a-model-parameter discipline): a user is suspect if ANY of
# (1) any single hour holds >= BOT_RATE_HOURLY events, (2) they emit
# <= BOT_MIN_TYPES distinct event types over >= BOT_SCREEN_MIN_EVENTS
# events, (3) their inter-event gaps are metronomic — squared
# coefficient of variation at or below BOT_CV2_MAX_Q6 (human traffic
# is bursty, CV^2 ~ 1 for Poisson arrivals; scripted traffic is
# near-periodic, CV^2 -> 0). Gaps are measured in MILLISECONDS so the
# widened integer CV^2 arithmetic keeps ~10x span headroom inside
# DECIMAL(38,0)/HUGEINT.
BOT_SCREEN_MIN_EVENTS = 5
BOT_RATE_HOURLY = 10
BOT_MIN_TYPES = 2
BOT_CV2_MAX_Q6 = 250_000  # CV^2 <= 0.25


@register(
    "events_bot_screen",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hh
      FROM events
    ), per AS (
      SELECT user_id, COUNT(*) AS n_events,
             COUNT(DISTINCT event_type) AS n_types
      FROM ev GROUP BY user_id
    ), hourly AS (
      SELECT user_id, MAX(c) AS max_hourly FROM (
        SELECT user_id, hh, COUNT(*) AS c FROM ev GROUP BY user_id, hh
      ) GROUP BY user_id
    ), gaps AS (
      SELECT user_id,
             (us - LAG(us) OVER (PARTITION BY user_id
                                 ORDER BY us, event_id)) // 1000
               AS g
      FROM ev
    ), gstat AS (
      SELECT user_id, COUNT(g) AS n1,
             CAST(SUM(g) AS HUGEINT) AS s,
             SUM(CAST(g AS HUGEINT) * g) AS q
      FROM gaps WHERE g IS NOT NULL GROUP BY user_id
    ), scored AS (
      SELECT p.user_id,
             CAST(p.n_events AS BIGINT) AS n_events,
             CAST(p.n_types AS BIGINT) AS n_types,
             CAST(h.max_hourly AS BIGINT) AS max_hourly,
             CAST(CASE WHEN g.s <= 0 THEN 0
                  ELSE CAST(g.n1 AS HUGEINT)
                       * (g.n1 * g.q - g.s * g.s) * 1000000
                       // ((g.n1 - 1) * g.s * g.s)
                  END AS BIGINT) AS cv2_q6
      FROM per p
      JOIN hourly h ON p.user_id = h.user_id
      JOIN gstat g ON p.user_id = g.user_id
      WHERE p.n_events >= {BOT_SCREEN_MIN_EVENTS} AND g.n1 >= 2
    )
    SELECT user_id, n_events, n_types, max_hourly, cv2_q6,
           CAST(CASE WHEN max_hourly >= {BOT_RATE_HOURLY}
                     THEN 1 ELSE 0 END
              + CASE WHEN n_types <= {BOT_MIN_TYPES}
                     THEN 2 ELSE 0 END
              + CASE WHEN cv2_q6 <= {BOT_CV2_MAX_Q6}
                     THEN 4 ELSE 0 END AS INTEGER) AS bot_flags
    FROM scored
    """,
)
def events_bot_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-based bot/automation screen over per-user behavior — the
    events-side sibling of the Gopher text rules (quality.py): a
    training-data pipeline drops scripted traffic BEFORE any model
    sees it. One row per evaluable user (≥ {BOT_SCREEN_MIN_EVENTS} events,
    ≥ 2 gaps) with three integer-exact signals and a flag bitmask
    (1 = hourly burst ≥ {BOT_RATE_HOURLY}, 2 = type diversity ≤
    {BOT_MIN_TYPES}, 4 = metronomic gaps CV² ≤ 0.25):

    - ``max_hourly`` — peak events in any one clock hour,
    - ``n_types`` — distinct event types,
    - ``cv2_q6`` — squared coefficient of variation of inter-event
      gaps (ms grain), exact integer:
      ``n1·(n1·Σg² − S²)·1e6 div ((n1−1)·S²)`` with Σg² widened
      (DECIMAL(38,0)/HUGEINT; ms gaps keep ~10× span headroom).
      CV² ≈ 1 is Poisson (human-bursty), → 0 is periodic; all-equal
      timestamps (S = 0) report 0, maximally metronomic.

    Plan: three per-user hash aggregates (count/distinct, hourly-max,
    gap moments over the ONE user-keyed sort the lag needs) joined on
    user_id — after the first exchange all three sides share the hash
    partitioning, so AQE plans local joins; nothing corpus-sized
    crosses a second exchange. Deterministic lag order (us, event_id)
    pins equal-timestamp gaps on both engines.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.date_trunc("hour", F.col("ts")).alias("hh"),
    )
    per = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("event_type").cast("long").alias("n_types"),
    )
    hourly = (
        ev.groupBy("user_id", "hh")
        .agg(F.count("*").alias("c"))
        .groupBy("user_id")
        .agg(F.max("c").cast("long").alias("max_hourly"))
    )
    wlag = W.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.select(
        "user_id",
        (F.col("us") - F.lag("us").over(wlag)).alias("_gus"),
    ).select("user_id", F.expr("_gus div 1000").alias("g"))
    gstat = (
        gaps.filter(F.col("g").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("g").alias("n1"),
            F.sum("g").cast("decimal(38,0)").alias("s"),
            F.sum(
                F.col("g").cast("decimal(38,0)") * F.col("g")
            ).alias("q"),
        )
    )
    scored = (
        per.join(hourly, "user_id")
        .join(gstat, "user_id")
        .filter(
            (F.col("n_events") >= BOT_SCREEN_MIN_EVENTS)
            & (F.col("n1") >= 2)
        )
        .selectExpr(
            "user_id",
            "n_events",
            "n_types",
            "max_hourly",
            "CAST(CASE WHEN s <= 0 THEN 0"
            " ELSE CAST(n1 AS DECIMAL(38,0))"
            " * (n1 * q - s * s) * 1000000"
            " div ((n1 - 1) * s * s)"
            " END AS BIGINT) AS cv2_q6",
        )
    )
    return scored.selectExpr(
        "user_id",
        "n_events",
        "n_types",
        "max_hourly",
        "cv2_q6",
        f"CAST(CASE WHEN max_hourly >= {BOT_RATE_HOURLY}"
        " THEN 1 ELSE 0 END"
        f" + CASE WHEN n_types <= {BOT_MIN_TYPES} THEN 2 ELSE 0 END"
        f" + CASE WHEN cv2_q6 <= {BOT_CV2_MAX_Q6} THEN 4 ELSE 0 END"
        " AS INTEGER) AS bot_flags",
    )


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH du AS (
      SELECT DISTINCT
             CAST(date_trunc('month', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS mon,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                  AS TIMESTAMP) AS day,
             user_id
      FROM events
    ), dau AS (
      SELECT mon, day, COUNT(*) AS dau FROM du GROUP BY mon, day
    ), per_mon AS (
      SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(dau) AS BIGINT) AS sum_dau
      FROM dau GROUP BY mon
    ), mau AS (
      SELECT mon, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM du GROUP BY mon
    )
    SELECT epoch_us(p.mon) AS mon_us, p.n_days, p.sum_dau, m.mau,
           CAST(p.sum_dau * 1000000 // (p.n_days * m.mau) AS BIGINT)
             AS stickiness_q6
    FROM per_mon p JOIN mau m ON p.mon = m.mon
    """,
)
def events_dau_mau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly DAU/MAU engagement ("stickiness"): per calendar month,
    the day count, summed daily-active-user counts, monthly active
    users, and ``avg(DAU)/MAU`` as the exact q6 integer
    ``Σdau·1e6 div (n_days·mau)`` — the canonical product-analytics
    ratio (1e6 ⇔ every monthly user active every day).

    Plan: ONE distinct pass builds the (month, day, user) activity
    frame; both rollups (per-day counts → month, per-month distinct
    users) aggregate that frame, so the raw event volume crosses one
    exchange exactly once. Calendar-bounded output (≤ months rows);
    no windows.
    """
    ev = table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("month", F.col("ts")).alias("mon"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    ).distinct()
    per_mon = (
        du.groupBy("mon", "day")
        .agg(F.count("*").alias("dau"))
        .groupBy("mon")
        .agg(
            F.count("*").cast("long").alias("n_days"),
            F.sum("dau").cast("long").alias("sum_dau"),
        )
    )
    mau = du.groupBy("mon").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    return per_mon.join(mau, "mon").selectExpr(
        "unix_micros(mon) AS mon_us",
        "n_days",
        "sum_dau",
        "mau",
        "CAST(sum_dau * 1000000 div (n_days * mau) AS BIGINT)"
        " AS stickiness_q6",
    )


# watermark-delay candidates for the tradeoff curve (micros): 0s, 1m,
# 5m, 10m (the production candidate LATE_TOL_US), 30m
WATERMARK_DELAYS_US = (
    0,
    60 * 1_000_000,
    300 * 1_000_000,
    600 * 1_000_000,
    1_800 * 1_000_000,
)
WM_BAND_SHIFT = 12  # 4096 consecutive event_ids per prefix-max band


@register(
    "events_watermark_tradeoff_curve",
    oracle=f"""
    WITH arr AS (
      SELECT event_id, user_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             MAX(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_max_us
      FROM events
    ), lateness AS (
      SELECT user_id,
             GREATEST(COALESCE(prior_max_us - ts_us, 0), 0) AS late_us
      FROM arr
    ), tot AS (
      SELECT COUNT(*) AS n_events FROM lateness
    ), pts AS (
      SELECT d.delay_us,
             COUNT(*) FILTER (l.late_us > d.delay_us) AS n_dropped,
             COUNT(DISTINCT CASE WHEN l.late_us > d.delay_us
                                 THEN l.user_id END) AS n_users_affected
      FROM (VALUES {', '.join(f'({v})' for v in WATERMARK_DELAYS_US)})
           d(delay_us)
      LEFT JOIN lateness l ON TRUE
      GROUP BY d.delay_us
    )
    SELECT CAST(p.delay_us AS BIGINT) AS delay_us,
           CAST(p.n_dropped AS BIGINT) AS n_dropped,
           CAST(p.n_users_affected AS BIGINT) AS n_users_affected,
           CAST(CASE WHEN t.n_events = 0 THEN 0
                ELSE p.n_dropped * 1000000 // t.n_events
                END AS BIGINT) AS dropped_share_q6
    FROM pts p, tot t
    """,
)
def events_watermark_tradeoff_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermark-delay tuning curve — the streaming-family twin of
    the LSH band / IVF nprobe / quality threshold curves: for each
    candidate delay, how many events a GLOBAL watermark at that delay
    would drop (Spark's semantics: an event is dropped when its event
    time trails the max event time already ingested by more than the
    delay), how many users those drops touch, and the q6 drop share.
    ``events_late_arrival_profile`` audits one candidate per user;
    this prices the whole knob, globally, before a streaming job
    commits to it.

    Plan (100 TB): the global running max over arrival order is NOT a
    global window — it is the two-level DISTRIBUTED PREFIX pattern of
    ``mm_shard_manifest``/``customer_abc_classification``, with MAX
    as the associative op: contiguous event_id bands (shiftright
    {WM_BAND_SHIFT}) aggregate map-side; the band-level exclusive
    prefix max runs over the small band frame; events then take
    GREATEST(band base, within-band exclusive running max). Lateness
    lands as integer micros; the 5-delay sweep is a broadcast join +
    one 5-group aggregate, one scan total.
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.expr(f"shiftright(event_id, {WM_BAND_SHIFT})").alias("band"),
    )
    bands = ev.groupBy("band").agg(F.max("ts_us").alias("bmax"))
    # band-level exclusive prefix max: the frame is n/2^shift rows —
    # domain-sized orchestration, same contract as the shard manifest
    bwalk = bands.select(
        "band",
        F.max("bmax")
        .over(
            W.orderBy("band").rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("base_max"),
    )
    within_prior = F.max("ts_us").over(
        W.partitionBy("band")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    # greatest() skips NULLs (band 0 has no base; a band's first event
    # has no within-band prior); the first event overall coalesces to 0
    lateness = ev.join(F.broadcast(bwalk), "band").select(
        "user_id",
        F.greatest(
            F.coalesce(
                F.greatest(F.col("base_max"), within_prior)
                - F.col("ts_us"),
                F.lit(0),
            ),
            F.lit(0),
        ).alias("late_us"),
    )
    delays = spark.createDataFrame(
        [(v,) for v in WATERMARK_DELAYS_US], "delay_us long"
    )
    pts = (
        lateness.crossJoin(F.broadcast(delays))
        .groupBy("delay_us")
        .agg(
            F.count_if(F.col("late_us") > F.col("delay_us")).alias(
                "n_dropped"
            ),
            F.count_distinct(
                F.when(
                    F.col("late_us") > F.col("delay_us"), F.col("user_id")
                )
            ).alias("n_users_affected"),
        )
    )
    pts = delays.join(pts, "delay_us", "left").select(
        "delay_us",
        F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
        F.coalesce("n_users_affected", F.lit(0)).alias("n_users_affected"),
    )
    tot = lateness.agg(F.count("*").alias("n_events"))
    return pts.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(delay_us AS BIGINT) AS delay_us",
        "CAST(n_dropped AS BIGINT) AS n_dropped",
        "CAST(n_users_affected AS BIGINT) AS n_users_affected",
        "CAST(CASE WHEN n_events = 0 THEN 0"
        " ELSE n_dropped * 1000000 div n_events END AS BIGINT)"
        " AS dropped_share_q6",
    )


# HLL relative-standard-deviation candidates (q6): the sketch-size
# knob — rsd 0.05/0.02/0.01 cost ~0.7/4.3/17 KiB of registers each
HLL_RSD_CURVE_Q6 = (50_000, 20_000, 10_000)


@register(
    "events_hll_rsd_curve",
    oracle=f"""
    SELECT CAST(r.rsd_q6 AS BIGINT) AS rsd_q6,
           (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_users,
           TRUE AS approx_within_tol
    FROM (VALUES {', '.join(f'({v})' for v in HLL_RSD_CURVE_Q6)})
         r(rsd_q6)
    """,
)
def events_hll_rsd_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-precision tuning curve: distinct users estimated by
    HyperLogLog++ at three relative-error settings, each
    property-checked against the exact count in the
    ``events_approx_distinct`` convention (the emitted boolean claims
    the sketch landed within 4·rsd + 16 of exact — wide enough that
    the honest 3σ tail can't falsify the oracle-pinned TRUE, tight
    enough that a broken register merge, off by orders of magnitude,
    still trips it). This is the row a
    100 TB deployment reads to pick register size: rsd halves cost
    4× the sketch bytes, and the curve shows what that buys on THIS
    corpus rather than in expectation.

    Plan: ONE aggregate computes the exact two-phase distinct and all
    three sketches in the same pass (sketch registers merge map-side;
    the exact count is the correctness harness, production keeps the
    sketch); the 3-point frame assembles by broadcast join.
    """
    ev = table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count_distinct("user_id").alias("exact_users"),
        *[
            F.approx_count_distinct("user_id", rsd=q / 1_000_000).alias(
                f"_a{q}"
            )
            for q in HLL_RSD_CURVE_Q6
        ],
    )
    pts = spark.createDataFrame(
        [(v,) for v in HLL_RSD_CURVE_Q6], "rsd_q6 long"
    )
    return pts.crossJoin(F.broadcast(agg)).select(
        "rsd_q6",
        "exact_users",
        # r6 ADVICE hardening: the oracle pins TRUE, so the band must
        # not be falsifiable by the honest 3σ tail (~0.3%/point) — use
        # 4·rsd plus a 16-count absolute slack for tiny cardinalities;
        # a broken sketch is off by orders of magnitude regardless
        F.coalesce(
            *[
                F.when(
                    F.col("rsd_q6") == q,
                    F.abs(F.col(f"_a{q}") - F.col("exact_users"))
                    <= F.lit(4 * q / 1_000_000) * F.col("exact_users")
                    + F.lit(16),
                )
                for q in HLL_RSD_CURVE_Q6
            ]
        ).alias("approx_within_tol"),
    )


SESSION_GAP_CURVE_MIN = (10, 30, 60)


def _session_gap_point_sql(gap_min: int) -> str:
    g = gap_min * 60 * 1_000_000
    return f"""
      SELECT {gap_min} AS gap_minutes,
             COALESCE(SUM(CASE WHEN prev_us IS NULL OR ts_us - prev_us > {g}
                      THEN 1 ELSE 0 END), 0) AS n_sessions,
             COALESCE(SUM(CASE WHEN (prev_us IS NULL OR ts_us - prev_us > {g})
                       AND (next_us IS NULL OR next_us - ts_us > {g})
                      THEN 1 ELSE 0 END), 0) AS n_singleton_sessions,
             COUNT(*) AS n_events
      FROM lagged"""


@register(
    "events_session_gap_curve",
    oracle=f"""
    WITH ev_us AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ), lagged AS (
      SELECT user_id, ts_us,
             LAG(ts_us) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) AS prev_us,
             LEAD(ts_us) OVER (PARTITION BY user_id
                               ORDER BY ts_us, event_id) AS next_us
      FROM ev_us
    )
    SELECT CAST(gap_minutes AS BIGINT) AS gap_minutes,
           CAST(n_sessions AS BIGINT) AS n_sessions,
           CAST(n_singleton_sessions AS BIGINT) AS n_singleton_sessions,
           CAST(CASE WHEN n_sessions = 0 THEN 0
                ELSE n_events * 1000000 // n_sessions
                END AS BIGINT) AS events_per_session_q6
    FROM ({' UNION ALL '.join(
        _session_gap_point_sql(g) for g in SESSION_GAP_CURVE_MIN)})
    """,
)
def events_session_gap_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap tuning curve — the knob behind the whole
    sessionization family, priced like the funnel window: for each
    candidate inactivity gap (10 / 30 / 60 min), the session count,
    how many sessions are single-event (the gap-too-small symptom),
    and mean events per session (q6). Every point derives from the
    SAME one-pass lag/lead frame: a session starts where the previous
    same-user event is more than the gap away, and a start is a
    singleton when the NEXT event is also more than the gap away (or
    absent) — so the 3-gap sweep needs no per-gap session-id
    materialization at all, just three conditional sums.

    Plan: ONE user-keyed shuffle (lag and lead share the window
    sort), one aggregate producing all per-gap sums map-side, one
    3-row assembly. Integer micros throughout — the identical
    gap arithmetic the frozen ``events_sessionization`` row uses.
    """
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    lagged = ev.select(
        "ts_us",
        F.lag("ts_us").over(w).alias("prev_us"),
        F.lead("ts_us").over(w).alias("next_us"),
    )
    aggs = []
    for g_min in SESSION_GAP_CURVE_MIN:
        g = g_min * 60 * 1_000_000
        start = F.col("prev_us").isNull() | (
            F.col("ts_us") - F.col("prev_us") > g
        )
        lonely = F.col("next_us").isNull() | (
            F.col("next_us") - F.col("ts_us") > g
        )
        aggs.append(
            F.sum(F.when(start, 1).otherwise(0)).alias(f"ns_{g_min}")
        )
        aggs.append(
            F.sum(F.when(start & lonely, 1).otherwise(0)).alias(
                f"nx_{g_min}"
            )
        )
    counts = lagged.agg(*aggs, F.count("*").alias("n_events"))
    gaps = spark.createDataFrame(
        [(g,) for g in SESSION_GAP_CURVE_MIN], "gap_minutes long"
    )
    pick = lambda pre: F.coalesce(  # noqa: E731
        *[
            F.when(F.col("gap_minutes") == g, F.col(f"{pre}_{g}"))
            for g in SESSION_GAP_CURVE_MIN
        ]
    )
    return gaps.crossJoin(F.broadcast(counts)).select(
        "gap_minutes",
        F.coalesce(pick("ns"), F.lit(0)).cast("long").alias("n_sessions"),
        F.coalesce(pick("nx"), F.lit(0))
        .cast("long")
        .alias("n_singleton_sessions"),
        F.expr(
            "CAST(CASE WHEN "
            + " WHEN ".join(
                f"gap_minutes = {g} THEN CASE WHEN coalesce(ns_{g}, 0) = 0"
                f" THEN 0 ELSE n_events * 1000000 div ns_{g} END"
                for g in SESSION_GAP_CURVE_MIN
            )
            + " END AS BIGINT)"
        ).alias("events_per_session_q6"),
    )


HOLT_ALPHA = 0.5  # level gain — exact binary rational
HOLT_BETA = 0.25  # trend gain — exact binary rational


@register(
    "orders_holt_linear_smoothing",
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             {micro_cents_sql(micro_sum_sql("o_totalprice"))} AS y_cents
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT ym, y_cents, ROW_NUMBER() OVER (ORDER BY ym) AS t FROM s
    ), h AS (
      SELECT t, ym, y_cents,
             y_cents / 100.0 AS l, CAST(0.0 AS DOUBLE) AS b,
             CAST(NULL AS DOUBLE) AS fc
      FROM idx WHERE t = 1
      UNION ALL
      SELECT i.t, i.ym, i.y_cents,
             {HOLT_ALPHA} * (i.y_cents / 100.0)
               + {1 - HOLT_ALPHA} * (h.l + h.b),
             {HOLT_BETA} * (({HOLT_ALPHA} * (i.y_cents / 100.0)
                             + {1 - HOLT_ALPHA} * (h.l + h.b)) - h.l)
               + {1 - HOLT_BETA} * h.b,
             h.l + h.b
      FROM h JOIN idx i ON i.t = h.t + 1
    )
    SELECT CAST(ym AS BIGINT) AS ym, y_cents,
           CAST(FLOOR(l * 100 + 0.5) AS BIGINT) AS level_cents,
           CAST(FLOOR(b * 100 + 0.5) AS BIGINT) AS trend_cents,
           CAST(FLOOR(fc * 100 + 0.5) AS BIGINT) AS forecast_cents
    FROM h
    """,
)
def orders_holt_linear_smoothing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over the monthly
    revenue series — the trend-aware forecaster completing the
    forecasting quartet (EWMA = level-only, seasonal-naive MASE =
    benchmark, Theil–Sen = robust slope): per month,
    ``l_t = α·y_t + (1−α)(l_{{t−1}}+b_{{t−1}})``,
    ``b_t = β(l_t−l_{{t−1}}) + (1−β)b_{{t−1}}``, and the one-step
    forecast ``l_{{t−1}}+b_{{t−1}}``, with α={HOLT_ALPHA},
    β={HOLT_BETA} (exact binary rationals — every recursion step is
    ±*/ on doubles, bit-identical cross-engine; the oracle restates
    the identical recursion as a recursive CTE). Monthly y is the
    exact micro-unit sum floored to cents, so both engines smooth
    identical inputs.

    100 TB shape: the corpus-sized work is ONE (year, month) groupBy
    with map-side combine; the recursion then runs driver-side over
    the BOUNDED month spine (the markov/rate-limiter bounded-model-
    state pattern — a calendar has ~8 rows per PB-year of data, and
    an inherently sequential scalar recursion does not distribute).
    Forecast/level/trend emit as FLOOR(x·100+0.5) cents.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    orders = table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("ym")
        )
        .agg(
            micro_cents(micro_sum(F.col("o_totalprice"))).alias("y_cents")
        )
        .orderBy("ym")
    )
    # bounded driver collect: the month spine (~84 rows; calendar-
    # sized at any corpus scale)
    series = monthly.collect()
    import math

    out = []
    l = b = None
    for row in series:
        yd = row["y_cents"] / 100.0
        if l is None:
            l, b, fc = yd, 0.0, None
        else:
            fc = l + b
            l_new = HOLT_ALPHA * yd + (1 - HOLT_ALPHA) * (l + b)
            b = HOLT_BETA * (l_new - l) + (1 - HOLT_BETA) * b
            l = l_new
        out.append(
            (
                row["ym"],
                row["y_cents"],
                int(math.floor(l * 100 + 0.5)),
                int(math.floor(b * 100 + 0.5)),
                None if fc is None else int(math.floor(fc * 100 + 0.5)),
            )
        )
    return spark.createDataFrame(
        out,
        schema=(
            "ym bigint, y_cents bigint, level_cents bigint, "
            "trend_cents bigint, forecast_cents bigint"
        ),
    )


@register(
    "orders_capacity_backlog_replay",
    oracle="""
    WITH RECURSIVE bounds AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS d0,
             CAST(MAX(o_orderdate) AS DATE) AS d1,
             COUNT(*) AS total
      FROM orders
    ), spine AS (
      SELECT CAST(u.d AS DATE) AS day,
             ROW_NUMBER() OVER (ORDER BY u.d) AS t
      FROM bounds, LATERAL (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS d
      ) u
      WHERE d0 IS NOT NULL
    ), kcap AS (
      SELECT (b.total + COUNT(*) - 1) // COUNT(*) AS k
      FROM spine, bounds b GROUP BY b.total
    ), arriv AS (
      SELECT s.t, s.day, COALESCE(a.n, 0) AS a
      FROM spine s LEFT JOIN (
        SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n
        FROM orders GROUP BY 1
      ) a ON a.day = s.day
    ), sim AS (
      SELECT t, day, a,
             GREATEST(0, a - (SELECT k FROM kcap)) AS backlog,
             a - GREATEST(0, a - (SELECT k FROM kcap)) AS shipped
      FROM arriv WHERE t = 1
      UNION ALL
      SELECT n.t, n.day, n.a,
             GREATEST(0, sim.backlog + n.a - (SELECT k FROM kcap)),
             sim.backlog + n.a
               - GREATEST(0, sim.backlog + n.a - (SELECT k FROM kcap))
      FROM sim JOIN arriv n ON n.t = sim.t + 1
    )
    SELECT CAST(year(day) * 100 + month(day) AS BIGINT) AS ym,
           CAST(SUM(a) AS BIGINT) AS arrivals,
           CAST(SUM(shipped) AS BIGINT) AS shipped,
           CAST(MAX(backlog) AS BIGINT) AS max_backlog,
           CAST(COUNT(*) FILTER (WHERE backlog > 0) AS BIGINT)
             AS days_backlogged,
           CAST(MAX_BY(backlog, t) AS BIGINT) AS end_backlog
    FROM sim GROUP BY 1
    """,
)
def orders_capacity_backlog_replay(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic capacity/backlog replay — the operational
    "what-if" a fulfillment planner runs against history: a fixed
    daily ship capacity K = ⌈mean daily arrivals⌉ (derived from the
    data, scale-free) replays the dense calendar with the integer
    queue recursion ``backlog_t = max(0, backlog_{t−1} + a_t − K)``,
    and each month reports arrivals, shipped units, peak and
    month-end backlog, and backlogged-day count — the Lindley
    recursion of queueing theory on exact integers (no float
    anywhere, no RNG: a replay, not a Monte Carlo).

    100 TB shape: the corpus-sized work is ONE daily-count groupBy;
    the recursion is inherently sequential and runs driver-side over
    the BOUNDED dense calendar spine (~2.4k days here; calendar-sized
    at any corpus scale — the Holt/markov bounded-model-state
    pattern), gap days synthesized in the loop. The oracle restates
    the identical recursion as a recursive CTE over the
    generate_series spine.
    """
    import datetime as _dt

    orders = table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
        .orderBy("day")
    )
    rows = daily.collect()  # bounded: calendar-sized
    if not rows:
        return spark.createDataFrame(
            [],
            schema=(
                "ym bigint, arrivals bigint, shipped bigint, "
                "max_backlog bigint, days_backlogged bigint, "
                "end_backlog bigint"
            ),
        )
    counts = {r["day"]: r["n"] for r in rows}
    d0, d1 = rows[0]["day"], rows[-1]["day"]
    n_days = (d1 - d0).days + 1
    total = sum(counts.values())
    k = (total + n_days - 1) // n_days
    monthly: dict = {}
    backlog = 0
    for i in range(n_days):
        day = d0 + _dt.timedelta(days=i)
        a = counts.get(day, 0)
        new_backlog = max(0, backlog + a - k)
        shipped = backlog + a - new_backlog
        backlog = new_backlog
        ym = day.year * 100 + day.month
        m = monthly.setdefault(
            ym, {"a": 0, "s": 0, "mx": 0, "db": 0, "eb": 0}
        )
        m["a"] += a
        m["s"] += shipped
        m["mx"] = max(m["mx"], backlog)
        m["db"] += 1 if backlog > 0 else 0
        m["eb"] = backlog
    out = [
        (ym, m["a"], m["s"], m["mx"], m["db"], m["eb"])
        for ym, m in sorted(monthly.items())
    ]
    return spark.createDataFrame(
        out,
        schema=(
            "ym bigint, arrivals bigint, shipped bigint, "
            "max_backlog bigint, days_backlogged bigint, "
            "end_backlog bigint"
        ),
    )


ANOMALY_CURVE_DECI = (15, 20, 30, 40)  # σ-multiplier tenths


@register(
    "events_anomaly_threshold_curve",
    oracle=f"""
    WITH {_mean_std_q6_sql("event_type")},
    ts(t) AS (VALUES {", ".join(f"({t})" for t in ANOMALY_CURVE_DECI)})
    SELECT s.event_type,
           CAST(ts.t AS BIGINT) AS threshold_deci,
           s.n_events,
           COUNT(*) FILTER (
             WHERE abs(e.value - s.mean_q6 / 1000000.0)
                   > (ts.t / 10.0) * (s.std_q6 / 1000000.0)
           ) AS n_anomalies,
           CAST(COUNT(*) FILTER (
             WHERE abs(e.value - s.mean_q6 / 1000000.0)
                   > (ts.t / 10.0) * (s.std_q6 / 1000000.0)
           ) * 1000000 // s.n_events AS BIGINT) AS alert_share_q6
    FROM events e JOIN quant s USING (event_type) CROSS JOIN ts
    GROUP BY s.event_type, ts.t, s.n_events
    """,
)
def events_anomaly_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Alert-threshold tuning curve for the z-score monitor — the
    anomaly family's knob curve (every other tunable family has one:
    LSH bands, session gap, funnel window, quality threshold, salt
    factor, HLL rsd...): at σ-multipliers {ANOMALY_CURVE_DECI} (in
    tenths), how many alerts fire per event type and what share of
    the stream pages the on-call — the alert-budget table a
    monitoring rollout reads before picking its threshold.

    100 TB shape: the sufficient statistics are ONE per-type
    aggregate (:func:`mean_std_q6`, shared with
    ``events_anomaly_zscore``); the sweep is conditional counts inside
    ONE second pass over the stream with the |types|-row stats and
    {len(ANOMALY_CURVE_DECI)}-row threshold list broadcast — no
    per-threshold rescan.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12,
    or the query raises.
    """
    ev = table(spark, sf_dir, "events")
    quant = mean_std_q6(ev, "event_type")
    ts = spark.createDataFrame(
        [(t,) for t in ANOMALY_CURVE_DECI], "t long"
    )
    hit = F.expr(
        "abs(value - mean_q6 / 1000000.0)"
        " > (t / 10.0) * (std_q6 / 1000000.0)"
    )
    return (
        ev.join(F.broadcast(quant), "event_type")
        .crossJoin(F.broadcast(ts))
        .groupBy(
            "event_type",
            F.col("t").cast("long").alias("threshold_deci"),
            "n_events",
        )
        .agg(
            F.count(F.when(hit, 1)).alias("n_anomalies"),
        )
        .selectExpr(
            "event_type",
            "threshold_deci",
            "n_events",
            "n_anomalies",
            "CAST(n_anomalies * 1000000 div n_events AS BIGINT)"
            " AS alert_share_q6",
        )
    )


WM_STATE_HORIZONS_MIN = (10, 60, 360)  # candidate watermark delays
_US_PER_DAY = 86_400_000_000


@register(
    "events_watermark_state_advisor",
    oracle=f"""
    WITH ev_us AS (
      SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t FROM events
    ), hs(h) AS (VALUES {", ".join(f"({h})" for h in WM_STATE_HORIZONS_MIN)}),
    b AS (
      SELECT h, t AS inst, 1 AS d FROM ev_us CROSS JOIN hs
      UNION ALL
      SELECT h, t + CAST(h AS BIGINT) * 60000000 + 1, -1
      FROM ev_us CROSS JOIN hs
    ), c AS (
      SELECT h, inst, SUM(d) AS d FROM b GROUP BY h, inst
    ), r AS (
      SELECT h, SUM(d) OVER (PARTITION BY h ORDER BY inst
                             ROWS UNBOUNDED PRECEDING) AS run
      FROM c
    )
    SELECT CAST(h AS BIGINT) AS horizon_minutes,
           CAST(MAX(run) AS BIGINT) AS peak_buffered_rows
    FROM r GROUP BY h
    """,
)
def events_watermark_state_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming state-budget advisor: for each candidate watermark
    delay in {WM_STATE_HORIZONS_MIN} minutes, the PEAK number of
    events simultaneously inside the watermark horizon — the row
    count the state store must hold for stream-stream joins /
    dedup / windowed aggregates at that delay (the companion to
    ``events_watermark_tradeoff_curve``, which prices LATE-DATA loss;
    this prices MEMORY). Sweep-line: +1 at the event, −1 one
    microsecond after it leaves the horizon, deltas collapsed per
    instant before any ordering, peak = max running sum — exact
    integers in epoch-microsecond arithmetic.

    100 TB shape: ONE corpus pass generates all horizons' boundary
    points (broadcast horizon list, explode of two struct rows); the
    running sum is the TWO-LEVEL banded walk (the
    events_concurrency_profile discipline): day bands are integer
    division on the instant, within-band cumsums partition by
    (horizon, band), and band offsets come from the calendar-sized
    (horizon, band)-totals window — never a global single-partition
    ordered walk over the boundary stream.
    """
    from pyspark.sql import Window as _W

    ev = table(spark, sf_dir, "events")
    hs = spark.createDataFrame(
        [(h,) for h in WM_STATE_HORIZONS_MIN], "h long"
    )
    pts = (
        ev.select(F.unix_micros("ts").alias("t"))
        .crossJoin(F.broadcast(hs))
        .select(
            "h",
            F.explode(
                F.array(
                    F.struct(
                        F.col("t").alias("inst"), F.lit(1).alias("d")
                    ),
                    F.struct(
                        (F.col("t") + F.col("h") * 60000000 + 1).alias(
                            "inst"
                        ),
                        F.lit(-1).alias("d"),
                    ),
                )
            ).alias("p"),
        )
        .select("h", F.col("p.inst").alias("inst"), F.col("p.d").alias("d"))
    )
    c = pts.groupBy("h", "inst").agg(F.sum("d").alias("d")).withColumn(
        "band", F.expr(f"inst div {_US_PER_DAY}")
    )
    band_tot = c.groupBy("h", "band").agg(F.sum("d").alias("bd"))
    w_band = _W.partitionBy("h").orderBy("band").rowsBetween(
        _W.unboundedPreceding, 0
    )
    base = band_tot.select(
        "h",
        "band",
        (F.sum("bd").over(w_band) - F.col("bd")).alias("base"),
    )
    w_in = _W.partitionBy("h", "band").orderBy("inst").rowsBetween(
        _W.unboundedPreceding, 0
    )
    run = c.join(F.broadcast(base), ["h", "band"]).select(
        "h", (F.col("base") + F.sum("d").over(w_in)).alias("run")
    )
    return run.groupBy(F.col("h").alias("horizon_minutes")).agg(
        F.max("run").cast("long").alias("peak_buffered_rows")
    )


AB_EPS_DECI = (5, 10)  # detectable mean shifts, tenths of a value unit
AB_DELTA_INV = 20  # failure probability δ = 1/20 = 5%


@register(
    "events_ab_sample_size_chebyshev",
    oracle=f"""
    WITH stats AS ({_moment_fold_sql("event_type")}
    ), es(e) AS (VALUES {", ".join(f"({e})" for e in AB_EPS_DECI)})
    SELECT s.event_type,
           CAST(es.e AS BIGINT) AS eps_deci,
           CAST(s.n AS BIGINT) AS n_available,
           CAST(CEIL((s.sum_vsq / s.n - (s.sum_v / s.n) * (s.sum_v / s.n))
                     * {AB_DELTA_INV} * 100 / (es.e * es.e))
                AS BIGINT) AS n_required,
           CAST(CASE WHEN s.n >= CEIL(
                  (s.sum_vsq / s.n - (s.sum_v / s.n) * (s.sum_v / s.n))
                  * {AB_DELTA_INV} * 100 / (es.e * es.e))
                THEN 1 ELSE 0 END AS BIGINT) AS feasible
    FROM stats s CROSS JOIN es
    """,
)
def events_ab_sample_size_chebyshev(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution-free A/B sample-size advisor: per event type and
    detectable mean shift ε ∈ {AB_EPS_DECI} (tenths of a value unit),
    the Chebyshev bound ``n ≥ σ²/(ε²·δ)`` at δ = 1/{AB_DELTA_INV} —
    no normality assumption, no erf/quantile function (which the
    cross-engine float contract forbids): the conservative,
    transcendental-free planning number, next to the experimentation
    rows (`events_ab_cohort_compare` reads results; this plans the
    run). Variance comes from the exact order-independent moments
    (:func:`moment_fold`); CEIL on the identical IEEE double is
    identical on both engines; feasibility compares the available
    event count against the requirement.

    100 TB shape: one per-type sufficient-statistics aggregate; the
    ε-sweep is a |types|×{len(AB_EPS_DECI)} projection over the
    broadcast-scale stats frame — no second corpus pass.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12,
    or the query raises.
    """
    stats = moment_fold(table(spark, sf_dir, "events"), "event_type")
    es = spark.createDataFrame([(e,) for e in AB_EPS_DECI], "e long")
    var = "(sum_vsq / n - (sum_v / n) * (sum_v / n))"
    nreq = f"CEIL({var} * {AB_DELTA_INV} * 100 / (e * e))"
    return (
        stats.crossJoin(F.broadcast(es))
        .selectExpr(
            "event_type",
            "CAST(e AS BIGINT) AS eps_deci",
            "CAST(n AS BIGINT) AS n_available",
            f"CAST({nreq} AS BIGINT) AS n_required",
            f"CAST(CASE WHEN n >= {nreq} THEN 1 ELSE 0 END"
            " AS BIGINT) AS feasible",
        )
    )


# ---------------------------------------------------------------------------
# Round-8 experimentation-analysis family: difference-in-differences,
# CUPED variance reduction, jackknife standard error. The A/B readout
# (events_ab_cohort_compare) and the Chebyshev sizing advisor gave the
# engine a point estimate and a sample-size plan; these add the three
# estimators an experimentation platform runs next — causal lift with
# a parallel-trends baseline, pre-period covariate adjustment, and a
# resampling-free nonparametric CI.
# ---------------------------------------------------------------------------


# The four (cohort, period) cells of the DiD estimator
_DID_CELLS = {
    "a_pre": (0, 0), "a_post": (0, 1), "b_pre": (1, 0), "b_post": (1, 1)
}


@register(
    "events_did_estimator",
    oracle=f"""
    WITH {_PERIOD_SPLIT_SQL}, cell AS (
      SELECT cohort, period, COUNT(*) AS n, {exact_sum_sql("value")} AS sv
      FROM split GROUP BY cohort, period
    ), p AS (
      SELECT {", ".join(
          f"{cohort_pivot_sql(col, cohort=c, period=t)} AS {col}_{k}"
          for col in ("n", "sv") for k, (c, t) in _DID_CELLS.items()
      )}
      FROM cell
    )
    SELECT {", ".join(f"n_{k}" for k in _DID_CELLS)},
      {", ".join(
          f"{_q6_sql(f'sv_{k} / n_{k}')} AS mean_{k}_q6" for k in _DID_CELLS
      )},
      {_q6_sql(
          "(sv_b_post / n_b_post - sv_b_pre / n_b_pre)"
          " - (sv_a_post / n_a_post - sv_a_pre / n_a_pre)"
      )} AS did_q6
    FROM p
    """,
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences (the canonical quasi-experimental
    causal estimator, Card & Krueger 1994 form): cohorts are the
    deterministic ``user_id % 2`` split of `events_ab_cohort_compare`;
    periods split the stream at the INTEGER midpoint of its epoch-µs
    range (:func:`period_split`; data-derived, so the query is
    meaningful at every SF). DiD = (B_post − B_pre) − (A_post − A_pre)
    of per-cell mean value — the treatment lift net of the shared time
    trend under the parallel-trends assumption.

    Determinism: the period boundary is 64-bit integer arithmetic on
    the min/max epoch-µs (1-row broadcast); cell sums accumulate in
    exact micro-units (order-independent); the four means and the DiD
    are one identical double expression on both engines, quantized q6.

    100 TB shape: ONE aggregate over (cohort, period) — 4 cells of
    map-side partial sums — after a 1-row min/max fold broadcast back.
    No window, no per-user state; the estimator costs two scans (the
    range fold + the cell aggregate) of pushdown-pruned columns.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12,
    or the query raises.
    """
    cell = (
        period_split(table(spark, sf_dir, "events"))
        .groupBy("cohort", "period")
        .agg(F.count("*").alias("n"), exact_sum(F.col("value")).alias("sv"))
    )
    p = cell.agg(
        *[
            cohort_pivot(col, cohort=c, period=t).alias(f"{col}_{k}")
            for col in ("n", "sv")
            for k, (c, t) in _DID_CELLS.items()
        ]
    )
    mean = {k: F.col(f"sv_{k}") / F.col(f"n_{k}") for k in _DID_CELLS}
    return p.select(
        *[f"n_{k}" for k in _DID_CELLS],
        *[_q6(mean[k]).alias(f"mean_{k}_q6") for k in _DID_CELLS],
        _q6(
            (mean["b_post"] - mean["b_pre"]) - (mean["a_post"] - mean["a_pre"])
        ).alias("did_q6"),
    )


@register(
    "events_cuped_adjustment",
    oracle=f"""
    WITH {_CUPED_MOMENTS_SQL}
    SELECT CAST(n AS BIGINT) AS n_users,
      {_q6_sql(_CUPED_THETA)} AS theta_q6,
      {_q6_sql(_CUPED_CORR2)} AS variance_reduction_q6
    FROM g
    """,
)
def events_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED pre-period covariate adjustment (Deng, Xu, Kohavi &
    Walker, WSDM 2013): per user, X = pre-period value sum and Y =
    post-period value sum (the DiD row's integer midpoint boundary);
    θ = cov(X,Y)/var(X) is the regression adjustment coefficient and
    the achievable variance reduction is corr²(X,Y) =
    cov²/(var_X·var_Y) — the fraction of metric variance the
    experimenter removes by analyzing Y − θ·X instead of Y.

    Determinism: per-user sums are exact integer micro-units
    (:func:`user_pre_post`) before any second moment — θ = cov/var
    and corr² are invariant under the common ×1e6 scaling, so every
    product and sum is exact integer arithmetic (DECIMAL(38,0) /
    HUGEINT), order-independent; θ and corr² are one identical double
    expression over those exact sums (:func:`cuped_moments`),
    quantized q6.

    100 TB shape: ONE user-keyed shuffle builds (X, Y); the moment
    fold is a 1-row map-side-partial aggregate. No user-level data
    leaves the aggregate — the estimator's cost is the same shuffle
    the per-user metric already pays.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12,
    or the query raises.
    """
    u = user_pre_post(period_split(table(spark, sf_dir, "events")))
    return cuped_moments(u).select(
        F.col("n").cast("long").alias("n_users"),
        _q6(F.expr(_CUPED_THETA)).alias("theta_q6"),
        _q6(F.expr(_CUPED_CORR2)).alias("variance_reduction_q6"),
    )


@register(
    "orders_jackknife_mean_ci",
    oracle=f"""
    WITH o AS (
      SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS g,
             o_totalprice AS v
      FROM orders
    ), per_g AS (
      SELECT g, COUNT(*) AS n_g, {micro_sum_sql("v")} AS s_g
      FROM o GROUP BY g
    ), tot AS (
      SELECT COUNT(*) AS gg, SUM(n_g) AS n, SUM(s_g) AS s
      FROM per_g
    ), loo AS (
      -- degenerate guard: with ONE group, deleting it leaves nothing
      -- (n = n_g) -> the leave-one-out estimate is undefined -> NULL
      SELECT CAST(FLOOR({from_micro_sql("s - s_g")}
                        / NULLIF(n - n_g, 0)
                        * 1000000 + 0.5) AS BIGINT) AS loo_q6
      FROM per_g CROSS JOIN tot
    ), bar AS (
      SELECT SUM(loo_q6) // COUNT(*) AS bar_q6 FROM loo
    ), ss AS (
      SELECT SUM(CAST(loo_q6 - bar_q6 AS DECIMAL(19,0))
               * CAST(loo_q6 - bar_q6 AS DECIMAL(19,0))) AS ss2
      FROM loo CROSS JOIN bar
    )
    SELECT CAST(gg AS BIGINT) AS n_groups,
           CAST(n AS BIGINT) AS n_orders,
           CAST(FLOOR({from_micro_sql("s")} / n * 1000000 + 0.5) AS BIGINT)
             AS mean_q6,
           CAST(FLOOR(sqrt(CAST(ss2 AS DOUBLE) * (gg - 1) / gg) + 0.5)
                AS BIGINT) AS jk_se_q6,
           CAST(FLOOR({from_micro_sql("s")} / n * 1000000 + 0.5)
                - 2 * FLOOR(sqrt(CAST(ss2 AS DOUBLE) * (gg - 1) / gg)
                            + 0.5) AS BIGINT) AS ci_lo_q6,
           CAST(FLOOR({from_micro_sql("s")} / n * 1000000 + 0.5)
                + 2 * FLOOR(sqrt(CAST(ss2 AS DOUBLE) * (gg - 1) / gg)
                            + 0.5) AS BIGINT) AS ci_hi_q6
    FROM ss CROSS JOIN tot
    """,
)
def orders_jackknife_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of the mean order
    value (Quenouille 1956 / Tukey 1958; the block form is the
    estimator production metric platforms use when rows are
    correlated within time blocks): groups are order months (a
    calendar-bounded domain), θ₍₋g₎ = mean with month g removed,
    SE² = (G−1)/G · Σ(θ₍₋g₎ − θ̄)², CI = mean ± 2·SE (the
    distribution-free 2-sigma band, matching the Chebyshev advisor's
    conservatism).

    Determinism (the established integer-lattice discipline): every
    leave-one-out mean is quantized to an INTEGER q6 BEFORE any
    cross-group reduction — θ̄ is an integer floor-mean, each squared
    deviation is an exact DECIMAL(38,0) integer product, and their
    sum is order-independent. No double is ever summed across groups,
    so partition order cannot flip the floor.

    100 TB shape: ONE month aggregate (map-side partials, ≤ |months|
    rows) and everything after runs on the group census — the
    jackknife is resampling-free: the G leave-one-out estimates are
    closed-form from (Σ, n, Σ_g, n_g), never G re-scans.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    o = table(spark, sf_dir, "orders").select(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("g"),
        F.col("o_totalprice").alias("v"),
    )
    per_g = o.groupBy("g").agg(
        F.count("*").alias("n_g"), micro_sum(F.col("v")).alias("s_g")
    )
    tot = per_g.agg(
        F.count("*").alias("gg"),
        F.sum("n_g").alias("n"),
        F.sum("s_g").alias("s"),
    )
    # degenerate guard (single-row corpus sweep): one group -> the
    # leave-one-out denominator is zero -> NULL, not an ANSI error
    loo = per_g.crossJoin(F.broadcast(tot)).select(
        F.floor(
            from_micro(F.col("s") - F.col("s_g"))
            / F.nullif(F.col("n") - F.col("n_g"), F.lit(0))
            * 1_000_000
            + F.lit(0.5)
        ).alias("loo_q6")
    )
    bar = loo.agg(F.expr("SUM(loo_q6) DIV COUNT(*)").alias("bar_q6"))
    ss = loo.crossJoin(F.broadcast(bar)).agg(
        F.sum(
            (F.col("loo_q6") - F.col("bar_q6")).cast("decimal(19,0)")
            * (F.col("loo_q6") - F.col("bar_q6")).cast("decimal(19,0)")
        ).alias("ss2")
    )
    mean_q6 = F.floor(
        from_micro(F.col("s")) / F.col("n") * 1_000_000 + F.lit(0.5)
    )
    se_q6 = F.floor(
        F.sqrt(
            F.col("ss2").cast("double") * (F.col("gg") - 1) / F.col("gg")
        )
        + F.lit(0.5)
    )
    return ss.crossJoin(F.broadcast(tot)).select(
        F.col("gg").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_orders"),
        mean_q6.cast("long").alias("mean_q6"),
        se_q6.cast("long").alias("jk_se_q6"),
        (mean_q6 - 2 * se_q6).cast("long").alias("ci_lo_q6"),
        (mean_q6 + 2 * se_q6).cast("long").alias("ci_hi_q6"),
    )


CONFORMAL_SEASON_LAG_DAYS = 7
CONFORMAL_LEVEL_PCT = 90  # 90% split-conformal interval


@register(
    "orders_conformal_naive_interval",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
               AS dkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ), lagged AS (
      SELECT dkey, rev,
             CASE WHEN lag(dkey, {CONFORMAL_SEASON_LAG_DAYS})
                       OVER (ORDER BY dkey)
                       = dkey - {CONFORMAL_SEASON_LAG_DAYS}
                  THEN lag(rev, {CONFORMAL_SEASON_LAG_DAYS})
                       OVER (ORDER BY dkey)
             END AS rev_season
      FROM daily
    ), resid AS (
      SELECT dkey, ABS(rev - rev_season) AS r, dkey % 2 AS side
      FROM lagged WHERE rev_season IS NOT NULL
    ), calib AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, dkey) AS rn
      FROM resid WHERE side = 0
    ), nc AS (
      SELECT COUNT(*) AS n_calib FROM calib
    ), q AS (
      SELECT MIN(r) AS q90 FROM calib CROSS JOIN nc
      WHERE rn >= CAST(CEIL(n_calib * {CONFORMAL_LEVEL_PCT} / 100.0)
                       AS BIGINT)
    ), ev AS (
      SELECT COUNT(*) AS n_eval,
             SUM(CASE WHEN r <= q90 THEN 1 ELSE 0 END) AS n_covered
      FROM resid CROSS JOIN q WHERE side = 1
    )
    SELECT CAST(n_calib AS BIGINT) AS n_calib,
           CAST(n_eval AS BIGINT) AS n_eval,
           CAST(q90 AS BIGINT) AS q90_resid_cents,
           CAST(n_covered AS BIGINT) AS n_covered,
           CAST(n_covered * 1000000 // NULLIF(n_eval, 0) AS BIGINT)
             AS coverage_q6
    FROM ev CROSS JOIN q CROSS JOIN nc
    """,
)
def orders_conformal_naive_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split conformal prediction interval for the seasonal-naive
    daily-revenue forecast (Vovk et al. 2005; Lei et al. 2018 split
    form — the distribution-free calibration layer a forecasting
    pipeline wraps around ANY point model): residuals
    |rev(d) − rev(d−{CONFORMAL_SEASON_LAG_DAYS})| split by day parity
    into a calibration and an evaluation half; the interval half-width
    is the exact {CONFORMAL_LEVEL_PCT}th-percentile calibration
    residual (order statistic at rank ⌈0.9·n⌉, tie-broken by day for
    determinism), and the evaluation half reports empirical COVERAGE —
    the number a platform alerts on when the world shifts
    (coverage_q6 well below {CONFORMAL_LEVEL_PCT * 10_000} means the
    model's uncertainty is understated).

    The MASE row (`orders_seasonal_naive_mase`) scores the point
    forecast; this row calibrates its UNCERTAINTY — together they are
    the accuracy/calibration pair.

    Determinism: integer cents end to end; the forecast lag validates
    its calendar distance (gaps yield NULL, excluded); the order
    statistic is picked at an exact integer rank with a total
    tie-break, never an interpolated percentile. Scale: one corpus
    aggregate folds orders to the ≤2405-row day census; the rank
    window and both folds run on that bounded frame (the module's
    bounded-model-state discipline).
    """
    orders = table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01")
        )
        .cast("long")
        .alias("dkey")
    ).agg(
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev")
    )
    w = W.orderBy("dkey")
    lag_n = CONFORMAL_SEASON_LAG_DAYS
    resid = (
        daily.select(
            "dkey",
            "rev",
            F.when(
                F.lag("dkey", lag_n).over(w) == F.col("dkey") - lag_n,
                F.lag("rev", lag_n).over(w),
            ).alias("rev_season"),
        )
        .filter(F.col("rev_season").isNotNull())
        .select(
            "dkey",
            F.abs(F.col("rev") - F.col("rev_season")).alias("r"),
            (F.col("dkey") % 2).alias("side"),
        )
    )
    calib = resid.filter(F.col("side") == 0).select(
        "r", F.row_number().over(W.orderBy("r", "dkey")).alias("rn")
    )
    nc = calib.agg(F.count("*").alias("n_calib"))
    q = (
        calib.crossJoin(F.broadcast(nc))
        .filter(
            F.col("rn")
            >= F.ceil(
                F.col("n_calib") * CONFORMAL_LEVEL_PCT / 100.0
            ).cast("long")
        )
        .agg(F.min("r").alias("q90"))
    )
    ev = (
        resid.filter(F.col("side") == 1)
        .crossJoin(F.broadcast(q))
        .agg(
            F.count("*").alias("n_eval"),
            F.sum(
                F.when(F.col("r") <= F.col("q90"), 1).otherwise(0)
            ).alias("n_covered"),
        )
    )
    return (
        ev.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(nc))
        .select(
            F.col("n_calib").cast("long").alias("n_calib"),
            F.col("n_eval").cast("long").alias("n_eval"),
            F.col("q90").cast("long").alias("q90_resid_cents"),
            F.col("n_covered").cast("long").alias("n_covered"),
            F.expr(
                "CAST(n_covered * 1000000 div nullif(n_eval, 0)"
                " AS BIGINT)"
            ).alias("coverage_q6"),
        )
    )


# DYADIC pre-period engagement bands — band = ⌊log2(pre_n)⌋+1 (0 for
# no pre events), capped. A pure integer-comparison projection: no
# global rank (an NTILE decile's tie handling is partition-order-
# dependent) and, unlike fixed linear cut-points, dyadic bands spread
# the population at EVERY scale factor (mean events/user grows ~10×
# per SF decade; log2 banding absorbs that).
UPLIFT_BAND_CAP = 12  # pre_n >= 2^(cap-1) folds into the top band


def _uplift_band_case(col: str) -> str:
    arms = [f"WHEN {col} <= 0 THEN 0"]
    for b in range(1, UPLIFT_BAND_CAP):
        arms.append(f"WHEN {col} < {1 << b} THEN {b}")
    return (
        "CASE " + " ".join(arms) + f" ELSE {UPLIFT_BAND_CAP} END"
    )


@register(
    "events_uplift_by_band",
    oracle=f"""
    WITH {_PERIOD_SPLIT_SQL}, u AS (
      SELECT user_id, cohort AS treated,
             COALESCE(SUM(CASE WHEN period = 0 THEN 1 END), 0) AS pre_n,
             MAX(CASE WHEN period = 1 AND event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS converted
      FROM split GROUP BY 1, 2
    ), banded AS (
      SELECT {_uplift_band_case("pre_n")} AS band, treated, converted
      FROM u
    ), cells AS (
      SELECT band,
        SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS n_treat,
        SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS n_ctrl,
        SUM(CASE WHEN treated = 1 THEN converted ELSE 0 END)
          AS conv_treat,
        SUM(CASE WHEN treated = 0 THEN converted ELSE 0 END)
          AS conv_ctrl
      FROM banded GROUP BY band
    )
    SELECT CAST(band AS BIGINT) AS band,
           CAST(n_treat AS BIGINT) AS n_treat,
           CAST(n_ctrl AS BIGINT) AS n_ctrl,
           CAST(conv_treat AS BIGINT) AS conv_treat,
           CAST(conv_ctrl AS BIGINT) AS conv_ctrl,
           CAST(conv_treat * 1000000 // NULLIF(n_treat, 0)
              - conv_ctrl * 1000000 // NULLIF(n_ctrl, 0) AS BIGINT)
             AS uplift_q6
    FROM cells
    """,
)
def events_uplift_by_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-treatment-effect readout (the uplift-model
    evaluation table, Radcliffe 2007 form): users banded by
    PRE-period engagement (DYADIC bands ⌊log2(pre_n)⌋+1, a pure
    integer projection — no tie-ambiguous NTILE, and the log2 spread
    stays populated at every SF), then per band the treatment-vs-
    control POST-period purchase-conversion lift. The DiD row gives
    one average effect; this is its per-segment decomposition — where
    an experimenter learns WHICH users the treatment moves (the
    qini/uplift-curve input).

    Cohort and period follow the family conventions
    (:func:`period_split`: user_id % 2; integer epoch-µs midpoint).
    All-integer output: conversion rates are q6 integer divisions, the
    uplift their difference.

    100 TB shape: ONE user-keyed aggregate (pre-count + post-convert
    fold together), a narrow band projection, and a
    ≤{UPLIFT_BAND_CAP + 1}-row cell aggregate — the same
    single-shuffle cost as the per-user metric itself.
    """
    u = (
        period_split(table(spark, sf_dir, "events"))
        .groupBy("user_id", F.col("cohort").alias("treated"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("period") == 0, 1)), F.lit(0)
            ).alias("pre_n"),
            F.max(
                F.when(
                    (F.col("period") == 1)
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).alias("converted"),
        )
    )
    banded = u.select(
        F.expr(_uplift_band_case("pre_n")).alias("band"),
        "treated",
        "converted",
    )
    cells = banded.groupBy("band").agg(
        F.sum(F.when(F.col("treated") == 1, 1).otherwise(0)).alias(
            "n_treat"
        ),
        F.sum(F.when(F.col("treated") == 0, 1).otherwise(0)).alias(
            "n_ctrl"
        ),
        F.sum(
            F.when(F.col("treated") == 1, F.col("converted")).otherwise(0)
        ).alias("conv_treat"),
        F.sum(
            F.when(F.col("treated") == 0, F.col("converted")).otherwise(0)
        ).alias("conv_ctrl"),
    )
    return cells.select(
        F.col("band").cast("long").alias("band"),
        F.col("n_treat").cast("long").alias("n_treat"),
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("conv_treat").cast("long").alias("conv_treat"),
        F.col("conv_ctrl").cast("long").alias("conv_ctrl"),
        F.expr(
            "CAST(conv_treat * 1000000 div nullif(n_treat, 0)"
            " - conv_ctrl * 1000000 div nullif(n_ctrl, 0) AS BIGINT)"
        ).alias("uplift_q6"),
    )


@register(
    "events_cuped_adjusted_lift",
    oracle=f"""
    WITH {_CUPED_MOMENTS_SQL}, c AS (
      SELECT cohort, COUNT(*) AS nc,
        CAST(SUM(x) AS DOUBLE) AS scx,
        CAST(SUM(y) AS DOUBLE) AS scy
      FROM u GROUP BY cohort
    ), t AS (
      SELECT {_CUPED_THETA} AS theta, sx / n AS xbar FROM g
    ), adj AS (
      SELECT cohort, nc,
        (scy / nc - theta * (scx / nc - xbar)) / 1000000.0 AS adj_mean
      FROM c CROSS JOIN t
    ), p AS (
      SELECT {cohort_pivot_sql("nc", cohort=0)} AS n_ctrl,
             {cohort_pivot_sql("nc", cohort=1)} AS n_treat,
             {cohort_pivot_sql("adj_mean", cohort=0)} AS m_ctrl,
             {cohort_pivot_sql("adj_mean", cohort=1)} AS m_treat
      FROM adj
    )
    SELECT CAST(n_ctrl AS BIGINT) AS n_ctrl,
           CAST(n_treat AS BIGINT) AS n_treat,
           {_q6_sql("m_ctrl")} AS adj_mean_ctrl_q6,
           {_q6_sql("m_treat")} AS adj_mean_treat_q6,
           {_q6_sql("m_treat - m_ctrl")} AS adj_lift_q6
    FROM p
    """,
)
def events_cuped_adjusted_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The CUPED-ADJUSTED experiment readout — what a platform
    actually ships once `events_cuped_adjustment` has fit θ: per
    cohort the adjusted mean  ȳ_c − θ·(x̄_c − x̄)  (Deng et al. 2013
    eq. 4 — the x̄ re-centering keeps the adjusted metric on the raw
    scale) and the treatment lift on the adjusted metric. Same θ as
    the adjustment row (:func:`cuped_moments`: global pooled fit,
    exact integer-micros moments), same cohort/period conventions as
    the family. Zero pre-period variance leaves θ, the adjusted means
    and the lift NULL, never a division error.

    Determinism: the per-user (X, Y) micros are exact integers; the
    pooled moments and per-cohort sums are exact; θ, the two adjusted
    means, and the lift are one identical double expression on both
    engines, quantized q6.

    100 TB shape: the SAME single user-keyed shuffle as the
    adjustment row — the per-cohort sums fold in a second tiny
    aggregate over the per-user frame; no extra corpus pass.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12,
    or the query raises.
    """
    u = user_pre_post(period_split(table(spark, sf_dir, "events")))
    # the per-user frame feeds BOTH the pooled-moment fold and the
    # per-cohort sums — materialize once (the shared-scan discipline)
    u = u.localCheckpoint(eager=True)
    t = cuped_moments(u).select(
        F.expr(_CUPED_THETA).alias("theta"),
        (F.col("sx") / F.col("n")).alias("xbar"),
    )
    c = u.groupBy("cohort").agg(
        F.count("*").alias("nc"),
        F.sum("x").cast("double").alias("scx"),
        F.sum("y").cast("double").alias("scy"),
    )
    adj = c.crossJoin(F.broadcast(t)).select(
        "cohort",
        "nc",
        (
            (
                F.col("scy") / F.col("nc")
                - F.col("theta")
                * (F.col("scx") / F.col("nc") - F.col("xbar"))
            )
            / 1_000_000.0
        ).alias("adj_mean"),
    )
    p = adj.agg(
        cohort_pivot("nc", cohort=0).alias("n_ctrl"),
        cohort_pivot("nc", cohort=1).alias("n_treat"),
        cohort_pivot("adj_mean", cohort=0).alias("m_ctrl"),
        cohort_pivot("adj_mean", cohort=1).alias("m_treat"),
    )
    return p.select(
        F.col("n_ctrl").cast("long").alias("n_ctrl"),
        F.col("n_treat").cast("long").alias("n_treat"),
        _q6(F.col("m_ctrl")).alias("adj_mean_ctrl_q6"),
        _q6(F.col("m_treat")).alias("adj_mean_treat_q6"),
        _q6(F.col("m_treat") - F.col("m_ctrl")).alias("adj_lift_q6"),
    )


TSCV_N_FOLDS = 4
TSCV_TEST_MONTHS = 3


@register(
    "orders_tscv_fold_census",
    oracle=f"""
    WITH monthly AS (
      SELECT year(o_orderdate) * 12 + month(o_orderdate) AS mkey,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ), lim AS (
      SELECT MAX(mkey) AS max_m FROM monthly
    ), folds AS (
      SELECT unnest(range(1, {TSCV_N_FOLDS} + 1)) AS fold
    ), bounds AS (
      -- rolling origin: fold f tests the {TSCV_TEST_MONTHS}-month
      -- block ending (f-1) blocks before the corpus end; training is
      -- everything strictly before the test block
      SELECT fold,
             max_m - ({TSCV_N_FOLDS} - fold + 1) * {TSCV_TEST_MONTHS}
               AS train_end_m
      FROM folds CROSS JOIN lim
    ), cells AS (
      SELECT b.fold, b.train_end_m,
        COALESCE(SUM(CASE WHEN m.mkey <= b.train_end_m
                          THEN m.n_orders END), 0) AS n_train,
        COALESCE(SUM(CASE WHEN m.mkey >  b.train_end_m
                           AND m.mkey <= b.train_end_m
                                         + {TSCV_TEST_MONTHS}
                          THEN m.n_orders END), 0) AS n_test,
        COALESCE(SUM(CASE WHEN m.mkey >  b.train_end_m
                           AND m.mkey <= b.train_end_m
                                         + {TSCV_TEST_MONTHS}
                          THEN m.rev_cents END), 0) AS test_rev_cents
      FROM bounds b CROSS JOIN monthly m
      GROUP BY 1, 2
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(train_end_m AS BIGINT) AS train_end_mkey,
           CAST(n_train AS BIGINT) AS n_train,
           CAST(n_test AS BIGINT) AS n_test,
           CAST(test_rev_cents AS BIGINT) AS test_rev_cents
    FROM cells
    """,
)
def orders_tscv_fold_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin time-series cross-validation fold census
    (Tashman 2000; the temporal twin of `feat_group_kfold_census` —
    GroupKFold guards ENTITY leakage, this guards TEMPORAL leakage):
    {TSCV_N_FOLDS} folds, each testing the {TSCV_TEST_MONTHS}-month
    block after its training cutoff, cutoffs marching backward from
    the corpus end so every fold trains strictly on the past. The
    census reports per-fold train/test sizes and test-block revenue —
    the sanity table read before trusting a backtest (a fold with a
    thin test block invalidates its error estimate).

    Determinism: integer month keys (year·12+month), integer cents;
    fold bounds are pure integer arithmetic off the 1-row max-month
    fold. 100 TB shape: ONE corpus aggregate to the calendar-bounded
    monthly census; the fold×month cross product is
    {TSCV_N_FOLDS}×|months| ≤ a few hundred broadcast-scale rows.
    """
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
            "mkey"
        )
    ).agg(
        F.count("*").alias("n_orders"),
        F.expr(
            "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))"
            " AS BIGINT)"
        ).alias("rev_cents"),
    )
    lim = monthly.agg(F.max("mkey").alias("max_m"))
    folds = spark.range(1, TSCV_N_FOLDS + 1).select(
        F.col("id").alias("fold")
    )
    bounds = folds.crossJoin(F.broadcast(lim)).select(
        "fold",
        (
            F.col("max_m")
            - (TSCV_N_FOLDS - F.col("fold") + 1) * TSCV_TEST_MONTHS
        ).alias("train_end_m"),
    )
    in_test = (F.col("mkey") > F.col("train_end_m")) & (
        F.col("mkey") <= F.col("train_end_m") + TSCV_TEST_MONTHS
    )
    cells = (
        F.broadcast(bounds)
        .crossJoin(monthly)
        .groupBy("fold", "train_end_m")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("mkey") <= F.col("train_end_m"),
                        F.col("n_orders"),
                    )
                ),
                F.lit(0),
            ).alias("n_train"),
            F.coalesce(
                F.sum(F.when(in_test, F.col("n_orders"))), F.lit(0)
            ).alias("n_test"),
            F.coalesce(
                F.sum(F.when(in_test, F.col("rev_cents"))), F.lit(0)
            ).alias("test_rev_cents"),
        )
    )
    return cells.select(
        F.col("fold").cast("long").alias("fold"),
        F.col("train_end_m").cast("long").alias("train_end_mkey"),
        F.col("n_train").cast("long").alias("n_train"),
        F.col("n_test").cast("long").alias("n_test"),
        F.col("test_rev_cents").cast("long").alias("test_rev_cents"),
    )


PERM_TEST_B = 32  # pseudo-permutation replicates


@register(
    "events_permutation_test",
    oracle=f"""
    WITH {_USER_TOTALS_SQL}, spine AS (
      SELECT unnest(range(-1, {PERM_TEST_B})) AS b
    ), assigned AS (
      SELECT s.b,
             CASE WHEN s.b = -1 THEN u.cohort
                  ELSE ('0x' || substr(md5(CAST(u.user_id AS VARCHAR)
                        || ':' || CAST(s.b AS VARCHAR)), 1, 8))::BIGINT
                       % 2 END AS side,
             u.tot
      FROM users u, spine s
    ), sides AS (
      SELECT b, side, COUNT(*) AS n, SUM(tot) AS s
      FROM assigned GROUP BY b, side
    ), diffs AS (
      SELECT b,
             {cohort_pivot_sql("s", side=1)}
               // {cohort_pivot_sql("n", side=1)}
             - {cohort_pivot_sql("s", side=0)}
               // {cohort_pivot_sql("n", side=0)} AS diff
      FROM sides GROUP BY b
    ), obs AS (SELECT diff AS observed FROM diffs WHERE b = -1)
    SELECT CAST((SELECT COUNT(*) FROM users) AS BIGINT) AS n_users,
           CAST(o.observed AS BIGINT) AS observed_diff_micros,
           CAST({PERM_TEST_B} AS BIGINT) AS b_perms,
           CAST(COUNT(*) FILTER (WHERE d.b >= 0
                AND abs(d.diff) >= abs(o.observed)) AS BIGINT)
             AS n_extreme,
           CAST((COUNT(*) FILTER (WHERE d.b >= 0
                 AND abs(d.diff) >= abs(o.observed)) + 1) * 1000000
                // ({PERM_TEST_B} + 1) AS BIGINT) AS p_value_q6
    FROM diffs d, obs o GROUP BY o.observed
    """,
)
def events_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test on the A/B cohort split — the
    distribution-free companion to `events_ab_cohort_compare`'s
    Welch z and `events_ab_sample_size_chebyshev`: is the observed
    per-user mean-value difference between cohorts (``user_id % 2``)
    larger than what {PERM_TEST_B} label-shuffled replicates produce?
    Replicates are PSEUDO-permutations — cohort relabels drawn from
    the md5 stream ``hash(user:b) % 2`` — the deterministic,
    engine-portable restatement of a Monte-Carlo permutation test
    (Fisher randomization with hash randomness; binomial cohort
    sizes, asymptotically equivalent). The p-value uses the standard
    add-one estimator ``(1 + #extreme) / (B + 1)`` in exact integer
    q6; every per-replicate mean is an exact integer division of
    micros, so no double crosses an engine boundary.

    Plan: ONE user-keyed aggregate reduces the corpus to per-user
    totals (:func:`user_totals`, the only corpus-sized shuffle); the
    replicate fan-out multiplies the USER frame — already aggregated —
    by {PERM_TEST_B} + 1 narrow rows whose re-aggregation has map-side
    combine into 2·({PERM_TEST_B} + 1) cells; everything after is a
    bounded-frame fold. At 100 TB the fan-out cost is B× the user
    table, tunable by B, never B× the corpus.

    Per-user totals are exact micro-unit sums: a row must satisfy
    |x| < 9.2e12, or the query raises.
    """
    users = user_totals(table(spark, sf_dir, "events"))
    spine = spark.range(-1, PERM_TEST_B).select(F.col("id").alias("b"))
    assigned = users.crossJoin(F.broadcast(spine)).select(
        "b",
        "tot",
        F.when(F.col("b") == -1, F.col("cohort"))
        .otherwise(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col("user_id").cast("string"),
                            F.col("b").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        )
        .alias("side"),
    )
    sides = assigned.groupBy("b", "side").agg(
        F.count("*").alias("n"), F.sum("tot").alias("s")
    )
    # Each cohort mean is an integer division truncated toward zero,
    # as the oracle's DuckDB // truncates (n is a COUNT, always > 0).
    def _mean_div(side: int) -> str:
        s = cohort_pivot_sql("s", side=side)
        n = cohort_pivot_sql("n", side=side)
        return f"({s}) div ({n})"

    diffs = sides.groupBy("b").agg(
        (F.expr(_mean_div(1)) - F.expr(_mean_div(0))).alias("diff")
    )
    n_users = users.agg(F.count("*").cast("long").alias("n_users"))
    obs = diffs.filter(F.col("b") == -1).select(
        F.col("diff").alias("observed")
    )
    return (
        diffs.crossJoin(F.broadcast(obs))
        .crossJoin(F.broadcast(n_users))
        .groupBy("n_users", "observed")
        .agg(
            F.count(
                F.when(
                    (F.col("b") >= 0)
                    & (F.abs(F.col("diff")) >= F.abs(F.col("observed"))),
                    1,
                )
            ).alias("n_extreme")
        )
        .selectExpr(
            "n_users",
            "CAST(observed AS BIGINT) AS observed_diff_micros",
            f"CAST({PERM_TEST_B} AS BIGINT) AS b_perms",
            "CAST(n_extreme AS BIGINT) AS n_extreme",
            f"CAST((n_extreme + 1) * 1000000 div ({PERM_TEST_B} + 1)"
            " AS BIGINT) AS p_value_q6",
        )
    )


@register(
    "orders_seasonal_decompose_additive",
    oracle=f"""
    WITH monthly AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             {micro_cents_sql(micro_sum_sql("o_totalprice"))} AS y_cents
      FROM orders GROUP BY 1
    ), trended AS (
      SELECT ym, y_cents,
             CASE WHEN COUNT(*) OVER w11 = 11
                   AND LAG(y_cents, 6) OVER wo IS NOT NULL
                   AND LEAD(y_cents, 6) OVER wo IS NOT NULL
                  THEN (2 * SUM(y_cents) OVER w11
                        + LAG(y_cents, 6) OVER wo
                        + LEAD(y_cents, 6) OVER wo) // 24
             END AS trend_cents
      FROM monthly
      WINDOW wo AS (ORDER BY ym),
             w11 AS (ORDER BY ym ROWS BETWEEN 5 PRECEDING
                     AND 5 FOLLOWING)
    ), season_raw AS (
      SELECT ym % 100 AS moy,
             CAST(FLOOR(CAST(SUM(y_cents - trend_cents) AS DOUBLE)
                        / COUNT(*) + 0.5) AS BIGINT) AS s_raw
      FROM trended WHERE trend_cents IS NOT NULL GROUP BY 1
    ), season AS (
      SELECT moy,
             s_raw - CAST(FLOOR(
               (SELECT CAST(SUM(s_raw) AS DOUBLE) / COUNT(*)
                FROM season_raw) + 0.5) AS BIGINT) AS seasonal_cents
      FROM season_raw
    )
    SELECT CAST(t.ym AS BIGINT) AS ym,
           t.y_cents,
           CAST(t.trend_cents AS BIGINT) AS trend_cents,
           CAST(s.seasonal_cents AS BIGINT) AS seasonal_cents,
           CAST(t.y_cents - t.trend_cents - s.seasonal_cents
                AS BIGINT) AS remainder_cents
    FROM trended t JOIN season s ON t.ym % 100 = s.moy
    """,
)
def orders_seasonal_decompose_additive(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical additive seasonal decomposition (the moving-average
    method of Macaulay 1931 — the procedure inside X-11/STL's first
    pass) of monthly revenue: trend = CENTERED 12-month MA with the
    spec's half-weights on the end months (``(y_{t−6} + 2Σ_{t−5..t+5}
    + y_{t+6}) div 24`` — exact integer on positive cents), seasonal
    = per month-of-year mean of the detrended series re-centered to
    sum ≈ 0, remainder = what's left. NULL trend at the 6-month edges
    is the honest contract (a centered window has no value there).
    Complements the forecasting quartet: EWMA/Holt forecast the
    future; this explains the past — the standard first look at
    "is the December spike seasonal or growth?".

    The only mean that can go negative (the seasonal step) rounds via
    ``FLOOR(x + 0.5)`` on DOUBLE — identical cross-engine — because
    integer division of negatives truncates differently across
    engines (Spark ``div`` toward zero, DuckDB ``//`` toward −∞).

    100 TB shape: ONE (year, month) aggregate with map-side combine
    reduces the corpus to the calendar-bounded month spine; every
    window and join after that runs on ≤ ~100 rows (the Holt/Markov
    bounded-model-state pattern). The month windows run on the
    bounded frame with the non-foldable constant partition key.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    orders = table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("ym")
    ).agg(
        micro_cents(micro_sum(F.col("o_totalprice"))).alias("y_cents")
    )
    # bounded month spine: constant-but-non-foldable partition key
    # (see text_vocab_topk) keeps the single partition intended
    pk = F.pmod(F.col("ym"), F.lit(1))
    wo = W.partitionBy(pk).orderBy("ym")
    w11 = (
        W.partitionBy(pk).orderBy("ym").rowsBetween(-5, 5)
    )
    trended = monthly.select(
        "ym",
        "y_cents",
        F.when(
            (F.count("*").over(w11) == 11)
            & F.lag("y_cents", 6).over(wo).isNotNull()
            & F.lead("y_cents", 6).over(wo).isNotNull(),
            F.expr("2") * F.sum("y_cents").over(w11)
            + F.lag("y_cents", 6).over(wo)
            + F.lead("y_cents", 6).over(wo),
        ).alias("trend_num"),
    ).withColumn(
        "trend_cents", F.expr("trend_num div 24").cast("long")
    )
    season_raw = (
        trended.filter(F.col("trend_cents").isNotNull())
        .groupBy((F.col("ym") % 100).alias("moy"))
        .agg(
            F.floor(
                F.sum(F.col("y_cents") - F.col("trend_cents")).cast(
                    "double"
                )
                / F.count("*")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("s_raw")
        )
    )
    s_mean = season_raw.agg(
        F.floor(
            F.sum("s_raw").cast("double") / F.count("*") + F.lit(0.5)
        )
        .cast("long")
        .alias("s_mean")
    )
    season = season_raw.crossJoin(F.broadcast(s_mean)).select(
        "moy", (F.col("s_raw") - F.col("s_mean")).alias("seasonal_cents")
    )
    return (
        trended.join(
            F.broadcast(season), trended["ym"] % 100 == season["moy"]
        )
        .select(
            F.col("ym").cast("long").alias("ym"),
            "y_cents",
            F.col("trend_cents").cast("long").alias("trend_cents"),
            F.col("seasonal_cents").cast("long").alias("seasonal_cents"),
            (
                F.col("y_cents")
                - F.col("trend_cents")
                - F.col("seasonal_cents")
            )
            .cast("long")
            .alias("remainder_cents"),
        )
    )


# Syntetos-Boylan (2005) classification cut-offs as exact rationals:
# ADI = 1.32 = 33/25, CV^2 = 0.49 = 49/100
ADI_CUT_NUM, ADI_CUT_DEN = 33, 25
CV2_CUT_NUM, CV2_CUT_DEN = 49, 100
INTERMIT_MIN_DEMANDS = 3  # parts with fewer demand days are 'sparse'


@register(
    "part_demand_intermittency_census",
    oracle=f"""
    WITH demand AS (
      -- one demand observation per (part, order date): quantity mass
      SELECT l_partkey,
             o.o_orderdate AS d,
             SUM(CAST(l_quantity AS BIGINT)) AS q
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), per_part AS (
      SELECT l_partkey,
             COUNT(*) AS n,
             date_diff('day', MIN(d), MAX(d)) AS span_days,
             SUM(q) AS sq,
             SUM(q * q) AS sq2
      FROM demand GROUP BY 1
    ), classed AS (
      SELECT CASE
        WHEN n < {INTERMIT_MIN_DEMANDS} THEN 'sparse'
        ELSE CASE
          -- ADI > 1.32  <=>  span/(n-1) > 33/25
          --             <=>  span * 25 > (n-1) * 33   (exact ints)
          WHEN span_days * {ADI_CUT_DEN} > (n - 1) * {ADI_CUT_NUM}
          THEN CASE
            -- CV^2 = (n*sq2 - sq^2) / sq^2  > 49/100
            -- <=> (n*sq2 - sq^2) * 100 > sq^2 * 49    (exact ints)
            -- HUGEINT-widened: sq^2*100 passes int64 once a part's
            -- demand mass nears 3e8 units (the 100 TB regime)
            WHEN (CAST(n AS HUGEINT) * sq2 - CAST(sq AS HUGEINT) * sq)
                 * {CV2_CUT_DEN}
                 > CAST(sq AS HUGEINT) * sq * {CV2_CUT_NUM}
            THEN 'lumpy'
            ELSE 'intermittent' END
          ELSE CASE
            WHEN (CAST(n AS HUGEINT) * sq2 - CAST(sq AS HUGEINT) * sq)
                 * {CV2_CUT_DEN}
                 > CAST(sq AS HUGEINT) * sq * {CV2_CUT_NUM}
            THEN 'erratic'
            ELSE 'smooth' END
          END
        END AS demand_class
      FROM per_part
    )
    SELECT demand_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM classed GROUP BY demand_class
    """,
)
def part_demand_intermittency_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Demand-pattern classification census (Syntetos & Boylan 2005's
    refinement of Croston's quadrants): per part, the average
    inter-demand interval ADI = span/(n−1) and the squared
    coefficient of variation of demand sizes CV² split the catalogue
    into smooth / intermittent (long gaps) / erratic (volatile
    sizes) / lumpy (both) — the decision of WHICH forecaster each
    part gets (EWMA/Holt for smooth, Croston-class for
    intermittent). Both cut-offs compare as EXACT integer
    cross-multiplications (ADI > 33/25 ⟺ 25·span > 33·(n−1); CV² >
    49/100 from the raw moments n·Σq² − (Σq)² — population variance,
    stated identically in both engines), so the census is hash-exact
    with no float anywhere. Parts with < {INTERMIT_MIN_DEMANDS}
    demand days class as 'sparse' (ADI/CV² undefined or trivial).

    Plan: one (part, date) aggregate (map-side combine) → one
    part-keyed moment fold → a ≤5-row census. Two shuffles, both
    key-bounded; nothing driver-side.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    demand = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_partkey", F.col("o_orderdate").alias("d"))
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("q"))
    )
    per_part = demand.groupBy("l_partkey").agg(
        F.count("*").alias("n"),
        F.datediff(F.max("d"), F.min("d")).cast("bigint").alias(
            "span_days"
        ),
        F.sum("q").alias("sq"),
        F.sum(F.col("q") * F.col("q")).alias("sq2"),
    )
    classed = per_part.selectExpr(
        f"""CASE
        WHEN n < {INTERMIT_MIN_DEMANDS} THEN 'sparse'
        ELSE CASE
          WHEN span_days * {ADI_CUT_DEN} > (n - 1) * {ADI_CUT_NUM}
          THEN CASE
            WHEN (CAST(n AS DECIMAL(38,0)) * sq2
                  - CAST(sq AS DECIMAL(38,0)) * sq) * {CV2_CUT_DEN}
                 > CAST(sq AS DECIMAL(38,0)) * sq * {CV2_CUT_NUM}
            THEN 'lumpy'
            ELSE 'intermittent' END
          ELSE CASE
            WHEN (CAST(n AS DECIMAL(38,0)) * sq2
                  - CAST(sq AS DECIMAL(38,0)) * sq) * {CV2_CUT_DEN}
                 > CAST(sq AS DECIMAL(38,0)) * sq * {CV2_CUT_NUM}
            THEN 'erratic'
            ELSE 'smooth' END
          END
        END AS demand_class"""
    )
    return classed.groupBy("demand_class").agg(
        F.count("*").cast("long").alias("n_parts")
    )


QTE_PCTS = (25, 50, 75)  # quartile treatment effects


@register(
    "events_ab_quantile_effects",
    oracle=f"""
    WITH cells AS (
      SELECT user_id % 2 AS side,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ), walk AS (
      SELECT side, cents,
             SUM(c) OVER (PARTITION BY side ORDER BY cents) AS cum,
             SUM(c) OVER (PARTITION BY side) AS n
      FROM cells
    ), spine AS (
      SELECT unnest(ARRAY{list(QTE_PCTS)}) AS q_pct
    ), picked AS (
      SELECT s.q_pct, w.side, MIN(w.cents) AS v
      FROM walk w CROSS JOIN spine s
      WHERE w.cum >= (w.n * s.q_pct + 99) // 100
      GROUP BY s.q_pct, w.side
    )
    SELECT CAST(q_pct AS BIGINT) AS q_pct,
           CAST({cohort_pivot_sql("v", side=0)} AS BIGINT) AS control_cents,
           CAST({cohort_pivot_sql("v", side=1)} AS BIGINT) AS treat_cents,
           CAST({cohort_pivot_sql("v", side=1)}
                - {cohort_pivot_sql("v", side=0)} AS BIGINT) AS qte_cents
    FROM picked GROUP BY q_pct
    """,
)
def events_ab_quantile_effects(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects — the distributional complement of
    the mean-difference rows (`events_ab_cohort_compare`, the
    permutation test): per cohort (``user_id % 2``), the EXACT
    25/50/75th-percentile event values and their per-quantile gaps,
    which expose effects the mean hides (a treatment that moves only
    the tail shows qte₇₅ ≫ qte₅₀ ≈ 0).

    Exact order statistics without a corpus sort: values quantize to
    cents, ONE hash aggregate folds the corpus to the (side, cents)
    census (bounded by the value domain), cumulative counts walk that
    census per side, and the q-th value is the minimal cents whose
    cumulative count reaches ``ceil(n·q/100)`` — integer rank
    arithmetic, no interpolation, engine-identical. The 3-row
    quantile spine cross-joins the census walk; output is 3 rows."""
    ev = table(spark, sf_dir, "events")
    cells = (
        ev.select(
            (F.col("user_id") % 2).alias("side"),
            F.expr(
                "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("side", "cents")
        .agg(F.count("*").alias("c"))
    )
    walk = cells.select(
        "side",
        "cents",
        F.sum("c")
        .over(W.partitionBy("side").orderBy("cents"))
        .alias("cum"),
        F.sum("c").over(W.partitionBy("side")).alias("n"),
    )
    spine = spark.createDataFrame(
        [(q,) for q in QTE_PCTS], "q_pct int"
    )
    picked = (
        walk.crossJoin(F.broadcast(spine))
        .filter(F.expr("cum >= (n * q_pct + 99) div 100"))
        .groupBy("q_pct", "side")
        .agg(F.min("cents").alias("v"))
    )
    return (
        picked.groupBy("q_pct")
        .agg(
            cohort_pivot("v", side=0).cast("long").alias("control_cents"),
            cohort_pivot("v", side=1).cast("long").alias("treat_cents"),
        )
        .select(
            F.col("q_pct").cast("long").alias("q_pct"),
            "control_cents",
            "treat_cents",
            (F.col("treat_cents") - F.col("control_cents"))
            .cast("long")
            .alias("qte_cents"),
        )
    )


# z_{0.975} + z_{0.80} in q6 (stdlib statistics.NormalDist.inv_cdf):
# the 5%-two-sided / 80%-power constant of the classical MDE formula
MDE_Z_SUM_Q6 = 2_801_585


# A cohort's sample variance of per-user totals from its moments (one
# SQL text for both engines); a single-user cohort has none: NULL
_MDE_VAR = (
    "CASE WHEN n > 1 THEN CAST(n * s2 - s1 * s1 AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * (n - 1)) END"
)


@register(
    "events_ab_power_mde",
    oracle=f"""
    WITH {_USER_TOTALS_SQL}, moments AS (
      SELECT cohort, COUNT(*) AS n,
             SUM(CAST(tot AS HUGEINT)) AS s1,
             SUM(CAST(tot AS HUGEINT) * tot) AS s2
      FROM users GROUP BY cohort
    ), folded AS (
      SELECT {cohort_pivot_sql("n", cohort=0)} AS n_a,
             {cohort_pivot_sql("n", cohort=1)} AS n_b,
             {cohort_pivot_sql(_MDE_VAR, cohort=0)} AS var_a,
             {cohort_pivot_sql(_MDE_VAR, cohort=1)} AS var_b
      FROM moments
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(FLOOR(sqrt(var_a) + 0.5) AS BIGINT) AS sd_a_micros,
           CAST(FLOOR(sqrt(var_b) + 0.5) AS BIGINT) AS sd_b_micros,
           CAST(FLOOR({MDE_Z_SUM_Q6} * 1e-6
                      * sqrt(var_a / n_a + var_b / n_b) + 0.5)
                AS BIGINT) AS mde_micros
    FROM folded
    """,
)
def events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect for the A/B user-mean comparison at
    α=0.05 (two-sided) / 80% power — the classical normal-approximation
    power analysis (MDE = (z₀.₉₇₅+z₀.₈)·√(σ²_A/n_A + σ²_B/n_B)) that
    complements the distribution-free Chebyshev sizing row: run it
    BEFORE the experiment to know what lift is even observable at the
    current cohort sizes.

    Determinism: per-user totals are exact integer micro-units
    (:func:`user_totals`); per-cohort first/second moments fold in
    HUGEINT/DECIMAL(38,0); the ONLY doubles are the final variance
    divisions, sqrt (correctly-rounded IEEE, identical on identical
    inputs — the hygiene-report precedent), and one FLOOR(·+0.5)
    quantization. A single-user cohort has no sample variance: NULL,
    not a division by zero.
    Plan: one user-keyed aggregate (the only corpus shuffle) → a
    2-cell moment frame → a 1-row fold.

    Per-user totals are exact micro-unit sums: a row must satisfy
    |x| < 9.2e12, or the query raises."""
    moments = user_totals(table(spark, sf_dir, "events")).groupBy(
        "cohort"
    ).agg(
        F.count("*").alias("n"),
        F.expr("SUM(CAST(tot AS DECIMAL(38,0)))").alias("s1"),
        F.expr(
            "SUM(CAST(tot AS DECIMAL(38,0)) * tot)"
        ).alias("s2"),
    )
    return moments.agg(
        cohort_pivot("n", cohort=0).alias("_na"),
        cohort_pivot("n", cohort=1).alias("_nb"),
        cohort_pivot(_MDE_VAR, cohort=0).alias("_va"),
        cohort_pivot(_MDE_VAR, cohort=1).alias("_vb"),
    ).selectExpr(
        "CAST(_na AS BIGINT) AS n_a",
        "CAST(_nb AS BIGINT) AS n_b",
        "CAST(FLOOR(sqrt(_va) + 0.5) AS BIGINT) AS sd_a_micros",
        "CAST(FLOOR(sqrt(_vb) + 0.5) AS BIGINT) AS sd_b_micros",
        f"CAST(FLOOR({MDE_Z_SUM_Q6} * 1e-6"
        " * sqrt(_va / _na + _vb / _nb) + 0.5)"
        " AS BIGINT) AS mde_micros",
    )


SRM_CHI2_CRIT_Q6 = 3_841_459  # χ²₁ at α=0.05 (stdlib NormalDist:
# z₀.₉₇₅² = 1.959964²) in q6 — the standard SRM alarm threshold


@register(
    "events_ab_srm_check",
    oracle=f"""
    WITH sides AS (
      SELECT user_id % 2 AS side, COUNT(DISTINCT user_id) AS n
      FROM events GROUP BY 1
    ), folded AS (
      SELECT COALESCE({cohort_pivot_sql("n", side=0)}, 0) AS n_a,
             COALESCE({cohort_pivot_sql("n", side=1)}, 0) AS n_b
      FROM sides
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           -- for an expected 50/50 split, χ² = (n_a − n_b)² / N
           -- exactly — one integer division, no expected-count double
           CAST(CASE WHEN n_a + n_b > 0 THEN
                ((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b)
                END AS BIGINT) AS chi2_q6,
           CASE WHEN n_a + n_b > 0 THEN
                ((n_a - n_b) * (n_a - n_b) * 1000000) // (n_a + n_b)
                > {SRM_CHI2_CRIT_Q6}
                END AS srm_alarm
    FROM folded
    """,
)
def events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check — the first A/B sanity gate every
    experimentation platform runs: if the realized cohort sizes
    deviate from the designed 50/50 split beyond chance (χ²₁ > 3.84 at
    α=0.05), the assignment itself is broken and every downstream
    metric is suspect. For a 50/50 design the chi-square collapses to
    the EXACT integer form (n_a − n_b)²/N — one q6 integer division,
    no expected-count doubles (non-negative operands, floor ==
    truncate). The hash-based `user_id % 2` split here should never
    alarm; the row exists so a real assignment bug (or a biased
    custom split) trips it.

    Plan: one distinct-user aggregate (the only corpus shuffle) → a
    2-cell frame → a 1-row fold."""
    ev = table(spark, sf_dir, "events")
    sides = ev.select(
        (F.col("user_id") % 2).alias("side"), "user_id"
    ).groupBy("side").agg(
        F.count_distinct("user_id").alias("n")
    )
    return sides.agg(
        F.coalesce(cohort_pivot("n", side=0), F.lit(0)).alias("_na"),
        F.coalesce(cohort_pivot("n", side=1), F.lit(0)).alias("_nb"),
    ).selectExpr(
        "CAST(_na AS BIGINT) AS n_a",
        "CAST(_nb AS BIGINT) AS n_b",
        "CAST(CASE WHEN _na + _nb > 0 THEN"
        " ((_na - _nb) * (_na - _nb) * 1000000) div (_na + _nb)"
        " END AS BIGINT) AS chi2_q6",
        f"CASE WHEN _na + _nb > 0 THEN"
        f" ((_na - _nb) * (_na - _nb) * 1000000) div (_na + _nb)"
        f" > {SRM_CHI2_CRIT_Q6} END AS srm_alarm",
    )


HW_ALPHA = 0.5  # exact binary rationals: every smoothing step is
HW_BETA = 0.25  # ±*/ on doubles, bit-identical across engines
HW_GAMMA = 0.25
HW_PERIOD = 12

# the level-update expression, duplicated textually inside the trend
# and season updates exactly as the Holt-linear oracle does — the
# recursive CTE has no LET binding, and ALL THREE must evaluate the
# same IEEE operation sequence as the Python driver recursion
_HW_LNEW = (
    f"{HW_ALPHA} * (i.y_cents / 100.0 - h.slist[1])"
    f" + {1 - HW_ALPHA} * (h.l + h.b)"
)


@register(
    "orders_holt_winters_seasonal",
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT year(o_orderdate) * 100 + month(o_orderdate) AS ym,
             {micro_cents_sql(micro_sum_sql("o_totalprice"))} AS y_cents
      FROM orders GROUP BY 1
    ), idx AS (
      SELECT ym, y_cents, ROW_NUMBER() OVER (ORDER BY ym) AS t FROM s
    ), nn AS (SELECT COUNT(*) AS n FROM idx),
    init AS (
      SELECT SUM(CASE WHEN t <= {HW_PERIOD} THEN y_cents END) AS c1,
             SUM(CASE WHEN t BETWEEN {HW_PERIOD + 1}
                       AND {2 * HW_PERIOD} THEN y_cents END) AS c2
      FROM idx
    ), seed AS (
      SELECT CAST({HW_PERIOD} AS BIGINT) AS t,
             CAST(NULL AS BIGINT) AS ym,
             CAST(NULL AS BIGINT) AS y_cents,
             i.c1 / {HW_PERIOD * 100}.0 AS l,
             (i.c2 - i.c1) / {HW_PERIOD * HW_PERIOD * 100}.0 AS b,
             (SELECT LIST(x.y_cents / 100.0
                          - i.c1 / {HW_PERIOD * 100}.0 ORDER BY x.t)
                FROM idx x WHERE x.t <= {HW_PERIOD}) AS slist,
             CAST(NULL AS DOUBLE) AS s_cur,
             CAST(NULL AS DOUBLE) AS fc
      FROM init i
    ), h AS (
      SELECT * FROM seed
      UNION ALL
      SELECT i.t, i.ym, i.y_cents,
             {_HW_LNEW} AS l,
             {HW_BETA} * (({_HW_LNEW}) - h.l) + {1 - HW_BETA} * h.b
               AS b,
             list_slice(h.slist, 2, {HW_PERIOD})
               || [{HW_GAMMA} * (i.y_cents / 100.0 - ({_HW_LNEW}))
                   + {1 - HW_GAMMA} * h.slist[1]] AS slist,
             {HW_GAMMA} * (i.y_cents / 100.0 - ({_HW_LNEW}))
               + {1 - HW_GAMMA} * h.slist[1] AS s_cur,
             h.l + h.b + h.slist[1] AS fc
      FROM h JOIN idx i ON i.t = h.t + 1
    )
    SELECT CAST(h.ym AS BIGINT) AS ym,
           h.y_cents,
           CAST(FLOOR(h.l * 100 + 0.5) AS BIGINT) AS level_cents,
           CAST(FLOOR(h.b * 100 + 0.5) AS BIGINT) AS trend_cents,
           CAST(FLOOR(h.s_cur * 100 + 0.5) AS BIGINT) AS season_cents,
           CAST(FLOOR(h.fc * 100 + 0.5) AS BIGINT) AS forecast_cents
    FROM h CROSS JOIN nn
    WHERE h.t > {HW_PERIOD} AND nn.n >= {2 * HW_PERIOD}
    """,
)
def orders_holt_winters_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing over the monthly
    revenue series — the seasonality-aware member of the forecasting
    quartet (EWMA level, Holt linear trend, seasonal-naive MASE
    benchmark; this row adds the explicit seasonal state):
    ``l_t = α(y_t − s_(t−12)) + (1−α)(l_(t−1)+b_(t−1))``,
    ``b_t = β(l_t − l_(t−1)) + (1−β)b_(t−1)``,
    ``s_t = γ(y_t − l_t) + (1−γ)s_(t−12)``, forecast
    ``l_(t−1)+b_(t−1)+s_(t−12)``. α=1/2, β=γ=1/4 — exact binary
    rationals, so every step is ±*/ on doubles and bit-identical
    across engines. Initialization is all-integer first: level =
    year-1 cents sum / 1200, trend = (year-2 − year-1 sums) / 14400,
    seasonals = month − year-1 mean — single-division forms of the
    classical two-year init, NEVER a float AVG whose accumulation
    order could differ. Requires ≥ 24 months (else 0 rows — the
    degenerate-corpus contract); months are dense by construction in
    this corpus (an explicit spine would precede this at ingestion).

    100 TB shape: identical to the Holt-linear row — the corpus-sized
    work is ONE month groupBy with map-side combine; the inherently
    sequential 3-state recursion runs driver-side over the BOUNDED
    month spine (calendar-sized at any corpus scale), with the oracle
    restating it as a recursive CTE carrying the 12-slot seasonal
    list.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises."""
    import math

    orders = table(spark, sf_dir, "orders")
    monthly = (
        orders.groupBy(
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("ym")
        )
        .agg(
            micro_cents(micro_sum(F.col("o_totalprice"))).alias("y_cents")
        )
        .orderBy("ym")
    )
    series = monthly.collect()  # bounded: the month spine
    schema = (
        "ym bigint, y_cents bigint, level_cents bigint,"
        " trend_cents bigint, season_cents bigint,"
        " forecast_cents bigint"
    )
    m = HW_PERIOD
    if len(series) < 2 * m:
        return spark.createDataFrame([], schema)
    c1 = sum(r["y_cents"] for r in series[:m])
    c2 = sum(r["y_cents"] for r in series[m : 2 * m])
    l = c1 / (m * 100.0)
    b = (c2 - c1) / (m * m * 100.0)
    slist = [r["y_cents"] / 100.0 - c1 / (m * 100.0) for r in series[:m]]
    out = []
    for row in series[m:]:
        y = row["y_cents"] / 100.0
        s_old = slist[0]
        fc = l + b + s_old
        l_new = HW_ALPHA * (y - s_old) + (1 - HW_ALPHA) * (l + b)
        b = HW_BETA * (l_new - l) + (1 - HW_BETA) * b
        s_cur = HW_GAMMA * (y - l_new) + (1 - HW_GAMMA) * s_old
        l = l_new
        slist = slist[1:] + [s_cur]
        out.append(
            (
                row["ym"],
                row["y_cents"],
                int(math.floor(l * 100 + 0.5)),
                int(math.floor(b * 100 + 0.5)),
                int(math.floor(s_cur * 100 + 0.5)),
                int(math.floor(fc * 100 + 0.5)),
            )
        )
    return spark.createDataFrame(out, schema)


CROSTON_MAX_EVENTS = 80  # 2^78 ≈ 3e23 ≪ DECIMAL(38,0); EWMA tail
# beyond 80 demand events is < 2⁻⁸⁰ — truncated IDENTICALLY on both
# engines, so parity is exact and the numerics are bounded


@register(
    "part_croston_forecast",
    oracle=f"""
    WITH demand AS (
      SELECT l.l_partkey AS pk,
             year(o.o_orderdate) * 12 + month(o.o_orderdate) AS t,
             CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT))
                  AS BIGINT) AS d
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2 HAVING SUM(l.l_quantity) > 0
    ), recent AS (
      SELECT pk, t, d,
             ROW_NUMBER() OVER (PARTITION BY pk ORDER BY t DESC)
               AS rn_desc
      FROM demand
    ), kept AS (
      SELECT pk, t, d,
             ROW_NUMBER() OVER (PARTITION BY pk ORDER BY t) AS j,
             COUNT(*) OVER (PARTITION BY pk) AS k,
             t - LAG(t) OVER (PARTITION BY pk ORDER BY t) AS gap
      FROM recent WHERE rn_desc <= {CROSTON_MAX_EVENTS}
    ), folds AS (
      SELECT pk, CAST(MAX(k) AS BIGINT) AS n_events,
             CAST(SUM(CAST(d AS HUGEINT) * CASE WHEN j = 1 THEN 1
                  ELSE CAST(POWER(2.0, j - 2) AS HUGEINT) END)
                  AS HUGEINT) AS z_num,
             CAST(POWER(2.0, MAX(k) - 1) AS HUGEINT) AS z_den,
             CAST(SUM(CASE WHEN j < 2 THEN 0
                  WHEN j = 2 THEN CAST(gap AS HUGEINT)
                  ELSE CAST(gap AS HUGEINT)
                       * CAST(POWER(2.0, j - 3) AS HUGEINT) END)
                  AS HUGEINT) AS p_num,
             CAST(POWER(2.0, MAX(k) - 2) AS HUGEINT) AS p_den
      FROM kept GROUP BY pk
    )
    SELECT pk AS p_partkey,
           n_events,
           CAST(z_num * 1000000 // z_den AS BIGINT) AS z_q6,
           CAST(p_num * 1000000 // p_den AS BIGINT) AS p_q6,
           CAST((z_num * 1000000 // z_den) * 1000000
                // (p_num * 1000000 // p_den) AS BIGINT)
             AS croston_forecast_q6,
           CAST(((z_num * 1000000 // z_den) * 1000000
                // (p_num * 1000000 // p_den)) * 3 // 4 AS BIGINT)
             AS sba_forecast_q6
    FROM folds WHERE n_events >= 2
    """,
)
def part_croston_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's method (α=1/2) per part over monthly demand events —
    THE intermittent-demand forecaster, the action arm next to the
    Syntetos-Boylan quadrant census: demand-size EWMA z and
    inter-demand-interval EWMA p update only at demand occurrences;
    the per-period forecast is z/p, and the SBA column applies the
    Syntetos-Boylan (1−α/2) bias correction.

    NO recursion ships to either engine: with dyadic α the EWMA
    recursion collapses to a closed-form WEIGHTED WINDOW FOLD —
    z_K = (d₁ + Σ_{{j≥2}} 2^{{j−2}}·d_j)/2^{{K−1}} and the analogous
    interval fold — exact HUGEINT/DECIMAL(38,0) integers (powers of
    two are exact doubles, cast losslessly), truncated to the last
    {CROSTON_MAX_EVENTS} demand events identically on both engines
    (EWMA tail < 2⁻⁸⁰). Forecasts divide the ALREADY-QUANTIZED q6
    integers, so no float division exists anywhere. Parts with one
    demand event have no interval state and are excluded (classic
    Croston is undefined there).

    Scale: one fact-join groupBy to (part, month) — the shuffle any
    per-SKU rollup pays — then windows PARTITIONED BY part over
    ≤{CROSTON_MAX_EVENTS} calendar-bounded rows each, and a per-part
    fold. State per part is O(1); nothing sequential leaves the
    window frame."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.expr("CAST(FLOOR(l_quantity + 0.5) AS BIGINT)").alias("q"),
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
            "t"
        ),
    )
    demand = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("l_partkey").alias("pk"), "t")
        .agg(F.sum("q").alias("d"))
        .where(F.col("d") > 0)
    )
    recent = demand.withColumn(
        "rn_desc",
        F.row_number().over(
            W.partitionBy("pk").orderBy(F.desc("t"))
        ),
    ).where(F.col("rn_desc") <= CROSTON_MAX_EVENTS)
    kept = recent.select(
        "pk",
        "t",
        "d",
        F.row_number()
        .over(W.partitionBy("pk").orderBy("t"))
        .alias("j"),
        F.count("*").over(W.partitionBy("pk")).alias("k"),
        (
            F.col("t")
            - F.lag("t").over(W.partitionBy("pk").orderBy("t"))
        ).alias("gap"),
    )
    folds = kept.groupBy("pk").agg(
        F.max("k").cast("long").alias("n_events"),
        F.sum(
            F.expr(
                "CAST(d AS DECIMAL(38,0)) * CASE WHEN j = 1 THEN 1"
                " ELSE CAST(POWER(2.0D, j - 2) AS DECIMAL(38,0)) END"
            )
        ).alias("z_num"),
        F.expr(
            "CAST(POWER(2.0D, MAX(k) - 1) AS DECIMAL(38,0))"
        ).alias("z_den"),
        F.sum(
            F.expr(
                "CASE WHEN j < 2 THEN CAST(0 AS DECIMAL(38,0))"
                " WHEN j = 2 THEN CAST(gap AS DECIMAL(38,0))"
                " ELSE CAST(gap AS DECIMAL(38,0))"
                " * CAST(POWER(2.0D, j - 3) AS DECIMAL(38,0)) END"
            )
        ).alias("p_num"),
        F.expr(
            "CAST(POWER(2.0D, MAX(k) - 2) AS DECIMAL(38,0))"
        ).alias("p_den"),
    )
    return (
        folds.where(F.col("n_events") >= 2)
        .select(
            F.col("pk").alias("p_partkey"),
            "n_events",
            F.expr("CAST(z_num * 1000000 div z_den AS BIGINT)").alias(
                "z_q6"
            ),
            F.expr("CAST(p_num * 1000000 div p_den AS BIGINT)").alias(
                "p_q6"
            ),
            F.expr(
                "CAST((z_num * 1000000 div z_den) * 1000000"
                " div (p_num * 1000000 div p_den) AS BIGINT)"
            ).alias("croston_forecast_q6"),
            F.expr(
                "CAST(((z_num * 1000000 div z_den) * 1000000"
                " div (p_num * 1000000 div p_den)) * 3 div 4"
                " AS BIGINT)"
            ).alias("sba_forecast_q6"),
        )
    )


BOT_REGULARITY_MIN_EVENTS = 5  # score users with ≥ 4 inter-event gaps
BOT_CV2_THRESHOLD_Q6 = 10_000  # CV² < 0.01 (CV < 0.1) → metronome


@register(
    "events_bot_regularity_census",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               - LAG(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                   PARTITION BY user_id
                   ORDER BY ts, event_id) AS g
      FROM events
    ), per_user AS (
      SELECT user_id,
             CAST(COUNT(g) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(g AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(g AS HUGEINT) * g) AS HUGEINT) AS q
      FROM gaps GROUP BY user_id
      HAVING COUNT(g) >= {BOT_REGULARITY_MIN_EVENTS - 1}
    ), scored AS (
      SELECT user_id, n_gaps,
             CASE WHEN s = 0 THEN 0
                  ELSE CAST((n_gaps * q - s * s) * 1000000 // (s * s)
                            AS BIGINT) END AS cv2_q6
      FROM per_user
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users_scored,
           CAST(COUNT(*) FILTER (
             WHERE cv2_q6 < {BOT_CV2_THRESHOLD_Q6}) AS BIGINT)
             AS n_bots,
           CAST(CASE WHEN COUNT(*) = 0 THEN 0
                ELSE COUNT(*) FILTER (
                  WHERE cv2_q6 < {BOT_CV2_THRESHOLD_Q6}) * 1000000
                  // COUNT(*) END AS BIGINT) AS bot_share_q6,
           CAST(MIN(cv2_q6) AS BIGINT) AS min_cv2_q6,
           CAST(SUM(n_gaps) AS BIGINT) AS n_gaps_total
    FROM scored
    """,
)
def events_bot_regularity_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bot/automation screen over inter-event timing — the filter a
    training pipeline runs BEFORE user-generated text enters a
    corpus: users whose event gaps are metronome-regular (squared
    coefficient of variation CV² < 0.01 across ≥ 4 gaps) are flagged
    as automation. Humans are bursty (CV² ≳ 1, often lognormal-ish);
    cron jobs and scripts are not.

    Exactness: gaps are integer MICROSECONDS; CV² = (n·Σg² − S²)/S²
    folds exact HUGEINT/DECIMAL(38,0) moments with ONE integer q6
    division per user (numerator ≥ 0 by Cauchy-Schwarz, so no sign
    CASE); the zero-sum degenerate (all events simultaneous) maps to
    CV² = 0 on both engines. Ties inside a user's stream order by
    ``event_id`` so the LAG walk is total-ordered.

    Scale: ONE user-keyed window pass (the shuffle any sessionizer
    pays) producing O(1) moments per user, then a users-sized
    aggregate to a 1-row census. Nothing is quadratic; nothing
    collects."""
    ev = table(spark, sf_dir, "events")
    gaps = ev.select(
        "user_id",
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(
                W.partitionBy("user_id").orderBy("ts", "event_id")
            )
        ).alias("g"),
    )
    per_user = (
        gaps.groupBy("user_id")
        .agg(
            F.count("g").cast("long").alias("n_gaps"),
            F.sum(F.expr("CAST(g AS DECIMAL(38,0))")).alias("s"),
            F.sum(F.expr("CAST(g AS DECIMAL(38,0)) * g")).alias("q"),
        )
        .where(F.col("n_gaps") >= BOT_REGULARITY_MIN_EVENTS - 1)
    )
    scored = per_user.select(
        "n_gaps",
        F.expr(
            "CASE WHEN s = 0 THEN CAST(0 AS BIGINT)"
            " ELSE CAST((n_gaps * q - s * s) * 1000000 div (s * s)"
            " AS BIGINT) END"
        ).alias("cv2_q6"),
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_users_scored"),
        F.count_if(F.col("cv2_q6") < BOT_CV2_THRESHOLD_Q6)
        .cast("long")
        .alias("n_bots"),
        F.expr(
            "CAST(CASE WHEN COUNT(*) = 0 THEN 0"
            f" ELSE COUNT_IF(cv2_q6 < {BOT_CV2_THRESHOLD_Q6})"
            " * 1000000 div COUNT(*) END AS BIGINT)"
        ).alias("bot_share_q6"),
        F.min("cv2_q6").cast("long").alias("min_cv2_q6"),
        F.sum("n_gaps").cast("long").alias("n_gaps_total"),
    )


# Wald SPRT for the click rate: H0 p=0.15 vs H1 p=0.25 at
# α = β = 0.05. Per-trial log-likelihood-ratio increments and the
# acceptance boundaries quantize ONCE to q6 literals (ln of exact
# rationals, computed at import and injected into both engines), so
# the walk is a pure integer cumulative sum.
SPRT_LA_Q6 = 510_826  # round(ln(0.25/0.15)·1e6), per success
SPRT_LB_Q6 = -125_163  # round(ln(0.75/0.85)·1e6), per failure
SPRT_UPPER_Q6 = 2_944_439  # round(ln((1−β)/α)·1e6) → accept H1
SPRT_LOWER_Q6 = -2_944_439  # round(ln(β/(1−α))·1e6) → accept H0


@register(
    "events_sprt_click_rate_walk",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_t,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click')
                  AS BIGINT) AS x_t
      FROM events GROUP BY 1
    ), walk AS (
      SELECT day, n_t, x_t,
             SUM(x_t * {SPRT_LA_Q6}
                 + (n_t - x_t) * ({SPRT_LB_Q6})) OVER (
               ORDER BY day) AS llr_q6,
             ROW_NUMBER() OVER (ORDER BY day) AS t
      FROM daily
    ), crossing AS (
      SELECT t, llr_q6,
             CASE WHEN llr_q6 >= {SPRT_UPPER_Q6} THEN 'h1'
                  ELSE 'h0' END AS side
      FROM walk
      WHERE llr_q6 >= {SPRT_UPPER_Q6} OR llr_q6 <= {SPRT_LOWER_Q6}
      ORDER BY t LIMIT 1
    )
    SELECT CAST((SELECT COUNT(*) FROM walk) AS BIGINT) AS n_days,
           CAST(COALESCE((SELECT MAX(llr_q6) FROM walk
                          WHERE t = (SELECT MAX(t) FROM walk)), 0)
                AS BIGINT) AS final_llr_q6,
           CAST({SPRT_UPPER_Q6} AS BIGINT) AS upper_q6,
           CAST({SPRT_LOWER_Q6} AS BIGINT) AS lower_q6,
           COALESCE((SELECT side FROM crossing), 'none') AS decision,
           CAST(COALESCE((SELECT t FROM crossing), -1) AS BIGINT)
             AS crossing_day,
           CAST(COALESCE((SELECT llr_q6 FROM crossing), 0) AS BIGINT)
             AS crossing_llr_q6
    """,
)
def events_sprt_click_rate_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wald's SPRT over the daily click stream — the sequential test
    that answers "could we have stopped this experiment early":
    H0 p=0.15 vs H1 p=0.25 at α=β=0.05, walking the cumulative
    log-likelihood ratio day by day and reporting the FIRST boundary
    crossing (decision, day index, LLR there) plus the end state.

    Exactness: per-day increments are integer counts times the q6 LLR
    literals (ln of exact rationals, quantized once at import — the
    walk itself is a pure integer cumulative sum); boundaries are q6
    literals of ln(19). No float exists at query time.

    Scale: one map-side-combined daily aggregate; the walk's window
    runs over the CALENDAR-BOUNDED day series (the Holt/spine
    discipline — a cumulative hypothesis test is inherently
    sequential, and its sequence is dates, not data)."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").alias("n_t"),
        F.count_if(F.col("event_type") == "click").alias("x_t"),
    )
    walk = daily.select(
        "day",
        F.sum(
            F.col("x_t") * F.lit(SPRT_LA_Q6)
            + (F.col("n_t") - F.col("x_t")) * F.lit(SPRT_LB_Q6)
        )
        .over(W.orderBy("day").rowsBetween(W.unboundedPreceding, 0))
        .alias("llr_q6"),
        F.row_number().over(W.orderBy("day")).alias("t"),
    )
    crossing = (
        walk.where(
            (F.col("llr_q6") >= SPRT_UPPER_Q6)
            | (F.col("llr_q6") <= SPRT_LOWER_Q6)
        )
        .orderBy("t")
        .limit(1)
        .select(
            F.col("t").alias("c_t"),
            F.col("llr_q6").alias("c_llr"),
            F.when(F.col("llr_q6") >= SPRT_UPPER_Q6, F.lit("h1"))
            .otherwise(F.lit("h0"))
            .alias("c_side"),
        )
    )
    summary = walk.agg(
        F.count("*").cast("long").alias("n_days"),
        F.coalesce(
            F.max_by("llr_q6", "t"), F.lit(0)
        )
        .cast("long")
        .alias("final_llr_q6"),
    )
    return summary.join(F.broadcast(crossing), how="left").select(
        "n_days",
        "final_llr_q6",
        F.lit(SPRT_UPPER_Q6).cast("long").alias("upper_q6"),
        F.lit(SPRT_LOWER_Q6).cast("long").alias("lower_q6"),
        F.coalesce(F.col("c_side"), F.lit("none")).alias("decision"),
        F.coalesce(F.col("c_t"), F.lit(-1))
        .cast("long")
        .alias("crossing_day"),
        F.coalesce(F.col("c_llr"), F.lit(0))
        .cast("long")
        .alias("crossing_llr_q6"),
    )
