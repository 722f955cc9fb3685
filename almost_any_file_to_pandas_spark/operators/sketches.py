"""Frequency-sketch monitoring operators over the events stream.

Completes the engine's sketch family — HyperLogLog
(``events_approx_distinct``), Greenwald-Khanna quantiles
(``order_value_approx_percentiles``), Bloom
(``text_contamination_bloom``) — with Count-Min: the heavy-hitter
estimator every high-volume event pipeline runs where an exact
per-key count is too expensive to keep online.

Scale shape: the sketch is an AGGREGATE — each partition folds its
rows into a fixed-width counter grid map-side, partials merge in one
reduce to a single binary value a few hundred KB wide no matter how
many rows went in. Probing is a driver-side loop over the CANDIDATE
set only (here: the exact top-K keys; in production the per-batch
partial top-k feed), which is bounded by construction — the
unbounded thing is the stream, and the stream only ever meets the
map-side fold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.plans import register, table

CMS_EPS = 0.0001  # relative overestimate bound: est ≤ exact + eps·N
CMS_CONFIDENCE = 0.99
CMS_SEED = 42
HH_TOP_K = 20


@register(
    "events_heavy_hitters_cms",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
    ), total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    topk AS (
      SELECT user_id, exact_n FROM counts
      ORDER BY exact_n DESC, user_id LIMIT {HH_TOP_K}
    )
    SELECT t.user_id, t.exact_n,
           TRUE AS never_underestimates,
           TRUE AS within_eps_bound
    FROM topk t CROSS JOIN total
    """,
)
def events_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters with a Count-Min sketch, hash-pinned to its own
    guarantees: for the exact top-K users the sketch estimate must
    (a) never undercount — CMS counters only ever add — and (b) stay
    within ``exact + eps·N`` (the CMS overestimate bound; holds with
    probability ``confidence`` per probe, and deterministically here
    under the fixed seed — verified at sf0.001/0.01/0.1).

    The exact side (groupBy + TakeOrdered top-K) exists only to
    *judge* the sketch at test scale; the sketch path itself is one
    aggregate: map-side fold into the counter grid, one partial
    merge, ~1 MB of state at ANY row count. The driver reads back
    sketch bytes + K candidate keys — both bounded, an index-probe
    pattern, not a data-path collect.
    """
    ev = table(spark, sf_dir, "events")
    agg = ev.agg(
        F.count_min_sketch(
            "user_id", F.lit(CMS_EPS), F.lit(CMS_CONFIDENCE), F.lit(CMS_SEED)
        ).alias("cms"),
        F.count("*").alias("n_total"),
    ).head()
    sketch = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        bytes(agg["cms"])
    )
    slack = max(1, int(CMS_EPS * agg["n_total"]))

    topk = (
        ev.groupBy("user_id")
        .agg(F.count("*").cast("bigint").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(HH_TOP_K)
        .collect()
    )
    rows = [
        (
            r["user_id"],
            r["exact_n"],
            int(est) >= r["exact_n"],
            int(est) <= r["exact_n"] + slack,
        )
        for r in topk
        for est in [sketch.estimateCount(r["user_id"])]
    ]
    return spark.createDataFrame(
        rows,
        "user_id bigint, exact_n bigint, never_underestimates boolean,"
        " within_eps_bound boolean",
    )


SKEW_HOT_RATIO = 2.0  # a key is "hot" above ratio × mean count


@register(
    "events_key_skew_profile",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS max_n,
           -- all-integer mean and ratio (house _q6 recipe,
           -- HUGEINT-widened products)
           CAST((CAST(SUM(n) AS HUGEINT) * 1000000) // COUNT(*)
                AS BIGINT) AS avg_n_q6,
           CAST((CAST(MAX(n) AS HUGEINT) * COUNT(*) * 1000000)
                // SUM(n) AS BIGINT) AS skew_ratio_q6,
           CAST(quantile_disc(n, 0.5) AS BIGINT) AS p50_n,
           CAST(quantile_disc(n, 0.99) AS BIGINT) AS p99_n,
           CAST(COUNT(*) FILTER (
             WHERE n > {SKEW_HOT_RATIO} * (SELECT AVG(n) FROM counts)
           ) AS BIGINT) AS n_hot_keys
    FROM counts
    """,
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics: the distribution of per-key row
    counts for the events partitioning key — the number every salting
    / AQE-skew decision starts from (``events_salted_agg`` is the
    treatment; this is the diagnosis).

    Two aggregates: per-key counts (the only corpus-wide shuffle,
    identical to what any keyed job pays anyway), then a single-row
    summary over |keys| rows — max/avg ratio, exact disc-percentiles
    (over the per-key count column, which is |keys|-sized, never the
    stream), and the hot-key census above ``SKEW_HOT_RATIO×mean``.
    """
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    avg_n = counts.agg(F.avg("n")).head()[0]
    pcts = F.expr("percentile_disc(array(0.5, 0.99)) WITHIN GROUP (ORDER BY n)")
    return counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("n").cast("bigint").alias("n_rows"),
        F.max("n").cast("bigint").alias("max_n"),
        F.expr(
            "CAST(CAST(SUM(n) AS DECIMAL(38,0)) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("avg_n_q6"),
        F.expr(
            "CAST(CAST(MAX(n) AS DECIMAL(38,0)) * COUNT(*) * 1000000"
            " div SUM(n) AS BIGINT)"
        ).alias("skew_ratio_q6"),
        pcts[0].cast("bigint").alias("p50_n"),
        pcts[1].cast("bigint").alias("p99_n"),
        F.count_if(F.col("n") > SKEW_HOT_RATIO * F.lit(avg_n))
        .cast("bigint")
        .alias("n_hot_keys"),
    )


HLL_MERGE_TOL = 0.05  # union-of-daily-sketches estimate vs exact


@register(
    "events_hll_mergeable_rollup",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS week,
             COUNT(DISTINCT user_id) AS exact_users,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT CAST(week AS DATE) AS week_start,
           n_events,
           exact_users,
           TRUE AS merged_within_tol
    FROM weekly
    """,
)
def events_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY — the property the whole pre-aggregated
    cube pattern rests on: per-DAY HLL sketches (Apache DataSketches,
    ``hll_sketch_agg``) are unioned up to per-WEEK estimates
    (``hll_union_agg``) WITHOUT touching raw data again, and the
    emitted boolean claims each weekly estimate lands within ±5% of
    the exact weekly distinct (the oracle pins it TRUE with
    independently computed exact counts — the
    ``events_approx_distinct`` tolerance pattern, applied to MERGED
    rather than directly-built sketches).

    At 100 TB this is how distinct-user dashboards actually run: the
    daily cube stores fixed-size sketch BLOBs once; every coarser
    rollup (week/month/quarter, any ad-hoc date range) is a union of
    those blobs — no re-scan, no re-shuffle of raw events, error
    bounds preserved under union. The exact weekly count rides along
    here as the correctness harness; production keeps only sketches.

    Plan: one (day) aggregate over the corpus builds the daily
    sketches (map-side partial merge — sketch registers combine
    associatively), then a |days|-row union-aggregate per week; the
    exact anchor is the standard two-phase distinct per week.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
    ).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count("*").alias("n_events"),
    )
    merged = daily.groupBy("week_start").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("_est"),
        F.sum("n_events").alias("n_events"),
    )
    exact = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start")
    ).agg(F.count_distinct("user_id").alias("exact_users"))
    tol = F.lit(HLL_MERGE_TOL)
    return (
        merged.join(exact, "week_start")
        .select(
            "week_start",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("_est") - F.col("exact_users"))
                <= tol * F.col("exact_users")
            ).alias("merged_within_tol"),
        )
    )


HLL_OVERLAP_TOL = 0.05  # |est∩ − exact∩| ≤ tol·|exact∪| per pair


@register(
    "events_hll_audience_overlap",
    oracle="""
    WITH per AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS exact_overlap
      FROM per a JOIN per b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    sizes AS (
      SELECT event_type, COUNT(*) AS n_users
      FROM per GROUP BY event_type
    )
    SELECT p.type_a, p.type_b,
           sa.n_users AS exact_a,
           sb.n_users AS exact_b,
           p.exact_overlap,
           TRUE AS overlap_within_tol
    FROM pairs p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    """,
)
def events_hll_audience_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audience overlap from MERGEABLE sketches: for every pair of
    event types, |users(A) ∩ users(B)| estimated by
    inclusion–exclusion over HLL sketches — ``est(A) + est(B) −
    est(A ∪ B)`` where the union estimate comes from ``hll_union`` of
    the two per-type BLOBs, never a re-scan.  The emitted boolean
    claims the estimate lands within ±5% of the exact UNION size of
    the pair (the inclusion–exclusion error scale); the oracle pins
    it TRUE against independently computed exact counts (the
    ``events_hll_mergeable_rollup`` harness pattern).

    At 100 TB this is the segment-overlap dashboard: per-segment
    sketches are built once in one pass (fixed-size registers,
    map-side mergeable); EVERY pairwise overlap — |segments|² of them
    — is then driver-cheap sketch algebra on blobs.  The exact
    anchors here are the correctness harness only: the distinct
    (user, type) pass and its |types|²-bounded self-join would be the
    expensive path production avoids.

    Plan: one aggregate builds per-type sketches + exact distincts;
    the pair frame is a broadcast self-join of |types| rows; the
    exact intersection anchor is one (user_id-keyed) distinct pass
    self-joined per user (bounded by |types|² per user).
    """
    ev = table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk"),
        F.count_distinct("user_id").alias("n_users"),
    )
    a = per_type.select(
        F.col("event_type").alias("type_a"),
        F.col("sk").alias("sk_a"),
        F.col("n_users").alias("exact_a"),
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"),
        F.col("sk").alias("sk_b"),
        F.col("n_users").alias("exact_b"),
    )
    est = (
        a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            "exact_a",
            "exact_b",
            (
                F.expr("hll_sketch_estimate(sk_a)")
                + F.expr("hll_sketch_estimate(sk_b)")
                - F.expr("hll_sketch_estimate(hll_union(sk_a, sk_b))")
            ).alias("_est_overlap"),
        )
    )
    per = ev.select("user_id", "event_type").distinct()
    pa = per.select("user_id", F.col("event_type").alias("type_a"))
    pb = per.select("user_id", F.col("event_type").alias("type_b"))
    exact = (
        pa.join(pb, ["user_id"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("exact_overlap"))
    )
    tol = F.lit(HLL_OVERLAP_TOL)
    union_size = (
        F.col("exact_a") + F.col("exact_b") - F.col("exact_overlap")
    )
    return est.join(exact, ["type_a", "type_b"]).select(
        "type_a",
        "type_b",
        "exact_a",
        "exact_b",
        "exact_overlap",
        (
            F.abs(F.col("_est_overlap") - F.col("exact_overlap"))
            <= tol * union_size
        ).alias("overlap_within_tol"),
    )


SLIDING_HLL_TOL = 0.05  # trailing-7d union estimate vs exact distinct


@register(
    "events_sliding_dau_7d",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day FROM events
    ), membership AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), exact AS (
      SELECT d.day, COUNT(DISTINCT m.user_id) AS exact_users_7d
      FROM days d
      JOIN membership m
        ON m.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      GROUP BY d.day
    )
    SELECT CAST(day AS DATE) AS day, exact_users_7d,
           TRUE AS est_within_tol
    FROM exact
    """,
)
def events_sliding_dau_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day — the metric that CANNOT
    be pre-aggregated exactly (distinct does not sum across days) and
    is therefore THE canonical mergeable-sketch window: per-day HLL
    sketches built once, then ``hll_union_agg`` over a 7-row RANGE
    window on the DAY-level frame.  The emitted boolean claims each
    windowed estimate lands within ±5% of the exact trailing
    distinct; the oracle pins it TRUE with independently computed
    exact counts (the ``events_hll_mergeable_rollup`` harness
    pattern, applied to a SLIDING rather than aligned rollup).

    At 100 TB: the corpus is touched ONCE (one day-keyed aggregate of
    fixed-size registers); every window estimate is sketch algebra
    over ≤7 blobs on a |days|-sized frame.  The exact anchor — the
    (user, day) membership join against the day spine, 7× the
    distinct membership — is the harness-only expensive path.

    Plan: sketch side = one hash aggregate + one day-ordered window
    over |days| rows; exact side = distinct membership (one shuffle)
    range-joined to the broadcast day spine, then a two-phase
    count-distinct per day.
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(user_id, 14)").alias("sk")
    )
    from pyspark.sql import Window as _W

    w7 = (
        _W.orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    est = daily.select(
        "day",
        F.expr("hll_union_agg(sk, true)").over(w7).alias("_usk"),
    ).select("day", F.expr("hll_sketch_estimate(_usk)").alias("_est"))
    membership = ev.select(
        F.to_date("ts").alias("m_day"), "user_id"
    ).distinct()
    spine = daily.select("day")
    exact = (
        membership.join(
            F.broadcast(spine),
            (F.col("m_day") >= F.date_sub(F.col("day"), 6))
            & (F.col("m_day") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.count_distinct("user_id").alias("exact_users_7d"))
    )
    tol = F.lit(SLIDING_HLL_TOL)
    return est.join(exact, "day").select(
        "day",
        "exact_users_7d",
        (
            F.abs(F.col("_est") - F.col("exact_users_7d"))
            <= tol * F.col("exact_users_7d")
        ).alias("est_within_tol"),
    )


HIST_BINS = 128  # fixed global grid for the mergeable quantile cube


@register(
    "events_histogram_quantile_rollup",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE value IS NOT NULL
    ), g AS (
      SELECT MIN(value) AS gmin, MAX(value) AS gmax FROM v
    ), wk AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS week_start, value
      FROM v
    ), ranked AS (
      SELECT week_start, value,
             ROW_NUMBER() OVER (PARTITION BY week_start ORDER BY value)
               AS rn,
             COUNT(*) OVER (PARTITION BY week_start) AS n
      FROM wk
    ), sel AS (
      SELECT week_start, n AS n_values,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med,
             MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN value END) AS p90
      FROM ranked GROUP BY week_start, n
    ), bins AS (
      SELECT s.week_start, s.n_values,
             CASE WHEN g.gmax > g.gmin
                  THEN LEAST({HIST_BINS - 1}, CAST(FLOOR(
                    ((s.med - g.gmin) * {HIST_BINS}) / (g.gmax - g.gmin)
                  ) AS BIGINT)) ELSE 0 END AS median_bin,
             CASE WHEN g.gmax > g.gmin
                  THEN LEAST({HIST_BINS - 1}, CAST(FLOOR(
                    ((s.p90 - g.gmin) * {HIST_BINS}) / (g.gmax - g.gmin)
                  ) AS BIGINT)) ELSE 0 END AS p90_bin,
             g.gmin, g.gmax
      FROM sel s, g
    )
    SELECT week_start, CAST(n_values AS BIGINT) AS n_values,
           median_bin,
           gmin + median_bin * ((gmax - gmin) / {HIST_BINS})
             AS median_lo,
           p90_bin,
           gmin + p90_bin * ((gmax - gmin) / {HIST_BINS}) AS p90_lo
    FROM bins
    """,
)
def events_histogram_quantile_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable QUANTILE cube — the order-statistics sibling of
    `events_hll_mergeable_rollup`: per-day histogram partials on one
    fixed global grid merge into per-week histograms by pure count
    addition (no raw-data re-scan), and each week's median / p90 bin
    falls out of the 128-row cumulative walk. Bin-level answers from
    the merged cube are EXACT, not approximate: a histogram on a
    shared grid is itself a mergeable sketch whose rank queries are
    correct to bin resolution, so the engine's cube-derived bin must
    EQUAL the oracle's bin-of-exact-quantile — the equality (not a
    tolerance flag) is what the gate hashes.

    At 100 TB: the daily cube stores 128 counters per day — any
    ad-hoc date-range quantile is a counter sum over the range plus a
    128-row walk, never a re-sort of raw values. Grid min/max come
    from one exact corpus aggregate (broadcast scalar); a production
    deployment would version the grid with the cube.

    Lower-rank convention: median = value at rank ``(n+1) div 2``,
    p90 at ``(9n+9) div 10`` (ceil), both 1-based — rank selection,
    no two-value averaging, so the quantile is a DATA value and the
    bin equality is exact.
    """
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("ts", "value")
    )
    g = ev.agg(F.min("value").alias("gmin"), F.max("value").alias("gmax"))
    binned = ev.crossJoin(F.broadcast(g)).select(
        F.to_date("ts").alias("day"),
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
        F.when(
            F.col("gmax") > F.col("gmin"),
            F.least(
                F.lit(HIST_BINS - 1),
                F.floor(
                    ((F.col("value") - F.col("gmin")) * HIST_BINS)
                    / (F.col("gmax") - F.col("gmin"))
                ),
            ),
        )
        .otherwise(0)
        .alias("bin"),
    )
    # the daily cube (what production would persist) ...
    daily = binned.groupBy("week_start", "day", "bin").agg(
        F.count("*").alias("c")
    )
    # ... merged to weeks by counter addition alone
    weekly = daily.groupBy("week_start", "bin").agg(
        F.sum("c").alias("c")
    )
    w_week = W.partitionBy("week_start")
    walk = weekly.select(
        "week_start",
        "bin",
        F.sum("c").over(w_week).alias("n_values"),
        F.sum("c")
        .over(w_week.orderBy("bin").rowsBetween(W.unboundedPreceding, 0))
        .alias("cum"),
    )
    med = (
        walk.filter(F.col("cum") >= F.expr("(n_values + 1) div 2"))
        .groupBy("week_start", "n_values")
        .agg(F.min("bin").alias("median_bin"))
    )
    p90 = (
        walk.filter(F.col("cum") >= F.expr("(9 * n_values + 9) div 10"))
        .groupBy("week_start")
        .agg(F.min("bin").alias("p90_bin"))
    )
    return (
        med.join(p90, "week_start")
        .crossJoin(F.broadcast(g))
        .select(
            "week_start",
            F.col("n_values").cast("long").alias("n_values"),
            "median_bin",
            (
                F.col("gmin")
                + F.col("median_bin")
                * ((F.col("gmax") - F.col("gmin")) / HIST_BINS)
            ).alias("median_lo"),
            "p90_bin",
            (
                F.col("gmin")
                + F.col("p90_bin")
                * ((F.col("gmax") - F.col("gmin")) / HIST_BINS)
            ).alias("p90_lo"),
        )
    )


BITMAP_WORD = 32  # ids per bitmap word (shift stays < 63: no overflow)


@register(
    "events_bitmap_distinct_rollup",
    oracle="""
    WITH weekly AS (
      SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
               AS week_start,
             COUNT(DISTINCT user_id) AS distinct_users,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT week_start, CAST(n_events AS BIGINT) AS n_events,
           CAST(distinct_users AS BIGINT) AS distinct_users
    FROM weekly
    """,
)
def events_bitmap_distinct_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT mergeable distinct-count cube — the bitmap-index sibling
    of `events_hll_mergeable_rollup`: per-day bitmap partials (word =
    ``user_id div 32``, bit = ``user_id mod 32``) merge to per-week
    bitmaps by pure ``bit_or``, and the weekly distinct count is
    ``Σ bit_count(word)`` — no approximation, no tolerance flag; the
    oracle's plain COUNT(DISTINCT) must equal it, which is what the
    gate hashes.

    This is the roaring-bitmap architecture compiled to built-in
    aggregates: where HLL gives fixed 16 KiB state and ±2% error,
    the bitmap cube gives EXACT answers with state proportional to
    ``|id domain| / 32`` words per day — the right trade when the id
    space is dense integers (user ids, row ids), which is why OLAP
    stores keep both. Any ad-hoc date-range distinct is a bit_or over
    the range's day rows, never a re-scan of raw events.

    Plan: one (day, word)-keyed aggregate with map-side partial
    bit_or (associative, so partials combine on the map side like
    any sum), then a (week, word) bit_or merge and a per-week
    bit_count sum. Every value is a plain BIGINT — no UDF, no binary
    blob; the 32-bit word keeps every shift strictly below the sign
    bit on both engines (DuckDB RAISES on 1<<63 where Spark wraps —
    the cross-engine portability trap this constant dodges).
    """
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week_start"),
        F.to_date("ts").alias("day"),
        # sign-safe word/bit split: pmod keeps the bit in [0, 32) and
        # the matching floor-division word for ANY integer id, where
        # `div` + `%` truncate toward zero and would collide negative
        # ids with positive ones (ids here are non-negative, but the
        # oracle's COUNT(DISTINCT) is total — so the engine is too)
        F.expr(
            f"(user_id - pmod(user_id, {BITMAP_WORD}))"
            f" div {BITMAP_WORD}"
        ).alias("word"),
    ).agg(
        F.expr(
            f"bit_or(shiftleft(CAST(1 AS BIGINT), "
            f"CAST(pmod(user_id, {BITMAP_WORD}) AS INT)))"
        ).alias("bits"),
        F.count("*").alias("n_events"),
    )
    weekly = daily.groupBy("week_start", "word").agg(
        F.expr("bit_or(bits)").alias("bits"),
        F.sum("n_events").alias("n_events"),
    )
    return weekly.groupBy("week_start").agg(
        F.sum("n_events").cast("long").alias("n_events"),
        F.sum(F.bit_count("bits")).cast("long").alias("distinct_users"),
    )


SALT_FACTOR_CURVE = (1, 2, 4, 8, 16)


@register(
    "events_salt_factor_curve",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_rows
      FROM counts
    ), pts AS (
      SELECT s.salt,
             COALESCE(MAX((n + s.salt - 1) // s.salt), 0) AS max_subkey
      FROM (VALUES {', '.join(f'({v})' for v in SALT_FACTOR_CURVE)})
           s(salt)
      LEFT JOIN counts ON TRUE
      GROUP BY s.salt
    )
    SELECT CAST(p.salt AS BIGINT) AS salt,
           CAST(p.max_subkey AS BIGINT) AS max_subkey_rows,
           CAST(CASE WHEN t.n_rows = 0 THEN 0
                ELSE CAST(p.max_subkey AS HUGEINT) * t.n_keys * p.salt
                     * 1000000 // t.n_rows
                END AS BIGINT) AS residual_skew_q6
    FROM pts p, tot t
    """,
)
def events_salt_factor_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting-factor tuning curve — the treatment knob for the skew
    ``events_key_skew_profile`` diagnoses: for each candidate salt
    (1/2/4/8/16 sub-keys per key), the heaviest post-salt reducer
    load (the hottest key's rows split as evenly as a modular salt
    can) and the residual skew ratio vs a uniform spread over
    keys×salt reducers (q6). Salting divides the hot key's ceiling by
    s at the cost of an s-way fan-out on the other join side — this
    row prices that trade before a job commits to it, from the SAME
    per-key counts any keyed job computes anyway.

    Plan: ONE corpus shuffle (the per-key count), then a broadcast
    5-row sweep with map-side aggregation over |keys| rows; integer
    ceiling division and DECIMAL-widened ratio products (the house
    skew-profile recipe).
    """
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    tot = counts.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows"),
    )
    salts = spark.createDataFrame(
        [(v,) for v in SALT_FACTOR_CURVE], "salt long"
    )
    pts = (
        counts.crossJoin(F.broadcast(salts))
        .groupBy("salt")
        .agg(
            F.max(F.expr("(n + salt - 1) div salt")).alias("max_subkey")
        )
    )
    pts = salts.join(pts, "salt", "left").select(
        "salt", F.coalesce("max_subkey", F.lit(0)).alias("max_subkey")
    )
    return pts.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(salt AS BIGINT) AS salt",
        "CAST(max_subkey AS BIGINT) AS max_subkey_rows",
        "CAST(CASE WHEN n_rows = 0 THEN 0"
        " ELSE CAST(max_subkey AS DECIMAL(38,0)) * n_keys * salt"
        " * 1000000 div n_rows END AS BIGINT) AS residual_skew_q6",
    )


CS_DEPTH = 5  # odd, so the median row is exact
CS_WIDTH = 1024
CS_TOP_K = 20

# identical md5 lattice on both engines (the feat_negative_samples
# pair-hash idiom): bucket and sign derive from disjoint salts
_CS_BUCKET_DUCK = (
    "(('0x' || substr(md5('b' || j || ':' || user_id), 1, 8))::BIGINT"
    f" % {CS_WIDTH})"
)
_CS_SIGN_DUCK = (
    "(CASE WHEN ('0x' || substr(md5('s' || j || ':' || user_id), 1, 8))"
    "::BIGINT % 2 = 0 THEN 1 ELSE -1 END)"
)
_CS_BUCKET_SPARK = (
    "CAST(conv(substring(md5(concat('b', CAST(j AS STRING), ':',"
    " CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT)"
    f" % {CS_WIDTH}"
)
_CS_SIGN_SPARK = (
    "CASE WHEN CAST(conv(substring(md5(concat('s', CAST(j AS STRING),"
    " ':', CAST(user_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2 = 0"
    " THEN 1 ELSE -1 END"
)


@register(
    "events_heavy_hitters_countsketch",
    oracle=f"""
    WITH counts AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS f
      FROM events GROUP BY user_id
    ), depth AS (
      SELECT CAST(UNNEST(range({CS_DEPTH})) AS BIGINT) AS j
    ), keyrows AS (
      SELECT user_id, f, j,
             {_CS_BUCKET_DUCK} AS bucket,
             {_CS_SIGN_DUCK} AS sign
      FROM counts CROSS JOIN depth
    ), sketch AS (
      SELECT j, bucket,
             CAST(SUM(CAST(sign AS HUGEINT) * f) AS BIGINT) AS cell
      FROM keyrows GROUP BY j, bucket
    ), l2 AS (
      SELECT CAST(SUM(CAST(f AS HUGEINT) * f) AS HUGEINT) AS sf2
      FROM counts
    ), topk AS (
      SELECT user_id, f FROM counts
      ORDER BY f DESC, user_id LIMIT {CS_TOP_K}
    ), probes AS (
      SELECT t.user_id, t.f, k.j,
             k.sign * s.cell AS est
      FROM topk t
      JOIN keyrows k ON k.user_id = t.user_id
      JOIN sketch s ON s.j = k.j AND s.bucket = k.bucket
    ), med AS (
      SELECT user_id, f, est,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY est, j) AS rn
      FROM probes
    )
    SELECT m.user_id,
           m.f AS exact_n,
           CAST(m.est AS BIGINT) AS cs_estimate,
           CAST(ABS(m.est - m.f) AS BIGINT) AS abs_err,
           ABS(m.est - m.f) <= FLOOR(
             3 * sqrt(CAST(l.sf2 AS DOUBLE) / {CS_WIDTH})
           ) AS within_l2_bound
    FROM med m CROSS JOIN l2 l
    WHERE m.rn = {(CS_DEPTH + 1) // 2}
    """,
)
def events_heavy_hitters_countsketch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-Sketch (Charikar-Chen-Farach-Colton) heavy-hitter
    estimates for the exact top-{CS_TOP_K} users, with the L2 error
    guarantee asserted: the median of {CS_DEPTH} signed-counter probes
    must land within 3·sqrt(Σf²/{CS_WIDTH}) of the exact count
    (Chebyshev on the per-row variance bound Σf²/w; deterministic
    here under the fixed hash lattice — verified at all test SFs).
    The signed median is UNBIASED, unlike CMS's always-over
    estimates — the reason pipelines pair the two.

    Exactness/scale: Count-Sketch is LINEAR in the frequency vector,
    so the counter grid built from the per-key count frame is
    cell-for-cell identical to a streaming per-event fold — the
    engine builds it with one corpus-keyed aggregate (the shuffle any
    keyed job pays) plus a ({CS_DEPTH}×{CS_WIDTH})-cell grid
    aggregate; probing touches the K candidate keys only. Median
    picked by row_number at rank {(CS_DEPTH + 1) // 2} (tie-broken by
    probe row), never a percentile builtin whose tie convention could
    differ across engines. Folds are HUGEINT/DECIMAL(38,0); the only
    double is the final sqrt bound (correctly-rounded IEEE op on an
    exact integer input — bit-stable on both)."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count("*").cast("long").alias("f")
    )
    depth = spark.range(CS_DEPTH).select(F.col("id").alias("j"))
    keyrows = counts.crossJoin(F.broadcast(depth)).select(
        "user_id",
        "f",
        "j",
        F.expr(_CS_BUCKET_SPARK).alias("bucket"),
        F.expr(_CS_SIGN_SPARK).alias("sign"),
    )
    sketch = keyrows.groupBy("j", "bucket").agg(
        F.expr(
            "CAST(SUM(CAST(sign AS DECIMAL(38,0)) * f) AS BIGINT)"
        ).alias("cell")
    )
    l2 = counts.agg(
        F.sum(F.expr("CAST(f AS DECIMAL(38,0)) * f")).alias("sf2")
    )
    topk = counts.orderBy(F.desc("f"), F.asc("user_id")).limit(
        CS_TOP_K
    )
    probes = (
        topk.select("user_id", "f")
        .join(
            keyrows.select("user_id", "j", "bucket", "sign"),
            "user_id",
        )
        .join(F.broadcast(sketch), ["j", "bucket"])
        .select(
            "user_id",
            "f",
            "j",
            (F.col("sign") * F.col("cell")).alias("est"),
        )
    )
    med = probes.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("user_id").orderBy("est", "j")
        ),
    ).where(F.col("rn") == (CS_DEPTH + 1) // 2)
    return med.crossJoin(F.broadcast(l2)).select(
        "user_id",
        F.col("f").alias("exact_n"),
        F.col("est").cast("long").alias("cs_estimate"),
        F.expr("CAST(ABS(est - f) AS BIGINT)").alias("abs_err"),
        F.expr(
            "ABS(est - f) <= FLOOR(3 * sqrt(CAST(sf2 AS DOUBLE)"
            f" / {CS_WIDTH}))"
        ).alias("within_l2_bound"),
    )
