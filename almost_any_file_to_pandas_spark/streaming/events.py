"""Event-stream operators over the ``events`` table
(``event_id bigint, ts timestamp, user_id bigint, event_type string,
value double, props string``).

Each operator exists twice with shared expressions:
- a batch query (registered, DuckDB-oracle-checked) — semantics gate;
- a streaming builder (``readStream``-ready) — plumbing, exercised by
  tests with a file source + memory sink.

Scale notes: windowed aggregates carry watermarks so state is bounded;
sessionization uses ``session_window`` (streaming) / lag+cumsum
(batch) — the batch form is the classic gaps-and-islands plan: one
shuffle on user_id, windows sorted within partition.
"""

from __future__ import annotations

import sys

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.plans import (
    SESSION_GAP_MINUTES,
    exact_sum,
    exact_sum_sql,
    from_micro,
    from_micro_sql,
    micro_sum,
    micro_sum_sql,
    micro_units,
    micro_units_sql,
    register,
    table,
    table_wide,
)

# The pandas and Arrow kernels below reference this module's helpers:
# ship them to the Python workers by value, so a worker never has to
# import the package (its path is on the driver's sys.path only).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

WINDOW_MINUTES = 5



@register(
    "events_tumbling_window",
    oracle=f"""
    SELECT
      epoch_us(CAST(time_bucket(INTERVAL '{WINDOW_MINUTES} minutes',
                                CAST(ts AS TIMESTAMP)) AS TIMESTAMP))
        AS window_start_us,
      event_type,
      COUNT(*) AS n_events,
      {exact_sum_sql("value")} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts/sums per event type (batch form).

    ``F.window`` buckets identically to DuckDB ``time_bucket`` for
    epoch-aligned tumbling windows; the window start is emitted as
    INTEGER epoch micros (timezone- and precision-proof — never a
    rendered timestamp).

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{WINDOW_MINUTES} minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_tumbling_window_stream(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """Streaming form: file source → watermark → windowed agg.

    10-minute watermark bounds state; append mode emits a window once
    the watermark passes its end — the standard late-data contract.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", f"{WINDOW_MINUTES} minutes"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


SESSIONIZATION_ORACLE = f"""
    WITH ev_us AS (
      -- normalize to microsecond precision BEFORE any ordering or gap
      -- arithmetic: Spark reads the (possibly nanosecond) parquet ts
      -- truncated to micros, so the oracle must order and diff on the
      -- identical truncated values (no-op on a micros source)
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events
    ), marked AS (
      SELECT user_id, event_id, ts, value,
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  > INTERVAL '{SESSION_GAP_MINUTES} minutes'
             OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM ev_us
    ), sessions AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS session_start_us,
           -- per-row micro-units FLOOR(value*1e6 + 0.5) as BIGINT, THEN
           -- an integer sum: the shared exact-sum recipe
           -- (plans.micro_units), bit-identical across engines
           CAST(SUM({micro_units_sql("value")}) AS BIGINT)
             AS total_value_q6
    FROM sessions
    GROUP BY user_id, session_id
    """


@register("events_sessionization", oracle=SESSIONIZATION_ORACLE)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization (batch form): lag → new-session
    flag → running sum → per-session rollup. One shuffle on user_id;
    both windows share the same partitioning so Spark sorts once.

    Canonicalization-proof outputs (r03 gate hash-fail fix): the
    session start is emitted as INTEGER epoch microseconds, never a
    rendered timestamp — a string-cast timestamp hashes differently
    across engines when the source parquet carries nanosecond
    precision (driver env: DuckDB renders 9 fractional digits, Spark
    truncates to 6). ``CAST(ts AS TIMESTAMP)`` in the oracle truncates
    DuckDB's TIMESTAMP_NS to micros exactly as Spark's ``DIV 1000``
    nanos branch does (plans/__init__.py table()). ``total_value_q6``
    is the integer sum of each row's micro-units, ``FLOOR(value·1e6 +
    0.5)`` as BIGINT — the shared exact-sum recipe
    (:func:`~almost_any_file_to_pandas_spark.plans.micro_units`): pure
    IEEE ×/+ then an integer, bit-identical across engines on any
    double with |value| < 9.2e12, and the query raises on a value
    outside that domain or on NaN, as the oracle does. The integer
    sum is order-independent, and no double ever reaches the hash."""
    ev = table(spark, sf_dir, "events")
    order = W.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond precision to match the oracle's INTERVAL comparison
    # (a cast to long would truncate to seconds)
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(order)
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            gap.isNull() | (gap > SESSION_GAP_MINUTES * 60 * 1_000_000), 1
        ).otherwise(0).alias("is_new"),
    )
    running = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    sessions = marked.withColumn("session_id", F.sum("is_new").over(running))
    return sessions.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.unix_micros(F.min("ts")).alias("session_start_us"),
        F.sum(micro_units(F.col("value"))).alias("total_value_q6"),
    )


def events_session_window_stream(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """Streaming sessionization via native ``session_window`` — state
    merges windows closer than the gap; watermark closes sessions."""
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("total_value"),
        )
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


@register(
    "events_user_activity",
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           {exact_sum_sql("value")} AS total_value,
           epoch_us(CAST(MAX(ts) AS TIMESTAMP)) AS last_seen_us
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) >= 5
    """,
)
def events_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity rollup with a post-aggregation filter —
    the profile-building aggregate; single shuffle on user_id.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            exact_sum(F.col("value")).alias("total_value"),
            F.unix_micros(F.max("ts")).alias("last_seen_us"),
        )
        .filter(F.col("n_events") >= 5)
    )


def events_running_totals_stream(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """Custom stateful streaming operator: per-user running totals
    via ``applyInPandasWithState`` — the extension point for state
    machines Spark's built-in windows can't express (reference has no
    streaming at all, SURVEY §2.9; this is the engine's custom-state
    surface).

    State = (n_events, total_value) per user_id; every micro-batch
    folds its rows into the state and emits the updated running
    totals. State lives in the state store (checkpointed, partitioned
    by the grouping key), so a 1000-executor cluster shards users
    horizontally — the per-group pandas frame is only that user's
    batch slice, never unbounded history.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _update(key, pdfs, state):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
            }
        )

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType="user_id bigint, n_events bigint, total_value double",
            stateStructType="n bigint, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def events_stream_dedup(
    spark: SparkSession, source_dir: str, schema, key: str = "event_id"
) -> DataFrame:
    """Streaming exact dedup on ingest — ``dropDuplicatesWithinWatermark``
    keyed on ``key``: the first arrival wins, re-deliveries within the
    watermark horizon are dropped, and state self-expires past it
    (bounded memory — the non-negotiable property for a continuous
    100 TB ingest; an unwatermarked dropDuplicates would grow state
    forever). The batch twin is ``dedup_exact``.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        [key]
    )


@register(
    "events_sliding_user_value",
    oracle=f"""
    WITH ev_us AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events
    ), slid AS (
      SELECT event_id, user_id, ts,
             {micro_sum_sql("value")} OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
             ) AS value_1h_u
      FROM ev_us
    )
    SELECT event_id, user_id,
           epoch_us(ts) AS ts_us,
           {from_micro_sql("value_1h_u")} AS value_1h
    FROM slid
    """,
)
def events_sliding_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event trailing-1h value sum via a RANGE window frame —
    the rolling-feature shape (fraud scores, rate limits). RANGE
    frames bound by a time interval need no self-join and no explode:
    one shuffle on user_id, one per-partition sort, state bounded by
    the frame. Micro-unit window sums
    (:func:`~almost_any_file_to_pandas_spark.plans.micro_sum`) keep the
    running sums exact and engine-portable; a row must satisfy
    |value| < 9.2e12 (was 1e19), outside it the query raises."""
    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        from_micro(micro_sum(F.col("value")).over(w)).alias("value_1h"),
    )


@register(
    "events_props_json_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           -- all-integer mean over non-null k (house _q6 recipe,
           -- HUGEINT-widened; COUNT(k) matches AVG's null-skip)
           CAST((CAST(SUM(CAST(json_extract_string(props, '$.k')
                             AS BIGINT)) AS HUGEINT) * 1000000)
                // COUNT(json_extract_string(props, '$.k'))
                AS BIGINT) AS avg_k_q6
    FROM events GROUP BY event_type
    """,
)
def events_props_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the ``props`` JSON string
    column with ``from_json`` and aggregate the extracted field — the
    event-telemetry shape (properties bags ship as JSON strings; the
    engine projects typed fields out before the shuffle).

    ``from_json`` with an explicit schema stays JVM-side (Jackson in
    codegen, no Python); extraction happens in the map stage so only
    (event_type, k) longs reach the aggregation shuffle — at 100 TB
    the JSON bodies never move. Malformed JSON yields NULL (PERMISSIVE
    default), which SUM/AVG skip — same NULL semantics as the oracle's
    ``json_extract_string``.
    """
    ev = table(spark, sf_dir, "events")
    k = F.from_json("props", "k bigint")["k"]
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(k).alias("sum_k"),
        (
            (F.sum(k).cast("decimal(38,0)") * 1000000)
            .cast("decimal(38,0)")
        ).alias("_num_k"),
        F.count(k).alias("_den_k"),
    ).select(
        "event_type",
        "n_events",
        "sum_k",
        F.expr("CAST(_num_k div _den_k AS BIGINT)").alias("avg_k_q6"),
    )


@register(
    "events_stream_enrich_batch",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           COUNT(DISTINCT e.user_id) AS n_users,
           {exact_sum_sql("e.value")} AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def events_stream_enrich_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch restatement of :func:`events_stream_enrich` — the
    stream-static enrichment join, stated over the full table so the
    driver hash-checks the join semantics the streaming builder
    applies per micro-batch (stream-static joins ARE stateless: each
    batch evaluates exactly this plan against the static side).

    The static dimension is the customer table keyed by c_custkey =
    user_id; it broadcasts (a dimension stays under the threshold
    relative to a 100 TB event stream), so the fact side never
    shuffles for the join — only the post-enrichment aggregation
    shuffles, on the low-cardinality segment key with map-side
    partials.

    Sums are exact micro-unit sums: a row must satisfy |x| < 9.2e12
    (was 1e19), or the query raises.
    """
    ev = table(spark, sf_dir, "events")
    dim = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("dim_key"), "c_mktsegment"
    )
    return (
        ev.join(F.broadcast(dim), ev.user_id == dim.dim_key)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            exact_sum(F.col("value")).alias("total_value"),
        )
    )


N_UPSERT_BATCHES = 3
REPLAYED_BATCH = 1


@register(
    "events_stream_upsert_batch",
    oracle=f"""
    WITH batched AS (
      SELECT user_id, event_id, event_type, value,
             CAST(ts AS TIMESTAMP) AS ts,
             event_id % {N_UPSERT_BATCHES} AS batch_id FROM events
    ), ranked AS (
      SELECT user_id, event_id, event_type, value, ts, batch_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY batch_id DESC, ts DESC, event_id DESC) AS rn
      FROM batched
    )
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_event_type,
           value AS last_value,
           epoch_us(ts) AS last_ts_us
    FROM ranked WHERE rn = 1
    """,
)
def events_stream_upsert_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch restatement of :func:`events_stream_upsert_sink`'s
    replay-idempotence contract, stated so the driver can hash-check
    it: the event stream is split into deterministic micro-batches
    (batch_id = event_id mod 3), ONE batch is delivered twice (the
    at-least-once failure mode foreachBatch must absorb), and the
    final per-key upsert state is computed over the replayed stream.
    The oracle computes the same state with NO replay — a hash match
    IS the idempotence proof (duplicate delivery changed nothing),
    exactly the guarantee the partition-overwrite sink provides.

    Plan shape: union + ONE hash shuffle on the upsert key for the
    preference window — the same single-shuffle MERGE shape as
    ``orders_merge_changeset``. The replayed side re-scans the source
    only to re-emit the duplicated batch (the batch filter is
    evaluated at its scan, so ~1/3 of rows flow twice); both branches
    then share the single user_id shuffle.
    """
    ev = table(spark, sf_dir, "events").withColumn(
        "batch_id", F.col("event_id") % N_UPSERT_BATCHES
    )
    replayed = ev.unionByName(
        ev.filter(F.col("batch_id") == REPLAYED_BATCH)
    )
    w = W.partitionBy("user_id").orderBy(
        F.desc("batch_id"), F.desc("ts"), F.desc("event_id")
    )
    return (
        replayed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
            F.unix_micros(F.col("ts")).alias("last_ts_us"),
        )
    )


@register(
    "events_stream_redelivery_absorb",
    oracle="""
    SELECT event_id,
           user_id,
           event_type,
           value,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
    FROM events
    """,
)
def events_stream_redelivery_absorb(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch restatement of :func:`events_stream_dedup`'s at-least-
    once absorption contract, hash-checkable by the driver: the
    stream is re-delivered with a duplicated slice (every third
    event arrives twice — the failure mode
    ``dropDuplicatesWithinWatermark`` exists to absorb), then exact
    dedup on the delivery key reduces it back. The oracle reads the
    stream with NO duplication — the hash match proves duplicate
    delivery changed nothing, which is the streaming dedup guarantee
    restated without a watermark clock.

    Plan: union + one hash shuffle on event_id for the dedup
    aggregate (duplicates co-locate; first-arrival-wins is value-
    indistinguishable because re-deliveries are byte-identical).
    """
    ev = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.unix_micros(F.col("ts")).alias("ts_us"),
    )
    redelivered = ev.unionByName(ev.filter(F.col("event_id") % 3 == 0))
    return redelivered.dropDuplicates(["event_id"])


def events_stream_enrich(
    spark: SparkSession, source_dir: str, schema, dim: DataFrame
) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream joins against a static dimension (here: a customer-keyed
    attribute table). Stream-static inner joins are STATELESS — no
    watermark, no join state; the static side is planned per batch
    (and broadcast when small), so at 100 TB of stream the cost is
    only the per-batch broadcast probe. The stateful cousin
    (stream-stream) needs watermarks on both sides; enrichment
    against slowly-changing dimensions belongs on this path.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return stream.join(
        F.broadcast(dim), stream.user_id == dim.dim_key, "inner"
    ).drop("dim_key")


def events_stream_upsert_sink(df: DataFrame, path: str, checkpoint: str):
    """Idempotent micro-batch sink via ``foreachBatch``: every batch
    lands in its own ``batch_id=<n>`` partition directory with
    ``overwrite`` mode, so a REPLAYED batch (failure/restart — Spark's
    at-least-once delivery to foreachBatch) overwrites its own output
    instead of duplicating it: exactly-once *effect* from
    at-least-once delivery, no transactional table format needed.
    Readers see one directory per committed batch; partition pruning
    on batch_id gives incremental consumers their delta for free.
    """

    def _write(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{path}/batch_id={batch_id}")

    return (
        df.writeStream.foreachBatch(_write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


DEDUP_WINDOW_MINUTES = 10  # idempotent-ingest dedup horizon


@register(
    "events_stream_dedup_batch",
    oracle=f"""
    WITH keyed AS (
      SELECT event_type, user_id,
             epoch_us(CAST(ts AS TIMESTAMP))
               // ({DEDUP_WINDOW_MINUTES} * 60 * 1000000) AS win
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT (user_id, win)) AS n_kept,
           COUNT(*) - COUNT(DISTINCT (user_id, win)) AS n_dropped
    FROM keyed
    GROUP BY event_type
    """,
)
def events_stream_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch restatement of watermarked streaming deduplication
    (``dropDuplicatesWithinWatermark`` semantics): an at-least-once
    ingest collapses repeated (user, event_type) deliveries within a
    10-minute horizon to one kept event; the census reports kept vs
    dropped per type — the idempotency monitor a streaming ingest
    publishes. The streaming form keys state by (user, type, window)
    exactly like this batch twin keys its aggregate, so the batch
    counts are the ground truth the stream must converge to.

    Plan: ONE hash aggregate on (type, user, window) — the dedup
    keys — folded to the per-type census; epoch-micros integer
    division gives the window id (no timestamp rendering, the r04
    canonicalization rule). Map-side partials absorb most duplicates
    before the shuffle at 100 TB.
    """
    ev = table(spark, sf_dir, "events")
    win = F.expr(
        f"unix_micros(ts) div ({DEDUP_WINDOW_MINUTES} * 60 * 1000000)"
    )
    kept = (
        ev.select("event_type", "user_id", win.alias("win"))
        .groupBy("event_type", "user_id", "win")
        .agg(F.count("*").alias("n_in_cell"))
        .groupBy("event_type")
        .agg(
            F.sum("n_in_cell").alias("n_events"),
            F.count("*").alias("n_kept"),
            (F.sum("n_in_cell") - F.count("*")).alias("n_dropped"),
        )
    )
    return kept


from almost_any_file_to_pandas_spark.plans import ORACLES as _ORACLES


@register(
    "events_session_stats",
    oracle=f"""
    WITH sess AS (
      SELECT * FROM ({_ORACLES['events_sessionization']}) parent_q
    )
    SELECT COUNT(*) AS n_sessions,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events,
           -- all-integer means (house _q6 recipe, HUGEINT-widened)
           CAST((CAST(SUM(n_events) AS HUGEINT) * 1000000) // COUNT(*)
                AS BIGINT) AS mean_session_events_q6,
           CAST((SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000)
                // COUNT(*) AS BIGINT) AS bounce_rate_q6
    FROM sess
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level session summary over the FROZEN sessionizer:
    session/user counts, the largest session, mean events per session
    and the single-event "bounce" rate — the engagement dashboard row
    computed by composing :func:`events_sessionization` (plan reused
    bit-identically) with one tiny aggregate. Also doubles as another
    standing driver-side exercise of the sessionization lineage.
    """
    sess = events_sessionization(spark, sf_dir)
    return sess.agg(
        F.count("*").alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
        F.expr(
            "CAST(CAST(SUM(n_events) AS DECIMAL(38,0)) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("mean_session_events_q6"),
        F.expr(
            "SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*)"
        ).alias("bounce_rate_q6"),
    )


ERASURE_MOD = 13  # user_id % 13 == 3 plays the deletion list


@register(
    "events_user_erasure_audit",
    oracle=f"""
    WITH kept AS (
      SELECT user_id FROM events WHERE user_id % {ERASURE_MOD} <> 3
    )
    SELECT (SELECT COUNT(*) FROM events) AS n_before,
           (SELECT COUNT(*) FROM kept) AS n_after,
           (SELECT COUNT(*) FROM events) - (SELECT COUNT(*) FROM kept)
             AS n_erased,
           (SELECT COUNT(DISTINCT user_id) FROM events
            WHERE user_id % {ERASURE_MOD} = 3) AS n_users_erased,
           (SELECT COUNT(*) FROM kept
            WHERE user_id % {ERASURE_MOD} = 3) = 0 AS erasure_complete
    """,
)
def events_user_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure compliance audit: apply a deletion list (every
    user with ``user_id % 13 == 3`` stands in for the request queue),
    then PROVE the wipe — before/after row counts, erased-user count,
    and a hash-checked boolean that zero rows for listed users
    survive. The pattern a lakehouse runs after every GDPR/CCPA batch:
    the delete itself is cheap; the audited evidence is the product.

    Plan: one pushed-down predicate scan for the kept side, one
    distinct-aggregate for the listed users — no join; all counts are
    map-side-partial folds over a two-column read.
    """
    ev = table(spark, sf_dir, "events")
    listed = F.col("user_id") % ERASURE_MOD == 3
    kept = ev.filter(~listed)
    before = ev.agg(F.count("*").alias("n_before"))
    after = kept.agg(
        F.count("*").alias("n_after"),
        F.count_if(listed).alias("_leaked"),
    )
    erased = ev.filter(listed).agg(
        F.countDistinct("user_id").alias("n_users_erased")
    )
    return (
        before.crossJoin(after)
        .crossJoin(erased)
        .select(
            "n_before",
            "n_after",
            (F.col("n_before") - F.col("n_after")).alias("n_erased"),
            "n_users_erased",
            (F.col("_leaked") == 0).alias("erasure_complete"),
        )
    )


@register(
    "events_sessionization_incremental",
    oracle=SESSIONIZATION_ORACLE,
)
def events_sessionization_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE sessionization — the same answer as
    :func:`events_sessionization` (it registers the IDENTICAL oracle,
    so the gate pins the equality), computed the way a 100 TB
    backfill or an incremental pipeline must: sessionize each
    (user, DAY) partition independently, then repair the
    midnight-split sessions by running the SAME gap rule once more at
    session granularity.

    Why this is the scale shape: direct sessionization windows over
    (user) — fine until one user's history exceeds a partition. The
    two-level form bounds every ordered window by (user, day); the
    boundary repair then orders only per-day SESSION ROWS (orders of
    magnitude fewer), chaining a day's last session to the next day's
    first when the boundary gap is within the session gap. The chain
    flag-cumsum is sessionization-of-sessions: between two sessions
    there are no events, so the session-level gap rule is exactly the
    event-level rule evaluated at the only places it can fire — which
    is why the merged output equals the direct answer EXACTLY (chain
    ids from the 1-based flag cumsum reproduce the sequential
    session_id; integer q6 value sums reassociate losslessly; min-start
    is associative). This is also the repair step a Structured
    Streaming session store runs on late batches.
    """
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    ev = table(spark, sf_dir, "events")
    tus = F.unix_micros(F.col("ts"))
    # level 1: per-(user, day) independent sessionization
    in_day = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    gap = tus - F.lag(tus).over(in_day)
    marked = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.to_date("ts").alias("day"),
    ).select(
        "*",
        F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0).alias(
            "is_new"
        ),
    )
    day_sessions = (
        marked.withColumn(
            "dsid",
            F.sum("is_new").over(
                in_day.rowsBetween(W.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "day", "dsid")
        .agg(
            F.count("*").alias("n"),
            F.unix_micros(F.min("ts")).alias("first_us"),
            F.unix_micros(F.max("ts")).alias("last_us"),
            # same per-row micro-units as the direct form: integer
            # partials reassociate losslessly across the day/boundary
            # merge
            F.sum(micro_units(F.col("value"))).alias("val_q6"),
        )
    )
    # level 2: the same gap rule over session rows only
    per_user = W.partitionBy("user_id").orderBy("first_us", "last_us")
    bgap = F.col("first_us") - F.lag("last_us").over(per_user)
    chained = day_sessions.withColumn(
        "is_new_chain",
        F.when(bgap.isNull() | (bgap > gap_us), 1).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("is_new_chain").over(
            per_user.rowsBetween(W.unboundedPreceding, 0)
        ),
    )
    return chained.groupBy("user_id", "session_id").agg(
        F.sum("n").cast("long").alias("n_events"),
        F.min("first_us").alias("session_start_us"),
        F.sum("val_q6").cast("long").alias("total_value_q6"),
    )


def events_sessionizer_stateful_stream(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """Stateful streaming sessionizer with EXPLICIT state
    (``applyInPandasWithState``) — the state-machine form of the
    gaps-and-islands rule: per user, state is the one OPEN session
    (start_us, last_us, n); each micro-batch folds its user-slice in
    event order, emitting a session the moment a gap exceeds
    ``SESSION_GAP_MINUTES`` and carrying the still-open tail forward
    in the state store. Closed sessions stream out in append mode —
    the shape a real-time session feed has.

    Contract (pinned by the streaming test): emitted sessions are
    exactly the batch sessionizer's answer minus each user's final
    (still-open) session. Events are assumed in order per user across
    batches — the file source replays in order; for late
    cross-boundary data the repair is the session-granularity merge
    that `events_sessionization_incremental` runs (the same gap rule
    over session rows), applied over the emitted feed.

    Scale: state is O(1) per user (three integers — never buffered
    events), sharded by the grouping key across the cluster's state
    store; each pandas slice is one user's micro-batch rows only.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000
    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _update(key, pdfs, state):
        import pandas as pd

        start, last, n = state.get if state.exists else (None, None, 0)
        out_start, out_n = [], []
        # concat BEFORE sorting: a user's micro-batch rows can span
        # several Arrow chunks, and chunk-local sorts would process
        # them out of time order (diverging from the batch twin,
        # which sorts the whole group)
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"])
            for ts in pdf["ts_us"]:
                t = int(ts)
                if start is None:
                    start, last, n = t, t, 1
                elif t - last > gap_us:
                    out_start.append(start)
                    out_n.append(n)
                    start, last, n = t, t, 1
                else:
                    last, n = t, n + 1
        state.update((start, last, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_start),
                "session_start_us": out_start,
                "n_events": out_n,
            }
        )

    return (
        stream.select(
            "user_id",
            "ts",
            "event_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=(
                "user_id bigint, session_start_us bigint, n_events bigint"
            ),
            stateStructType="start_us bigint, last_us bigint, n bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


STREAM_JOIN_WINDOW_HOURS = 1   # purchase must land within 1h of the view
STREAM_JOIN_WATERMARK = "2 hours"  # state-eviction horizon, both sides


def events_stream_stream_join(
    spark: SparkSession, views_dir: str, purchases_dir: str, schema
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join — the stateful join class
    (vs :func:`events_stream_enrich`'s stateless stream-static kind):
    each view event joins every purchase by the same user landing
    within ``STREAM_JOIN_WINDOW_HOURS`` after it. Both sides carry a
    watermark and the join predicate carries the explicit event-time
    range — the two conditions Spark needs to bound join state: a
    buffered view can be evicted once the purchase-side watermark
    passes ``v_ts + window``, so state is O(events within the
    watermark horizon), not O(stream history).

    At 100 TB/day the state store holds only the horizon's events per
    key — the join never materializes stream history; skewed users
    are bounded by the same horizon. The batch twin (the test pins
    equality) is the same range join over static frames; the asof /
    time-to-convert family covers the oracle-paired batch semantics.
    """
    views = (
        spark.readStream.schema(schema)
        .parquet(views_dir)
        .withWatermark("ts", STREAM_JOIN_WATERMARK)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(purchases_dir)
        .withWatermark("ts", STREAM_JOIN_WATERMARK)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    return views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts"
            f" AND p_ts <= v_ts + interval {STREAM_JOIN_WINDOW_HOURS} hour"
        ),
    ).select("v_user", "view_id", "purchase_id")


HH_CAPACITY = 64  # space-saving counter slots per event_type
HH_TOPK = 10  # rows emitted per type per micro-batch


def events_heavy_hitters_stream(
    spark: SparkSession,
    source_dir: str,
    schema,
    capacity: int = HH_CAPACITY,
    topk: int = HH_TOPK,
) -> DataFrame:
    """Streaming heavy hitters per event_type via the SPACE-SAVING
    sketch (Metwally, Agrawal & El Abbadi 2005) in explicit
    ``applyInPandasWithState`` state: a fixed table of ``capacity``
    (user, count, error) slots per type. A seen user increments its
    slot; an unseen user evicts the MINIMUM-count slot, inheriting
    its count as the overestimate error — the classic guarantees
    follow: every true count is ≤ its estimate ≤ true + N/capacity,
    and any user with true count > N/capacity is IN the table.

    Each micro-batch emits the current top-``topk`` snapshot per type
    in update mode (count desc, then user asc — deterministic), with
    the per-slot error bound alongside so downstream consumers see
    estimate ± error, not a false exact.

    Exactness contract (pinned by test): while ``capacity`` exceeds
    the type's distinct-user count no eviction ever fires, errors
    stay 0, and the stream's final snapshot equals the batch
    groupBy-count top-k EXACTLY; with a tight capacity the
    overestimate bound holds row by row.

    Scale: state is O(capacity) integers per event_type — never
    proportional to users or events; production shards the key to
    (event_type, hash(user) % S) and merges the S sketches (the
    summary is mergeable: sum counts, carry max error) — the same
    rollup discipline as the CMS/HLL batch family.
    """
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _update(key, pdfs, state):
        import pandas as pd

        if state.exists:
            uids, cnts, errs = state.get
            table = {
                u: [c, e] for u, c, e in zip(uids, cnts, errs)
            }
        else:
            table = {}
        # concat before sorting — chunk-local sorts would evict in a
        # chunk-boundary-dependent order (see the sessionizer note)
        chunks = [c for c in pdfs if len(c)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts_us", "event_id"])
            for u in pdf["user_id"]:
                u = int(u)
                if u in table:
                    table[u][0] += 1
                elif len(table) < capacity:
                    table[u] = [1, 0]
                else:
                    # evict the min-count slot (smallest uid on ties
                    # — deterministic across engines and replays)
                    mu = min(table, key=lambda k: (table[k][0], k))
                    mc = table[mu][0]
                    del table[mu]
                    table[u] = [mc + 1, mc]
        items = sorted(table.items())
        state.update((
            [u for u, _ in items],
            [ce[0] for _, ce in items],
            [ce[1] for _, ce in items],
        ))
        top = sorted(table.items(), key=lambda kv: (-kv[1][0], kv[0]))[
            :topk
        ]
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(top),
                "user_id": [u for u, _ in top],
                "est_count": [ce[0] for _, ce in top],
                "err_bound": [ce[1] for _, ce in top],
            }
        )

    return (
        stream.select(
            "event_type",
            "user_id",
            F.unix_micros(F.col("ts")).alias("ts_us"),
            "event_id",
        )
        .groupBy("event_type")
        .applyInPandasWithState(
            _update,
            outputStructType=(
                "event_type string, user_id bigint,"
                " est_count bigint, err_bound bigint"
            ),
            stateStructType=(
                "uids array<bigint>, cnts array<bigint>,"
                " errs array<bigint>"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RL_RATE_PER_HOUR = 2  # token refill rate
RL_BURST = 3  # bucket capacity (tokens)
_RL_MILLI = 1000  # token milli-units (exact integer refill math)
_RL_CAP_MU = RL_BURST * _RL_MILLI
_RL_HOUR_US = 3_600_000_000


def _rate_limit_rows(rows, tok=_RL_CAP_MU, last=None):
    """The shared token-bucket kernel: rows = iterable of (event_id,
    us) IN ORDER for one user, plus the carried state (tokens_milli,
    last_us). Returns (decisions, tok, last) where decisions is a
    list of (event_id, allowed, tokens_milli_after). Exact integer
    arithmetic — per-step refill ``min(cap, tok + dt·rate·milli div
    hour_us)`` — so the batch twin, the streaming operator (which
    passes its stored state back in), and the recursive SQL oracle
    are the SAME state machine, defined once."""
    out = []
    for event_id, us in rows:
        if last is not None:
            dt = us - last
            tok = min(
                _RL_CAP_MU,
                tok + dt * RL_RATE_PER_HOUR * _RL_MILLI // _RL_HOUR_US,
            )
        last = us
        allowed = tok >= _RL_MILLI
        if allowed:
            tok -= _RL_MILLI
        out.append((event_id, allowed, tok))
    return out, tok, last


_RL_ORACLE = f"""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) AS us,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(CAST(ts AS TIMESTAMP)), event_id
             ) AS rn
      FROM events
    ), walk AS (
      SELECT user_id, event_id, us, rn,
             {_RL_CAP_MU} >= {_RL_MILLI} AS allowed,
             {_RL_CAP_MU} - {_RL_MILLI} AS tok
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.us, e.rn,
             LEAST({_RL_CAP_MU},
                   w.tok + (e.us - w.us)
                     * {RL_RATE_PER_HOUR * _RL_MILLI}
                     // {_RL_HOUR_US}) >= {_RL_MILLI},
             CASE WHEN LEAST({_RL_CAP_MU},
                   w.tok + (e.us - w.us)
                     * {RL_RATE_PER_HOUR * _RL_MILLI}
                     // {_RL_HOUR_US}) >= {_RL_MILLI}
                  THEN LEAST({_RL_CAP_MU},
                   w.tok + (e.us - w.us)
                     * {RL_RATE_PER_HOUR * _RL_MILLI}
                     // {_RL_HOUR_US}) - {_RL_MILLI}
                  ELSE LEAST({_RL_CAP_MU},
                   w.tok + (e.us - w.us)
                     * {RL_RATE_PER_HOUR * _RL_MILLI}
                     // {_RL_HOUR_US})
             END
      FROM walk w JOIN ev e
        ON e.user_id = w.user_id AND e.rn = w.rn + 1
    )
    SELECT user_id, event_id, allowed,
           CAST(tok AS BIGINT) AS tokens_milli_after
    FROM walk
"""


@register("events_rate_limit_audit", oracle=_RL_ORACLE)
def events_rate_limit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event token-bucket rate-limit audit ({RL_BURST}-token
    burst, {RL_RATE_PER_HOUR}/hour refill): which events a per-user
    limiter would have admitted — the throttling/abuse-control replay
    a platform runs before turning enforcement on.

    The bucket recursion ``tok' = min(cap, tok + dt·rate) − spend``
    has a min-CLAMP between every step, so no window algebra
    (gaps-and-islands, prefix sums) can express it — this is the
    genuinely-stateful class. It is STILL gate-checkable: the oracle
    unwinds the same integer state machine with a RECURSIVE CTE
    (lockstep over per-user event index), and the engine runs it as
    one ``applyInPandas`` pass per user — the custom-stateful-operator
    extension point, with the per-event decision feed hashed, not
    just summaries.

    Scale: one user-keyed shuffle; per-user state is two integers and
    the kernel streams each user's rows once (cost ∝ events, memory
    ∝ one Arrow batch — tighter than the per-user-group bound the
    ``applyInPandas`` form paid). The streaming twin
    (:func:`events_rate_limiter_stream`) runs the SAME kernel under
    ``applyInPandasWithState``; the test pins equality.

    r9 optimization (guide §4.1/§4.5): ``groupBy(user).applyInPandas``
    materialized one pandas frame per user — tens of thousands of
    per-group constructions and per-group Python calls dominated the
    row kernel. The replay is now ONE ``mapInPandas`` pass over
    hash-partitioned, (user, ts, event_id)-sorted rows: the same
    shuffle, a partition sort instead of a hash-grouping, the SAME
    shared kernel per user run, and bucket state carried across Arrow
    batch boundaries (a user split across batches resumes from the
    carried (tokens, last) pair). Output rows are identical.

    Data contract (r9 ADVICE): ``user_id`` must be non-null — the
    events schema declares it so. A null would coerce the pandas
    column to float64/NaN and NaN != NaN would reset bucket state per
    row, where the old groupBy form treated nulls as one group.
    """
    ev = table(spark, sf_dir, "events")

    def _audit_iter(batches):
        import numpy as np
        import pandas as _pd

        cur_user = None
        tok, last = _RL_CAP_MU, None
        for pdf in batches:
            n = len(pdf)
            if not n:
                continue
            users = pdf["user_id"].to_numpy()
            eids = pdf["event_id"].to_numpy()
            uss = pdf["us"].to_numpy()
            out_allowed = np.empty(n, dtype=bool)
            out_tok = np.empty(n, dtype=np.int64)
            starts = np.flatnonzero(
                np.r_[True, users[1:] != users[:-1]]
            )
            bounds = np.r_[starts, n]
            for s, t in zip(bounds[:-1], bounds[1:]):
                if users[s] != cur_user:
                    cur_user = users[s]
                    tok, last = _RL_CAP_MU, None
                dec, tok, last = _rate_limit_rows(
                    zip(eids[s:t].tolist(), uss[s:t].tolist()),
                    tok,
                    last,
                )
                out_allowed[s:t] = [d[1] for d in dec]
                out_tok[s:t] = [d[2] for d in dec]
            yield _pd.DataFrame(
                {
                    "user_id": users,
                    "event_id": eids,
                    "allowed": out_allowed,
                    "tokens_milli_after": out_tok,
                }
            )

    return (
        ev.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .repartition("user_id")
        .sortWithinPartitions("user_id", "us", "event_id")
        .mapInPandas(
            _audit_iter,
            schema=(
                "user_id bigint, event_id bigint, allowed boolean,"
                " tokens_milli_after bigint"
            ),
        )
    )


def events_rate_limiter_stream(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """Streaming twin of :func:`events_rate_limit_audit`: the same
    integer token-bucket kernel with its two-integer state
    (tokens_milli, last_us) in the state store, emitting the
    per-event decision feed in append mode. State is O(1) per user;
    events are assumed in order per user across batches (the file
    source replays in order — the sessionizer's documented
    contract)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming.state import GroupStateTimeout

    stream = spark.readStream.schema(schema).parquet(source_dir)

    def _update(key, pdfs, state):
        import pandas as pd

        tok, last = (
            state.get if state.exists else (_RL_CAP_MU, None)
        )
        # concat BEFORE sorting (the sessionizer note): a user's
        # micro-batch rows can span Arrow chunks; then run the ONE
        # shared kernel with the stored state carried in
        chunks = [c for c in pdfs if len(c)]
        out = []
        if chunks:
            pdf = pd.concat(chunks).sort_values(["us", "event_id"])
            out, tok, last = _rate_limit_rows(
                zip(pdf["event_id"].tolist(), pdf["us"].tolist()),
                tok,
                last,
            )
        state.update((tok, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out),
                "event_id": [r[0] for r in out],
                "allowed": [r[1] for r in out],
                "tokens_milli_after": [r[2] for r in out],
            }
        )

    return (
        stream.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=(
                "user_id bigint, event_id bigint, allowed boolean,"
                " tokens_milli_after bigint"
            ),
            stateStructType="tok bigint, last_us bigint",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


VIEW_CLICK_JOIN_WINDOW_MIN = 10  # clicks credited to views within 10m
VIEW_CLICK_WATERMARK = "30 minutes"


@register(
    "events_view_click_pairs",
    oracle=f"""
    SELECT v.user_id,
           v.event_id AS view_id,
           c.event_id AS click_id,
           epoch_us(CAST(c.ts AS TIMESTAMP))
             - epoch_us(CAST(v.ts AS TIMESTAMP)) AS lag_us
    FROM events v JOIN events c
      ON c.user_id = v.user_id
     AND c.event_type = 'click'
     AND epoch_us(CAST(c.ts AS TIMESTAMP))
         BETWEEN epoch_us(CAST(v.ts AS TIMESTAMP))
             AND epoch_us(CAST(v.ts AS TIMESTAMP))
                 + {VIEW_CLICK_JOIN_WINDOW_MIN} * 60 * 1000000
    WHERE v.event_type = 'view'
    """,
)
def events_view_click_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL (view, click) pairs per user with the click inside the
    view's {VIEW_CLICK_JOIN_WINDOW_MIN}-minute attribution window —
    the batch twin of :func:`events_view_click_stream_join` (the
    as-of join keeps only the nearest pair; attribution fan-out wants
    every pair). Equi-join on user_id carries the shuffle; the time
    band is a residual join predicate, so per-user fan-out is bounded
    by the user's in-window activity, never by bin replication.
    """
    ev = table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.unix_micros(F.col("ts")).alias("view_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.unix_micros(F.col("ts")).alias("click_us"),
    )
    win_us = VIEW_CLICK_JOIN_WINDOW_MIN * 60 * 1_000_000
    return views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_us") >= F.col("view_us"))
        & (F.col("click_us") <= F.col("view_us") + win_us),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (F.col("click_us") - F.col("view_us")).alias("lag_us"),
    )


def events_view_click_stream_join(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """STREAM-STREAM interval join — the canonical Structured
    Streaming join shape: both sides watermarked
    ({VIEW_CLICK_WATERMARK}), joined on user_id with the click's
    event time range-bounded against the view's. The watermark plus
    the time-range condition is what lets Spark EXPIRE buffered rows
    (a view can stop waiting once the watermark passes its window
    end), so join state is bounded on an unbounded 100 TB stream —
    an un-banded stream-stream join would buffer both sides forever.
    Batch twin (and the correctness semantics):
    :func:`events_view_click_pairs`.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    views = (
        stream.filter(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", VIEW_CLICK_WATERMARK)
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", VIEW_CLICK_WATERMARK)
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("view_ts"))
        & (
            F.col("click_ts")
            <= F.col("view_ts")
            + F.expr(f"INTERVAL {VIEW_CLICK_JOIN_WINDOW_MIN} MINUTES")
        ),
    ).select(
        "user_id",
        "view_id",
        "click_id",
        (
            F.unix_micros(F.col("click_ts"))
            - F.unix_micros(F.col("view_ts"))
        ).alias("lag_us"),
    )


WTOPK_K = 3  # leaders kept per tumbling window


def topk_of_window_counts(counts: DataFrame, k: int = WTOPK_K) -> DataFrame:
    """Per-window top-k rank over a (window_start_us, event_type,
    n_events) counts frame — the ONE ranking kernel shared by the
    batch twin and the streaming sink (test pins stream+helper ==
    batch by construction). The window partitions by window_start, so
    each partition holds ≤ |event types| rows — never a global sort.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy("window_start_us").orderBy(
        F.desc("n_events"), F.asc("event_type")
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


@register(
    "events_windowed_topk",
    oracle=f"""
    WITH c AS (
      SELECT
        epoch_us(CAST(time_bucket(INTERVAL '{WINDOW_MINUTES} minutes',
                                  CAST(ts AS TIMESTAMP)) AS TIMESTAMP))
          AS window_start_us,
        event_type,
        COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT window_start_us, event_type, n_events, rnk FROM (
      SELECT window_start_us, event_type, n_events,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY window_start_us
               ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rnk
      FROM c
    ) WHERE rnk <= {WTOPK_K}
    """,
)
def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tumbling-window event-type leaderboard (top {WTOPK_K} by
    count, type ASC tiebreak) — the trending-now view every event
    pipeline serves, and the windowed-RANKING class the streaming
    section needs a batch anchor for (plain windowed counts are
    ``events_tumbling_window``; heavy hitters rank per TYPE, this
    ranks per WINDOW).

    Plan/scale: one map-side-combined (window, type) count shuffle;
    the rank window partitions by window_start, so every partition is
    ≤ |event types| rows — the global-sort trap never appears. The
    streaming form (:func:`events_windowed_topk_stream`) reuses the
    identical ranking kernel over the streamed counts.
    """
    ev = table(spark, sf_dir, "events")
    counts = (
        ev.groupBy(
            F.window("ts", f"{WINDOW_MINUTES} minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "event_type",
            "n_events",
        )
    )
    return topk_of_window_counts(counts)


def events_windowed_topk_stream(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """Streaming half of :func:`events_windowed_topk`: file source →
    watermark → per-(window, type) stateful counts. Ranking is NOT in
    the stream graph — Structured Streaming cannot rank across a
    window's types until the window closes, so the production shape
    is counts in the stream + :func:`topk_of_window_counts` applied
    per finalized window in the sink (foreachBatch / the serving
    layer), which is exactly what the equality test replays. State is
    O(open windows × types); the 10-minute watermark bounds it.
    """
    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", f"{WINDOW_MINUTES} minutes").alias("w"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


@register(
    "events_session_window_native",
    oracle=f"""
    WITH ev_us AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events
    ), marked AS (
      SELECT user_id, event_id, ts, value,
        -- >= (not >): Spark's session_window is [start, last+gap), so
        -- an event at EXACTLY last+gap opens a NEW session — the
        -- boundary differs from the gaps-and-islands row's strict >
        CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id)
                  >= INTERVAL '{SESSION_GAP_MINUTES} minutes'
             OR LAG(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) IS NULL
             THEN 1 ELSE 0 END AS is_new
      FROM ev_us
    ), sessions AS (
      SELECT user_id, ts, value,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id,
           epoch_us(CAST(MIN(ts) AS TIMESTAMP)) AS session_start_us,
           COUNT(*) AS n_events,
           CAST(SUM({micro_units_sql("value")}) AS BIGINT)
             AS total_value_q6
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def events_session_window_native(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sessionization via Spark's NATIVE ``session_window`` operator —
    the mechanism twin of ``events_sessionization`` (identical gap
    model, different physical strategy): instead of the
    gaps-and-islands lag/prefix-sum windows, the engine's built-in
    merging session aggregate buckets each user's events directly.
    The oracle restates the islands form with ``>=`` at the boundary
    — ``session_window`` is ``[start, last+gap)``, so an event at
    exactly ``last + gap`` opens a NEW session, one boundary tick
    away from the strict-``>`` row (both definitions pinned, the
    difference documented here rather than averaged over).

    100 TB shape: ONE user-keyed shuffle into the session aggregate
    (the same partitioning every per-user operator shares); no rank
    window at all — session merging happens inside the aggregation
    operator, which is also what makes this form STREAMING-READY
    (the stateful sessionizer row uses the same operator under
    ``withWatermark``). Values use the shared per-row micro-unit
    BIGINT sum (:func:`~almost_any_file_to_pandas_spark.plans.micro_units`).
    """
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MINUTES} minutes"),
            "user_id",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(micro_units(F.col("value"))).alias("total_value_q6"),
            F.min("ts").alias("first_ts"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("first_ts")).alias("session_start_us"),
            "n_events",
            "total_value_q6",
        )
    )


def events_rate_limiter_tws_stream(
    spark: SparkSession, source_dir: str, schema
) -> DataFrame:
    """The :func:`events_rate_limiter_stream` kernel on Spark 4's
    ``transformWithStateInPandas`` (SPARK-49564's arbitrary-stateful-
    processing successor to ``applyInPandasWithState``): the SAME
    two-integer token bucket, held in a named ``ValueState`` managed
    by a ``StatefulProcessor`` instead of the legacy GroupState tuple.
    The processor API is where multi-state operators (several value/
    list/map states per key, timers, TTL) land at 100 TB — this twin
    pins that the engine's kernel is API-portable and emits the exact
    batch decision feed (test-asserted against
    ``events_rate_limit_audit``)."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.streaming import StatefulProcessor

    class _RateLimiter(StatefulProcessor):
        def init(self, handle):
            self._bucket = handle.getValueState(
                "bucket", "tok bigint, last_us bigint"
            )

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            stored = self._bucket.get() if self._bucket.exists() else None
            tok, last = stored if stored else (_RL_CAP_MU, None)
            if last is not None and last < 0:
                last = None  # the -1 sentinel (ValueState is non-null)
            chunks = [c for c in rows if len(c)]
            out = []
            if chunks:
                # concat BEFORE sorting (the sessionizer note): a
                # user's micro-batch rows can span Arrow chunks
                pdf = pd.concat(chunks).sort_values(["us", "event_id"])
                out, tok, last = _rate_limit_rows(
                    zip(pdf["event_id"].tolist(), pdf["us"].tolist()),
                    tok,
                    last,
                )
            self._bucket.update((tok, last if last is not None else -1))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "event_id": [r[0] for r in out],
                    "allowed": [r[1] for r in out],
                    "tokens_milli_after": [r[2] for r in out],
                }
            )

        def close(self):
            pass

    stream = spark.readStream.schema(schema).parquet(source_dir)
    return (
        stream.select(
            "user_id",
            "event_id",
            F.unix_micros(F.col("ts")).alias("us"),
        )
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_RateLimiter(),
            outputStructType=(
                "user_id bigint, event_id bigint, allowed boolean,"
                " tokens_milli_after bigint"
            ),
            outputMode="append",
            timeMode="none",
        )
    )
