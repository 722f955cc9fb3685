"""Rule-based corpus quality filtering (Gopher/C4-style heuristics).

The reference repo has no text analytics (its surface ends at
file→DataFrame, SURVEY §2); this module is part of the LLM-pipeline
extension surface: the deterministic document-quality rule set every
large-scale pretraining pipeline runs before (or instead of) a model
scorer — the Gopher paper's repetition/format rules and C4's line
heuristics, restated as pure column expressions.

Why this shape at 100 TB: every metric below is a per-row expression
over ``text`` — no shuffle, no UDF, no state. The whole filter is one
narrow projection stage directly over the scan (the higher-order
lambdas are interpreted JVM expressions, so they sit outside the
codegen span but inside the same task), so its cluster cost is
essentially the scan cost; the boolean ``keep`` lands in the same
stage. Contrast with a model-based quality scorer (an Arrow-batched
Pandas UDF here, `text_unigram_freq_score`): rules run first
precisely because they're free.

Both engines compute keep-decisions from the ROUNDED metric values
(the `events_anomaly_zscore` pattern), so boundary documents cut on
the identical value in Spark and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import register, table

# Gopher-flavored bounds, tuned so the synthetic corpus genuinely
# splits (the word-count floor is the binding rule on testdata's
# 10–110-word documents; the format rules are exercised but pass on
# its single-line, punctuation-free text — on a real crawl they bind).
MIN_WORDS = 50
MAX_WORDS = 100_000
MEAN_WORD_LEN_MIN = 3.0
MEAN_WORD_LEN_MAX = 10.0
ALPHA_WORD_FRAC_MIN = 0.80
MIN_DISTINCT_STOPWORDS = 2
SYMBOL_RATIO_MAX = 0.10
BULLET_LINE_FRAC_MAX = 0.90
ELLIPSIS_LINE_FRAC_MAX = 0.30

# Gopher's stopword-presence list (+ 'a'/'in', which the synthetic
# vocabulary actually contains) — DISTINCT hits, via array_intersect.
STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

_STOP_SQL = ", ".join(f"'{w}'" for w in STOPWORDS)

GOPHER_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, text,
             string_split(text, ' ') AS words,
             string_split(text, chr(10)) AS lines
      FROM documents
    ), m AS (
      SELECT doc_id,
        CAST(len(words) AS BIGINT) AS n_words,
        ROUND(list_sum(list_transform(words, w -> length(w)))
              / CAST(len(words) AS DOUBLE), 6) AS mean_word_len,
        ROUND(len(list_filter(words, w -> regexp_matches(w, '[a-z]')))
              / CAST(len(words) AS DOUBLE), 6) AS alpha_word_frac,
        CAST(len(list_intersect(words, [{_STOP_SQL}])) AS BIGINT)
          AS n_stopwords,
        ROUND(((length(text) - length(replace(text, '#', '')))
               + (length(text) - length(replace(text, '…', ''))))
              / CAST(len(words) AS DOUBLE), 6) AS symbol_ratio,
        ROUND(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))
              / CAST(len(lines) AS DOUBLE), 6) AS bullet_line_frac,
        ROUND(len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)$')))
              / CAST(len(lines) AS DOUBLE), 6) AS ellipsis_line_frac
      FROM d
    )
    SELECT *,
           (n_words BETWEEN {MIN_WORDS} AND {MAX_WORDS})
           AND (mean_word_len BETWEEN {MEAN_WORD_LEN_MIN}
                                  AND {MEAN_WORD_LEN_MAX})
           AND alpha_word_frac >= {ALPHA_WORD_FRAC_MIN}
           AND n_stopwords >= {MIN_DISTINCT_STOPWORDS}
           AND symbol_ratio <= {SYMBOL_RATIO_MAX}
           AND bullet_line_frac <= {BULLET_LINE_FRAC_MAX}
           AND ellipsis_line_frac <= {ELLIPSIS_LINE_FRAC_MAX}
           AS keep
    FROM m
    """


@register("text_gopher_quality_rules", oracle=GOPHER_ORACLE)
def text_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher/C4 rule metrics + the combined ``keep``
    verdict: word-count bounds, mean word length, alphabetic-word
    fraction, distinct-stopword floor, symbol ratio (``#``/``…`` per
    word), bullet-started and ellipsis-ended line fractions.

    All eight metrics are JVM column expressions (higher-order
    ``transform``/``filter``/``aggregate`` over the split arrays —
    no Python anywhere), so the filter fuses into the parquet scan:
    zero shuffles, zero exchanges, one codegen stage.
    """
    docs = table(spark, sf_dir, "documents")

    words = F.split(F.col("text"), " ", -1)
    lines = F.split(F.col("text"), "\n", -1)
    n_words = F.size(words).cast("bigint")
    n_words_d = n_words.cast("double")
    n_lines_d = F.size(lines).cast("double")

    word_chars = F.aggregate(
        F.transform(words, lambda w: F.length(w).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-z]")))
    n_stop = F.size(
        F.array_intersect(words, F.array(*[F.lit(w) for w in STOPWORDS]))
    ).cast("bigint")
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#")))
    n_ellip = F.length("text") - F.length(
        F.replace(F.col("text"), F.lit("…"))
    )
    n_bullet_lines = F.size(F.filter(lines, lambda l: l.rlike("^[-*•]")))
    n_ellip_lines = F.size(
        F.filter(lines, lambda l: l.rlike("(\\.\\.\\.|…)$"))
    )

    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        F.round(word_chars / n_words_d, 6).alias("mean_word_len"),
        F.round(n_alpha / n_words_d, 6).alias("alpha_word_frac"),
        n_stop.alias("n_stopwords"),
        F.round((n_hash + n_ellip) / n_words_d, 6).alias("symbol_ratio"),
        F.round(n_bullet_lines / n_lines_d, 6).alias("bullet_line_frac"),
        F.round(n_ellip_lines / n_lines_d, 6).alias("ellipsis_line_frac"),
    )
    keep = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & F.col("mean_word_len").between(MEAN_WORD_LEN_MIN, MEAN_WORD_LEN_MAX)
        & (F.col("alpha_word_frac") >= ALPHA_WORD_FRAC_MIN)
        & (F.col("n_stopwords") >= MIN_DISTINCT_STOPWORDS)
        & (F.col("symbol_ratio") <= SYMBOL_RATIO_MAX)
        & (F.col("bullet_line_frac") <= BULLET_LINE_FRAC_MAX)
        & (F.col("ellipsis_line_frac") <= ELLIPSIS_LINE_FRAC_MAX)
    )
    return m.withColumn("keep", keep)


@register(
    "corpus_data_contract",
    oracle="""
    WITH checks AS (
    SELECT
      (SELECT COUNT(*) FROM documents) AS n_docs,
      (SELECT COUNT(*) FROM documents WHERE doc_id IS NULL
         OR text IS NULL) AS n_doc_nulls,
      (SELECT COUNT(*) FROM (
         SELECT doc_id FROM documents GROUP BY doc_id HAVING COUNT(*) > 1
       )) AS n_dup_doc_ids,
      (SELECT COUNT(DISTINCT len(embedding)) FROM embeddings
         WHERE embedding IS NOT NULL) AS n_emb_dims,
      (SELECT COUNT(*) FROM lineitem l LEFT JOIN orders o
         ON l.l_orderkey = o.o_orderkey
         WHERE o.o_orderkey IS NULL) AS n_orphan_lineitems,
      (SELECT COUNT(*) FROM events
         WHERE ts < TIMESTAMP '1990-01-01'
            OR ts > TIMESTAMP '2100-01-01') AS n_ts_out_of_range
    ) SELECT *,
      -- derived, not asserted: the oracle re-checks the same five
      -- conditions, so a corpus that BREAKS the contract (degenerate
      -- fixtures do) must read false on both engines
      (n_doc_nulls = 0 AND n_dup_doc_ids = 0 AND n_emb_dims <= 1
       AND n_orphan_lineitems = 0 AND n_ts_out_of_range = 0)
        AS contract_met
    FROM checks
    """,
)
def corpus_data_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row data-contract gate — the CI check a pipeline runs
    before promoting a corpus snapshot: key integrity (no null/dup
    doc ids), schema integrity (uniform embedding dimensionality),
    referential integrity (no orphan lineitems), and domain sanity
    (event timestamps in range). ``contract_met`` folds the checks
    into one boolean the scheduler can branch on; the count columns
    keep the failure mode diagnosable, and the oracle re-derives
    every count independently so the gate itself is gated.

    Plan: six independent aggregates over different tables — each one
    shuffle of partial counts (the dup check aggregates doc_id, the
    orphan check is a broadcast-able anti-join pattern stated as
    left-join-null so the oracle matches row-for-row); Spark runs
    them as separate tiny jobs crossJoined into the single row.
    """
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    ev = table(spark, sf_dir, "events")

    n_docs = docs.agg(F.count("*").alias("n_docs"))
    n_doc_nulls = docs.filter(
        F.col("doc_id").isNull() | F.col("text").isNull()
    ).agg(F.count("*").alias("n_doc_nulls"))
    n_dup = (
        docs.groupBy("doc_id")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count("*").alias("n_dup_doc_ids"))
    )
    n_dims = emb.filter(F.col("embedding").isNotNull()).agg(
        F.countDistinct(F.size("embedding")).alias("n_emb_dims")
    )
    n_orphan = (
        li.join(
            orders.select("o_orderkey"),
            li.l_orderkey == F.col("o_orderkey"),
            "left",
        )
        .filter(F.col("o_orderkey").isNull())
        .agg(F.count("*").alias("n_orphan_lineitems"))
    )
    n_ts = ev.filter(
        (F.col("ts") < F.lit("1990-01-01").cast("timestamp"))
        | (F.col("ts") > F.lit("2100-01-01").cast("timestamp"))
    ).agg(F.count("*").alias("n_ts_out_of_range"))

    row = (
        n_docs.crossJoin(n_doc_nulls)
        .crossJoin(n_dup)
        .crossJoin(n_dims)
        .crossJoin(n_orphan)
        .crossJoin(n_ts)
    )
    return row.withColumn(
        "contract_met",
        (F.col("n_doc_nulls") == 0)
        & (F.col("n_dup_doc_ids") == 0)
        & (F.col("n_emb_dims") <= 1)
        & (F.col("n_orphan_lineitems") == 0)
        & (F.col("n_ts_out_of_range") == 0),
    )


# threshold sweep for the duplicate-word-ratio cut: q6 caps from very
# strict (10%) to permissive (50%) — the knob a corpus filter tunes
DUP_RATIO_THRESHOLDS_Q6 = (100_000, 200_000, 300_000, 400_000, 500_000)


@register(
    "text_quality_threshold_curve",
    oracle=f"""
    WITH m AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             (len(string_split(text, ' '))
              - len(list_distinct(string_split(text, ' '))))
             * 1000000 // len(string_split(text, ' '))
               AS dup_ratio_q6
      FROM documents
    ), tot AS (
      SELECT COUNT(*) AS total_docs,
             COALESCE(SUM(n_words), 0) AS total_words
      FROM m
    ), pts AS (
      SELECT t.threshold_q6,
             COUNT(*) FILTER (m.dup_ratio_q6 <= t.threshold_q6)
               AS n_docs_kept,
             COALESCE(SUM(m.n_words)
               FILTER (m.dup_ratio_q6 <= t.threshold_q6), 0)
               AS n_words_kept
      FROM (VALUES {', '.join(f'({v})' for v in DUP_RATIO_THRESHOLDS_Q6)})
           t(threshold_q6)
      LEFT JOIN m ON TRUE
      GROUP BY t.threshold_q6
    )
    SELECT CAST(p.threshold_q6 AS BIGINT) AS threshold_q6,
           CAST(p.n_docs_kept AS BIGINT) AS n_docs_kept,
           CAST(p.n_words_kept AS BIGINT) AS n_words_kept,
           CAST(CASE WHEN t.total_docs = 0 THEN 0
                ELSE p.n_docs_kept * 1000000 // t.total_docs
                END AS BIGINT) AS docs_share_q6,
           CAST(CASE WHEN t.total_words = 0 THEN 0
                ELSE p.n_words_kept * 1000000 // t.total_words
                END AS BIGINT) AS words_share_q6
    FROM pts p, tot t
    """,
)
def text_quality_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Threshold-tuning curve for the duplicate-word-ratio filter —
    the text-family twin of the LSH band curve and the IVF nprobe
    curves: before committing a cut to 100 TB, measure what every
    candidate threshold KEEPS, in documents and (what training
    actually buys) tokens. One row per threshold: kept counts and q6
    shares of the corpus.

    Plan: the per-doc metrics are one narrow projection over the scan
    (``textstats.dup_ratio_metrics``: split + array_distinct, no
    shuffle, the same values ``text_quality_filter`` decides on);
    the 5-row threshold frame joins
    BROADCAST, and the sweep aggregates with map-side partial
    aggregation into 5 groups. The curve costs one scan regardless of
    how many thresholds are swept. Integer q6 arithmetic end-to-end.
    """
    from almost_any_file_to_pandas_spark.plans import table_wide
    from almost_any_file_to_pandas_spark.operators.textstats import (
        dup_ratio_metrics,
    )

    docs = table_wide(spark, sf_dir, "documents")
    # the long-arithmetic dup ratio text_quality_filter also reports
    # (the earlier local re-derivation multiplied int32 sizes by 1e6
    # before casting — wrapping negative past 2148 duplicated words)
    m = dup_ratio_metrics(docs).select(
        "n_words", F.col("dup_word_ratio_q6").alias("dup_ratio_q6")
    )
    thresholds = spark.createDataFrame(
        [(v,) for v in DUP_RATIO_THRESHOLDS_Q6], "threshold_q6 long"
    )
    kept = (
        m.crossJoin(F.broadcast(thresholds))
        .groupBy("threshold_q6")
        .agg(
            F.count_if(F.col("dup_ratio_q6") <= F.col("threshold_q6"))
            .alias("n_docs_kept"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("dup_ratio_q6") <= F.col("threshold_q6"),
                        F.col("n_words"),
                    )
                ),
                F.lit(0),
            ).alias("n_words_kept"),
        )
    )
    # empty corpus: the cross join yields no groups — re-anchor every
    # threshold row so both engines emit the full 5-point curve
    kept = thresholds.join(kept, "threshold_q6", "left").select(
        "threshold_q6",
        F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
        F.coalesce("n_words_kept", F.lit(0)).alias("n_words_kept"),
    )
    tot = m.agg(
        F.count("*").alias("total_docs"),
        F.coalesce(F.sum("n_words"), F.lit(0)).alias("total_words"),
    )
    return kept.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(threshold_q6 AS BIGINT) AS threshold_q6",
        "CAST(n_docs_kept AS BIGINT) AS n_docs_kept",
        "CAST(n_words_kept AS BIGINT) AS n_words_kept",
        "CAST(CASE WHEN total_docs = 0 THEN 0"
        " ELSE n_docs_kept * 1000000 div total_docs END AS BIGINT)"
        " AS docs_share_q6",
        "CAST(CASE WHEN total_words = 0 THEN 0"
        " ELSE n_words_kept * 1000000 div total_words END AS BIGINT)"
        " AS words_share_q6",
    )
