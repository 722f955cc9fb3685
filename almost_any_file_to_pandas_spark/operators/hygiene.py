"""Embedding-corpus hygiene validation.

The reference repo's surface ends at file→DataFrame (SURVEY §2); this
module is part of the LLM-pipeline extension surface: the data-contract
check every embedding-dependent stage (ANN, dedup, clustering) should
run first. Corrupt vectors — NULLs, dimension drift from a re-trained
encoder, NaN/Inf from fp16 overflow, zero vectors from failed encodes —
poison cosine math silently (NaN propagates through a top-k heap and
evicts every real result), so the validation report is cheap insurance
run on every ingest batch.

Shape at 100 TB: ONE narrow projection computes every per-vector
predicate (dimension, finiteness, squared norm — all interpreted JVM
higher-order functions over the array, no Python), then ONE global
aggregate folds the corpus to a single report row. The modal dimension
is learned from the data with a bounded aggregate over the |dims|-sized
count table (dims observed in practice: a handful), broadcast back —
the corpus is never shuffled, only its boolean partials.

Cross-engine determinism (r03 gate hash-fail fix): NO rounded double
ever reaches the report. sqrt is IEEE-754 correctly rounded, so
``sqrt`` of the same double is bit-identical on both engines — but
``ROUND(x, 6)`` is not (half-even vs half-away, multiply/divide
implementations differ), so every norm is emitted integer-quantized:
``floor(sqrt(sumsq)·1e6 + 0.5)`` as BIGINT. The average is an
all-integer division of the per-row quantized sum (DECIMAL(38,0)
accumulate, order-independent) by the clean count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import (
    micro_units,
    micro_units_sql,
    register,
    table_wide,
)


@register(
    "embedding_hygiene_report",
    oracle=f"""
    WITH per_vec AS (
      SELECT vec_id,
             embedding IS NULL AS is_null,
             COALESCE(len(embedding), 0) AS dim,
             COALESCE(len(list_filter(embedding::DOUBLE[],
                      x -> isnan(x) OR isinf(x))) > 0, FALSE) AS nonfinite,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE list_reduce(
                         list_prepend(CAST(0.0 AS DOUBLE),
                           list_transform(embedding::DOUBLE[], x -> x * x)),
                         (a, b) -> a + b)
             END AS sumsq
      FROM embeddings
    ), modal AS (
      SELECT dim AS modal_dim FROM per_vec
      WHERE NOT is_null
      GROUP BY dim ORDER BY COUNT(*) DESC, dim ASC LIMIT 1
    )
    SELECT COUNT(*) AS n_vectors,
           CAST(SUM(CASE WHEN is_null THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           ANY_VALUE(modal_dim) AS modal_dim,
           CAST(SUM(CASE WHEN NOT is_null AND dim <> modal_dim
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dim_mismatch,
           CAST(SUM(CASE WHEN nonfinite THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonfinite,
           CAST(SUM(CASE WHEN NOT is_null AND NOT nonfinite AND sumsq = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_norm,
           {micro_units_sql(
               "sqrt(MIN(CASE WHEN NOT is_null AND NOT nonfinite"
               " THEN sumsq END))"
           )} AS min_norm_q6,
           {micro_units_sql(
               "sqrt(MAX(CASE WHEN NOT is_null AND NOT nonfinite"
               " THEN sumsq END))"
           )} AS max_norm_q6,
           CAST(SUM(CASE WHEN NOT is_null AND NOT nonfinite
                         THEN {micro_units_sql("sqrt(sumsq)")}
                    END)
                // SUM(CASE WHEN NOT is_null AND NOT nonfinite
                            THEN 1 ELSE 0 END)
                AS BIGINT) AS avg_norm_q6
    FROM per_vec CROSS JOIN modal
    """,
)
def embedding_hygiene_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row corpus validation report: vector count, NULL vectors,
    modal dimension + off-dimension count, non-finite (NaN/Inf)
    vectors, zero-norm vectors, and min/max/avg L2 norm over the
    clean subset.

    The modal dimension comes from the data (count per observed
    dimension → top-1 with a deterministic tie-break), so the check
    needs no declared schema contract; the tiny modal row broadcasts
    back onto the aggregate.
    """
    return hygiene_report(table_wide(spark, sf_dir, "embeddings"))


def hygiene_report(emb: DataFrame) -> DataFrame:
    """The report over any (…, embedding array<float|double>) frame —
    the registered query binds it to the ``embeddings`` table; unit
    tests feed deliberately corrupted corpora."""
    inf = F.lit(float("inf"))
    per_vec = emb.select(
        F.col("embedding").isNull().alias("is_null"),
        F.coalesce(F.size("embedding"), F.lit(0)).alias("dim"),
        F.coalesce(
            F.exists(
                F.col("embedding").cast("array<double>"),
                lambda x: F.isnan(x) | (F.abs(x) == inf),
            ),
            F.lit(False),
        ).alias("nonfinite"),
        F.when(
            F.col("embedding").isNotNull(),
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            ),
        ).alias("sumsq"),
    )
    modal = (
        per_vec.filter(~F.col("is_null"))
        .groupBy("dim")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("dim"))
        .limit(1)
        .select(F.col("dim").alias("modal_dim"))
    )
    clean = (~F.col("is_null")) & (~F.col("nonfinite"))
    norm = F.sqrt(F.col("sumsq"))
    return (
        per_vec.crossJoin(F.broadcast(modal))
        .agg(
            F.count("*").alias("n_vectors"),
            F.sum(F.when(F.col("is_null"), 1).otherwise(0)).alias("n_null"),
            F.any_value(F.col("modal_dim")).alias("modal_dim"),
            F.sum(
                F.when(
                    (~F.col("is_null"))
                    & (F.col("dim") != F.col("modal_dim")),
                    1,
                ).otherwise(0)
            ).alias("n_dim_mismatch"),
            F.sum(F.when(F.col("nonfinite"), 1).otherwise(0)).alias(
                "n_nonfinite"
            ),
            F.sum(F.when(clean & (F.col("sumsq") == 0), 1).otherwise(0)).alias(
                "n_zero_norm"
            ),
            micro_units(F.sqrt(F.min(F.when(clean, F.col("sumsq"))))).alias(
                "min_norm_q6"
            ),
            micro_units(F.sqrt(F.max(F.when(clean, F.col("sumsq"))))).alias(
                "max_norm_q6"
            ),
            F.expr(
                "CAST(SUM(CASE WHEN NOT is_null AND NOT nonfinite THEN "
                f"CAST({micro_units_sql('sqrt(sumsq)')} AS DECIMAL(38,0)) "
                "END) div SUM(CASE WHEN NOT is_null AND NOT nonfinite "
                "THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("avg_norm_q6"),
        )
    )
