"""Per-source token-budget trimming — greedy quality-ordered fill.

The data-mixing complement of ``text_mix_to_target`` (rate-based
down-sampling): a training run has a TOKEN budget per source/domain,
not a document-count rate, and wants the BEST documents first. The
operator ranks each source's documents by a quality signal and keeps
them greedily until the source's token budget is spent — the standard
"fill the data budget by quality rank" step in pretraining-corpus
assembly.

Scale shape: one narrow projection computes (n_tokens, quality) per
doc; per-source totals are a tiny aggregate broadcast back; the greedy
fill is a PARTITIONED cumulative-sum window (partition = source,
order = quality desc) — never a global sort. The honest cost at
100 TB is the per-source sort inside the window shuffle; when a
source is too hot for one partition's sort, the production swap is a
two-pass threshold: GK-quantile the quality distribution token-
weighted, cut at the budget quantile, and spill only the boundary
run through the exact window (the `order_value_approx_percentiles`
machinery) — same result, bounded sort. The exact window form here
is the oracle-matchable statement of the semantics.

Budget = ceil(half of each source's total tokens) — scale-relative so
the query is meaningful at every SF (a fixed constant would keep
everything at sf0.001 and nothing at sf10).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.operators.textstats import (
    _STOPWORDS,
    _occurrences,
    _occurrences_sql,
)
from almost_any_file_to_pandas_spark.plans import register, table_wide

BUDGET_FRACTION_DEN = 2  # keep ceil(total/2) tokens per source

_STOP_HITS_SQL = " + ".join(
    _occurrences_sql("lower(text)", w) for w in _STOPWORDS
)


@register(
    "text_token_budget_trim",
    oracle=f"""
    WITH scored AS (
      SELECT source, doc_id,
             len(string_split(text, ' ')) AS n_tokens,
             (({_STOP_HITS_SQL}) * 1000000)
               // len(string_split(text, ' ')) AS q_key
      FROM documents
    ), budgets AS (
      SELECT source, COUNT(*) AS n_docs, SUM(n_tokens) AS tokens_total,
             (SUM(n_tokens) + {BUDGET_FRACTION_DEN - 1})
               // {BUDGET_FRACTION_DEN} AS budget
      FROM scored GROUP BY source
    ), filled AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY q_key DESC, doc_id ASC
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM scored
    ), kept AS (
      SELECT f.source, COUNT(*) AS n_kept, SUM(f.n_tokens) AS tokens_kept
      FROM filled f JOIN budgets b ON f.source = b.source
      WHERE f.cum_tokens <= b.budget
      GROUP BY f.source
    )
    SELECT b.source, b.n_docs,
           CAST(b.tokens_total AS BIGINT) AS tokens_total,
           CAST(b.budget AS BIGINT) AS budget,
           COALESCE(k.n_kept, 0) AS n_kept,
           CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
    FROM budgets b LEFT JOIN kept k ON b.source = k.source
    """,
)
def text_token_budget_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source greedy token-budget fill report: documents ranked by
    stopword density (the cheap naturalness signal; swap in any
    scorer), kept best-first until ceil(source_tokens/2) is spent.
    Deterministic total order (quality desc, doc_id asc) so the cut
    is reproducible; a doc whose tokens would cross the budget line
    is dropped (``cum <= budget``), matching the oracle exactly.

    Canonicalization-proof decision path (r03 gate hash-fail fix): the
    rank key is the INTEGER ``(stop_hits · 1e6) div n_tokens`` and the
    budget is the INTEGER ``ceil`` ``(total + den−1) div den`` — no
    double division anywhere in the kept-set decision, so no
    engine-version float difference can flip which doc crosses the
    budget line. ``n_tokens ≥ 1`` always (split of "" is [""]), so the
    integer division is total.
    """
    docs = table_wide(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " ", -1))
    hits = None
    for w in _STOPWORDS:
        occ = _occurrences(F.lower(F.col("text")), w)
        hits = occ if hits is None else hits + occ
    scored = docs.select(
        "source",
        "doc_id",
        n_tokens.alias("n_tokens"),
        (hits.cast("long") * F.lit(1_000_000)).alias("_hits_scaled"),
    ).select(
        "source",
        "doc_id",
        "n_tokens",
        F.expr("_hits_scaled div n_tokens").alias("q_key"),
    )
    budgets = scored.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens_total"),
        F.expr(
            f"(SUM(n_tokens) + {BUDGET_FRACTION_DEN - 1}) "
            f"div {BUDGET_FRACTION_DEN}"
        ).alias("budget"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy(F.desc("q_key"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = scored.withColumn("cum_tokens", F.sum("n_tokens").over(w_cum))
    kept = (
        filled.join(
            F.broadcast(budgets.select("source", "budget")), "source"
        )
        .filter(F.col("cum_tokens") <= F.col("budget"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum("n_tokens").alias("tokens_kept"),
        )
    )
    return budgets.join(F.broadcast(kept), "source", "left").select(
        "source",
        "n_docs",
        "tokens_total",
        "budget",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("tokens_kept"), F.lit(0)).alias("tokens_kept"),
    )

