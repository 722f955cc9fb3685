"""SURVEY.md §2 operator restatements over the driver's testdata.

Each reference-internal computation (detection aggregates, row/column
transforms, filters, unions) is restated as a distributed query on the
`documents` / `events` / `lineitem` tables, with a DuckDB oracle.
Citations point at /root/reference/main.py.

Cross-engine gotchas handled here:
- ``F.get`` (0-based, NULL out-of-range) instead of ``element_at``
  (ANSI-strict) ↔ DuckDB 1-based ``list_extract`` (NULL out-of-range).
- ``split`` uses a literal single-space pattern ↔ DuckDB
  ``string_split`` literal separator: identical tokenization including
  empty tokens on runs of separators.
- Mode/majority-vote is restated as an explicit
  row_number-over-count-desc window with a value tie-break — Spark's
  ``F.mode`` and DuckDB's ``mode()`` both break ties arbitrarily.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.plans import register, table


@register(
    "a1_max_split_width",
    oracle="""
    SELECT max(len(string_split(text, ' '))) AS max_width
    FROM documents
    """,
)
def a1_max_split_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/D3 — max column count over rows (main.py:360-368), restated
    as max token-width over documents. Scan → map-side partial max →
    1-row reduce; no shuffle of data rows."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        F.max(F.size(F.split(F.col("text"), " ", -1))).alias("max_width")
    )


@register(
    "a2_mode_majority_vote",
    oracle="""
    SELECT event_type AS winner, n_votes FROM (
      SELECT event_type, COUNT(*) AS n_votes,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, event_type) AS rn
      FROM events GROUP BY event_type
    ) WHERE rn = 1
    """,
)
def a2_mode_majority_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/D2 — the delimiter majority vote (main.py:235) as a mode
    aggregate: most frequent event_type, deterministic tie-break."""
    ev = table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n_votes"))
    w = W.orderBy(F.desc("n_votes"), F.asc("event_type"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("event_type").alias("winner"), "n_votes")
    )


@register(
    "a3_shape_counts",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (WHERE n_chars > 0) AS n_nonempty
    FROM documents GROUP BY lang
    """,
)
def a3_shape_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — row counts + empty-detection bit (main.py:103, 110-111)."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.count(F.when(F.col("n_chars") > 0, 1)).alias("n_nonempty"),
    )


@register(
    "f1_empty_row_filter",
    oracle="""
    SELECT doc_id, n_chars
    FROM documents
    WHERE n_chars > 0 AND length(trim(text)) > 0
    """,
)
def f1_empty_row_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — skip rows with zero data cells (main.py:320-323). Both
    predicates are Catalyst-pushable; n_chars > 0 reaches the parquet
    scan as a PushedFilter."""
    docs = table(spark, sf_dir, "documents")
    return docs.filter(
        (F.col("n_chars") > 0) & (F.length(F.trim(F.col("text"))) > 0)
    ).select("doc_id", "n_chars")


@register(
    "f2_width_conditional_split",
    oracle="""
    WITH widths AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS width,
             FIRST_VALUE(len(string_split(text, ' '))) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ref_width
      FROM documents
    )
    SELECT source,
           CASE WHEN width = ref_width THEN 'valid' ELSE 'invalid' END AS bucket,
           COUNT(*) AS n_docs
    FROM widths GROUP BY 1, 2
    """,
)
def f2_width_conditional_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — PDF page-width valid/invalid split (main.py:384-390):
    rows whose width matches the group's first row → 'valid', else
    'invalid'; both outputs of the single predicate, tagged."""
    docs = table(spark, sf_dir, "documents")
    width = F.size(F.split(F.col("text"), " ", -1))
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        docs.select("doc_id", "source", width.alias("width"))
        .withColumn("ref_width", F.first("width").over(w))
        .withColumn(
            "bucket",
            F.when(F.col("width") == F.col("ref_width"), "valid").otherwise(
                "invalid"
            ),
        )
        .groupBy("source", "bucket")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "t2_t4_split_pad_quote_strip",
    oracle="""
    SELECT doc_id,
      COALESCE(regexp_replace(regexp_replace(toks[1], '^"+|"+$', '', 'g'), '^''+|''+$', '', 'g'), '') AS c0,
      COALESCE(regexp_replace(regexp_replace(toks[2], '^"+|"+$', '', 'g'), '^''+|''+$', '', 'g'), '') AS c1,
      COALESCE(regexp_replace(regexp_replace(toks[3], '^"+|"+$', '', 'g'), '^''+|''+$', '', 'g'), '') AS c2,
      COALESCE(regexp_replace(regexp_replace(toks[4], '^"+|"+$', '', 'g'), '^''+|''+$', '', 'g'), '') AS c3
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
)
def t2_t4_split_pad_quote_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 split + T3 pad + T4 quote-run strip + T6 positional naming
    (main.py:344-351) over documents.text: first 4 tokens as c0..c3,
    missing → '' (ragged pad), quote runs stripped both ends.
    Pure narrow projection — no shuffle."""
    docs = table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)

    def cell(i: int):
        c = F.coalesce(F.get(toks, i), F.lit(""))
        c = F.regexp_replace(F.regexp_replace(c, r'^"+|"+$', ""), r"^'+|'+$", "")
        return c.alias(f"c{i}")

    return docs.select("doc_id", cell(0), cell(1), cell(2), cell(3))


@register(
    "t5_all_string_cast",
    oracle="""
    SELECT
      CAST(l_orderkey AS VARCHAR)   AS c0,
      CAST(l_linenumber AS VARCHAR) AS c1,
      CAST(l_quantity AS VARCHAR)   AS c2,
      CAST(l_returnflag AS VARCHAR) AS c3,
      CAST(l_shipdate AS VARCHAR)   AS c4
    FROM lineitem WHERE l_orderkey <= 100
    """,
)
def t5_all_string_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 — all-string normalization (dtype=str, main.py:259/324/351):
    heterogeneous columns cast to string with positional names."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 100)
    cols = ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate"]
    return li.select(
        *[F.col(c).cast("string").alias(f"c{i}") for i, c in enumerate(cols)]
    )


@register(
    "t7_row_number",
    oracle="""
    SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
             AS row_idx
    FROM documents
    """,
)
def t7_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7 — row renumbering after concat (main.py:391-392), restated
    as a deterministic per-group row_number."""
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return docs.select(
        "doc_id", "source", F.row_number().over(w).alias("row_idx")
    )


@register(
    "u1_union_all_tagged",
    oracle="""
    SELECT 'short' AS part_tag, doc_id, n_chars FROM documents WHERE n_chars < 200
    UNION ALL
    SELECT 'long' AS part_tag, doc_id, n_chars FROM documents WHERE n_chars >= 400
    """,
)
def u1_union_all_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 — positional concat of same-width tables (main.py:388-390):
    union-all of two filtered projections, provenance-tagged."""
    docs = table(spark, sf_dir, "documents")
    short = docs.filter(F.col("n_chars") < 200).select(
        F.lit("short").alias("part_tag"), "doc_id", "n_chars"
    )
    long_ = docs.filter(F.col("n_chars") >= 400).select(
        F.lit("long").alias("part_tag"), "doc_id", "n_chars"
    )
    return short.unionByName(long_)


@register(
    "s8_typed_scan_passthrough",
    oracle="""
    SELECT r_regionkey, r_name FROM region
    """,
)
def s8_typed_scan_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — typed parquet scan, types preserved (main.py:415-425)."""
    return table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "d2_mode_per_group",
    oracle="""
    SELECT source, lang AS voted_lang FROM (
      SELECT source, lang,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY COUNT(*) DESC, lang) AS rn
      FROM documents GROUP BY source, lang
    ) WHERE rn = 1
    """,
)
def d2_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 — per-group majority vote (the sniffing vote generalized):
    most frequent lang per source, deterministic tie-break. Two-stage:
    partial-agg shuffle then a tiny window over group counts."""
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source", "lang").agg(F.count("*").alias("n"))
    w = W.partitionBy("source").orderBy(F.desc("n"), F.asc("lang"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("voted_lang"))
    )
