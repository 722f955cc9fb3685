"""Exact substring-duplication analysis over the ``documents`` table.

The operator family restates suffix-array substring deduplication
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better" — their ExactSubstr dedup finds verbatim spans repeated across
training documents) in a shuffle-bounded Spark shape:

1. every document emits its stride-1 character ``K``-grams (a narrow
   generate — no shuffle, bounded per-row by document length);
2. grams are sampled CONTENT-DEFINED — keep a gram iff the first hex
   nibble of ``md5(gram)`` is ``'0'`` (density 1/16). Because the
   decision depends only on gram *content*, both copies of a shared
   span sample the same grams regardless of their byte offsets in
   either document — the alignment-independence trick of winnowing /
   0-mod-p fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
   the MOSS paper). A fixed-stride sample would need the two copies to
   agree on ``offset mod stride`` and silently misses most pairs.
3. one hash aggregation groups the surviving grams (the ONLY shuffle,
   over 1/16th of the gram volume) and keeps grams seen in ≥ 2
   distinct documents;
4. top-k by spread is a TakeOrderedAndProject (per-partition heaps,
   k-row merge — never a global sort).

A shared span of length ``L ≥ K`` is detected with probability
``1 - (15/16)^(L-K+1)`` (each of its ``L-K+1`` grams is an independent
1/16 Bernoulli under md5): ~48% at L=30, ~99.9% at L=128. Production
tuning trades density for shuffle volume; the census is a monitor, not
a filter, so probabilistic coverage with an exact no-false-positive
guarantee (grams are compared verbatim) is the right contract.

At 100 TB: gram generation is embarrassingly parallel, the sample
filter runs map-side BEFORE the shuffle, per-gram payloads are ``K``
bytes, and the aggregate has map-side partial combine for ``n_occ``
(the distinct-doc count is a two-phase partial aggregate on
``(gram, doc_id)``). No step materializes the corpus or collects to
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import register, table_wide

SPAN_K = 20  # character k-gram width
SPAN_TOP = 20  # census rows reported
SAMPLE_NIBBLE = "0"  # keep grams whose md5 starts with this nibble (1/16)
PROFILE_TOP = 25  # docs reported by the per-doc duplication profile


def _sampled_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, gram) for every content-sampled stride-1 K-gram.

    The position explode carries ``text`` alongside ``p`` but the
    substring projection lands in the same WholeStageCodegen stage, so
    the full text is never shuffled or materialized per position.
    ``sequence`` must be guarded: Spark's two-arg form steps *downward*
    when stop < start (a doc shorter than K would emit bogus positions
    instead of none).
    """
    positions = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.when(
                F.length("text") >= SPAN_K,
                F.sequence(F.lit(1), F.length("text") - F.lit(SPAN_K - 1)),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
    )
    return positions.select(
        "doc_id", F.expr(f"substring(text, p, {SPAN_K})").alias("gram")
    ).filter(F.substring(F.md5("gram"), 1, 1) == SAMPLE_NIBBLE)


_SAMPLED_GRAMS_SQL = f"""
    SELECT doc_id, gram FROM (
      SELECT doc_id, substring(text, p, {SPAN_K}) AS gram
      FROM (
        SELECT doc_id, text,
               unnest(range(1, greatest(length(text) - {SPAN_K - 1}, 0) + 1))
                 AS p
        FROM documents
      )
    ) WHERE substr(md5(gram), 1, 1) = '{SAMPLE_NIBBLE}'
"""


@register(
    "text_duplicate_span_census",
    oracle=f"""
    WITH sampled AS ({_SAMPLED_GRAMS_SQL}),
    census AS (
      SELECT gram,
             COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS n_occ
      FROM sampled
      GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT gram, n_docs, n_occ
    FROM census
    ORDER BY n_docs DESC, n_occ DESC, gram ASC
    LIMIT {SPAN_TOP}
    """,
)
def text_duplicate_span_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``SPAN_TOP`` verbatim ``SPAN_K``-char spans shared across
    documents — the corpus-level "what text is being copied around"
    monitor that exact-document and near-dup dedup both miss (a
    boilerplate footer repeated inside otherwise-distinct documents
    never pairs whole docs).

    Plan: narrow gram generate → map-side content sample → one hash
    aggregate → TakeOrderedAndProject. Deterministic total order
    (spread, multiplicity, gram) makes the LIMIT reproducible.
    """
    census = (
        _sampled_grams(table_wide(spark, sf_dir, "documents"))
        .groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return census.orderBy(
        F.desc("n_docs"), F.desc("n_occ"), F.asc("gram")
    ).limit(SPAN_TOP)


@register(
    "text_doc_duplication_profile",
    oracle=f"""
    WITH sampled AS ({_SAMPLED_GRAMS_SQL}),
    dup AS (
      SELECT gram FROM sampled GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_sampled,
             COUNT(d.gram) AS n_dup
      FROM sampled s LEFT JOIN dup d ON s.gram = d.gram
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_sampled, n_dup,
           ROUND(n_dup / n_sampled, 6) AS dup_frac
    FROM per_doc
    WHERE n_dup > 0
    ORDER BY dup_frac DESC, n_dup DESC, doc_id ASC
    LIMIT {PROFILE_TOP}
    """,
)
def text_doc_duplication_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document duplicated-span exposure: of each doc's sampled
    grams, what fraction also appears in some OTHER document — ranked
    worst-first. This is the actionable output of the census: the
    trim/inspect list a pipeline operator feeds to span-level removal.

    The duplicated-gram set (census output before top-k) is corpus-
    derived but small — it only keeps grams with cross-doc spread, so
    it broadcast-joins back onto the per-doc gram stream; the corpus
    never shuffles a second time. ``n_dup`` counts a doc's sampled
    gram occurrences that hit the duplicated set, so boilerplate
    repeated within one doc AND shared across docs is weighted by its
    local multiplicity, matching the oracle's LEFT JOIN count.
    """
    sampled = _sampled_grams(table_wide(spark, sf_dir, "documents"))
    dup = (
        sampled.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("gram")
    )
    per_doc = (
        sampled.join(
            F.broadcast(dup.withColumn("is_dup", F.lit(1))), "gram", "left"
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_sampled"),
            F.count("is_dup").alias("n_dup"),
        )
        .filter(F.col("n_dup") > 0)
    )
    return (
        per_doc.select(
            "doc_id",
            "n_sampled",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_sampled"), 6).alias(
                "dup_frac"
            ),
        )
        .orderBy(F.desc("dup_frac"), F.desc("n_dup"), F.asc("doc_id"))
        .limit(PROFILE_TOP)
    )


BOUNDARY_GRAM = 2  # tokens compared at each document boundary
BOUNDARY_DF_CAP = 100  # grams on more docs than this are stop-grams


@register(
    "text_boundary_continuation_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
      WHERE len(string_split(text, ' ')) >= {BOUNDARY_GRAM}
    ), ends AS (
      SELECT doc_id,
             array_to_string(w[1:{BOUNDARY_GRAM}], ' ') AS head_gram,
             array_to_string(w[-{BOUNDARY_GRAM}:], ' ') AS tail_gram
      FROM toks
    ), tail_ok AS (
      SELECT tail_gram AS g FROM ends GROUP BY tail_gram
      HAVING COUNT(*) <= {BOUNDARY_DF_CAP}
    ), head_ok AS (
      SELECT head_gram AS g FROM ends GROUP BY head_gram
      HAVING COUNT(*) <= {BOUNDARY_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.tail_gram AS gram
    FROM ends a
    JOIN tail_ok t ON t.g = a.tail_gram
    JOIN head_ok h ON h.g = a.tail_gram
    JOIN ends b ON b.head_gram = a.tail_gram
              AND b.doc_id <> a.doc_id
    """,
)
def text_boundary_continuation_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shard-boundary continuation detection: ordered pairs (A, B)
    where document A *ends* with exactly the token gram document B
    *starts* with — the signature of one source text split across
    crawl/shard boundaries, which inflates dedup-resistant near-dups
    and corrupts next-token training targets at the seam.

    The quadratic guard is the containment family's df cap, encoded
    identically in the oracle: a boundary gram carried by more than
    ``BOUNDARY_DF_CAP`` documents on EITHER side is a stop-gram
    (generic phrase) and emits no pairs — so per-gram pair volume is
    ≤ cap² by construction, a model parameter rather than a silent
    engine divergence.

    Plan: ONE narrow pass computes each doc's (head, tail) gram — no
    tokenized explosion leaves the row; the two df censuses aggregate
    the tiny per-doc gram frame; the pair join keys on the gram with
    both cap filters applied BEFORE the join, and everything after
    the first aggregate is boundary-gram-sized, not corpus-sized.
    """
    docs = table_wide(spark, sf_dir, "documents")
    w = F.split(F.col("text"), " ", -1)
    n = F.size(w)
    ends = (
        docs.select("doc_id", w.alias("w"), n.alias("n"))
        .filter(F.col("n") >= BOUNDARY_GRAM)
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.slice(F.col("w"), 1, BOUNDARY_GRAM)
            ).alias("head_gram"),
            F.concat_ws(
                " ",
                F.slice(F.col("w"), -BOUNDARY_GRAM, BOUNDARY_GRAM),
            ).alias("tail_gram"),
        )
    )
    ends = ends.localCheckpoint(eager=True)  # feeds censuses + both sides
    tail_ok = (
        ends.groupBy("tail_gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") <= BOUNDARY_DF_CAP)
        .select(F.col("tail_gram").alias("g_t"))
    )
    head_ok = (
        ends.groupBy("head_gram")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") <= BOUNDARY_DF_CAP)
        .select(F.col("head_gram").alias("g_h"))
    )
    a = ends.select(F.col("doc_id").alias("doc_a"), "tail_gram")
    b = ends.select(F.col("doc_id").alias("doc_b"), "head_gram")
    return (
        a.join(tail_ok, a.tail_gram == F.col("g_t"))
        .join(head_ok, a.tail_gram == F.col("g_h"))
        .join(b, a.tail_gram == b.head_gram)
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("tail_gram").alias("gram"))
    )
