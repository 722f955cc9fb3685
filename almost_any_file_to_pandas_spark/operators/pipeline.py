"""Training-data pipeline operators: PII scrubbing, document
chunking, and sequence packing over the ``documents`` table.

These are the steps between quality filtering and the tokenizer in a
pretraining data pipeline (reference scope: none — extension surface,
same bucket as the dedup/textstats families):

- **PII scrub**: regex redaction of emails / IPv4s / phone numbers.
  Pure ``regexp_replace`` column expressions — JVM-side, zero shuffle,
  trivially parallel at any scale. The synthetic corpus contains no
  PII, so the query *injects* deterministic PII derived from
  (doc_id, source) first and then scrubs it — the redaction path is
  genuinely exercised and the oracle checks the exact rewrite.
- **Chunking with overlap**: split each document into fixed-size
  token windows (size 50, stride 40 → overlap 10) — the RAG/embedding
  preprocessing step. One narrow ``explode(sequence(...))`` per doc;
  no shuffle at all. Output rows carry the chunk md5, not the text,
  to keep the exchanged bytes small.
- **Sequence packing**: concat-and-chunk packing of documents into
  fixed token-budget training sequences (budget 512). Documents are
  packed *within their source shard* (window partitioned by
  ``source``, ordered by ``doc_id``) — the global-order version would
  serialize into one partition, which is exactly what a 100 TB run
  must avoid; per-shard packing is what production pipelines do.

All three are hash-checked against DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from almost_any_file_to_pandas_spark.operators.textstats import (
    QF_MAX_DUP_RATIO,
    QF_MAX_TOP_FRACTION,
    QF_MIN_WORDS,
)
from almost_any_file_to_pandas_spark.plans import register, table, table_wide

# Regexes chosen to mean the same thing in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repeats, \b and \d only.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+1-555-\d{4}"

CHUNK_SIZE = 50
CHUNK_STRIDE = 40  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 10 tokens
PACK_BUDGET = 512  # tokens per packed training sequence


def _count_sub(col, needle: str):
    """Occurrences of a literal substring (portable replace-arithmetic)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def _count_sub_sql(expr: str, needle: str) -> str:
    return (
        f"CAST((length({expr}) - length(replace({expr}, '{needle}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


_INJECT_SQL = (
    "('contact user' || doc_id || '@mail-' || source || '.org from 10.'"
    " || (doc_id % 256) || '.0.' || ((doc_id * 7) % 256)"
    " || ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' ' || text)"
)

_SCRUB_SQL = (
    f"regexp_replace(regexp_replace(regexp_replace({_INJECT_SQL},"
    f" '{EMAIL_RE}', '<EMAIL>', 'g'),"
    f" '{IPV4_RE}', '<IP>', 'g'),"
    f" '{PHONE_RE}', '<PHONE>', 'g')"
)


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_SCRUB_SQL} AS scrubbed FROM documents
    )
    SELECT doc_id,
           md5(scrubbed) AS scrubbed_md5,
           {_count_sub_sql('scrubbed', '<EMAIL>')}
             + {_count_sub_sql('scrubbed', '<IP>')}
             + {_count_sub_sql('scrubbed', '<PHONE>')} AS n_redactions
    FROM s
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails, IPv4 addresses, and phone numbers.

    Injects ``contact user{id}@mail-{source}.org from 10.x.0.y call
    +1-555-nnnn`` ahead of each document (the corpus is synthetic and
    PII-free), scrubs with three chained ``regexp_replace``, and
    emits the scrubbed md5 plus the redaction count (expect ≥3 per
    row — the injected trio, plus anything PII-shaped in the text).

    Plan: a single narrow projection — whole-stage codegen, no
    exchange, no Python. Scales as a pure map at any data size.
    """
    docs = table_wide(spark, sf_dir, "documents")
    injected = F.concat(
        F.lit("contact user"),
        F.col("doc_id"),
        F.lit("@mail-"),
        F.col("source"),
        F.lit(".org from 10."),
        F.col("doc_id") % 256,
        F.lit(".0."),
        (F.col("doc_id") * 7) % 256,
        F.lit(" call +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(injected, EMAIL_RE, "<EMAIL>"),
            IPV4_RE,
            "<IP>",
        ),
        PHONE_RE,
        "<PHONE>",
    )
    n_red = (
        _count_sub(scrubbed, "<EMAIL>")
        + _count_sub(scrubbed, "<IP>")
        + _count_sub(scrubbed, "<PHONE>")
    )
    return docs.select(
        "doc_id",
        F.md5(scrubbed).alias("scrubbed_md5"),
        n_red.alias("n_redactions"),
    )


@register(
    "text_chunk_overlap",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), c AS (
      SELECT doc_id, w,
             unnest(range(0,
               CAST(floor((greatest(len(w), 1) - 1) / {CHUNK_STRIDE})
                    AS BIGINT) + 1)) AS i
      FROM base
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_id,
           len(w[i*{CHUNK_STRIDE}+1 : i*{CHUNK_STRIDE}+{CHUNK_SIZE}])
             AS chunk_tokens,
           md5(array_to_string(
             w[i*{CHUNK_STRIDE}+1 : i*{CHUNK_STRIDE}+{CHUNK_SIZE}], ' '))
             AS chunk_md5
    FROM c
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunks ({CHUNK_SIZE} tokens, stride
    {CHUNK_STRIDE}) per document — the embedding/RAG pre-processing
    cut. Every document yields ``ceil(max(n,1)/stride)`` chunks; the
    final chunk may be short (it is NOT padded — padding is the
    tokenizer's job).

    Plan: ``explode(sequence(...))`` then ``slice`` on the pre-split
    token array — one narrow generate stage, no shuffle, no Python.
    Output carries md5(chunk) instead of chunk text so downstream
    exchanges stay narrow at 100 TB.
    """
    docs = table_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    n_chunks = (
        F.floor((F.greatest(F.size(toks), F.lit(1)) - 1) / CHUNK_STRIDE) + 1
    )
    base = docs.select("doc_id", toks.alias("w"), n_chunks.alias("k"))
    exploded = base.select(
        "doc_id",
        "w",
        F.explode(F.sequence(F.lit(0), (F.col("k") - 1).cast("int"))).alias("i"),
    )
    piece = F.slice(
        F.col("w"), F.col("i") * CHUNK_STRIDE + 1, F.lit(CHUNK_SIZE)
    )
    return exploded.select(
        "doc_id",
        F.col("i").alias("chunk_id"),
        F.size(piece).cast("long").alias("chunk_tokens"),
        F.md5(F.concat_ws(" ", piece)).alias("chunk_md5"),
    )


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS start_off
      FROM t
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_off AS BIGINT) AS start_off,
           CAST(floor(start_off / {PACK_BUDGET}) AS BIGINT) AS seq_id,
           (floor(start_off / {PACK_BUDGET})
            <> floor((start_off + n_tokens - 1) / {PACK_BUDGET}))
             AS crosses_boundary
    FROM o
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: lay documents end-to-end in
    deterministic (source, doc_id) order and cut every {PACK_BUDGET}
    tokens. Emits each document's token offset, its training-sequence
    id *within its source shard*, and whether it straddles a sequence
    boundary (those get split by the tokenizer, the standard
    GPT-style packing semantics — no padding, no document dropping).

    Plan: one window aggregation PARTITIONED BY SOURCE — each shard
    packs independently and in parallel. A single global ordering
    would funnel 100 TB through one task; per-shard packing is the
    scale-correct (and production-standard) semantics. One shuffle on
    ``source``; skew bounded by shard sizing upstream (the same knob
    that sizes training shards).
    """
    docs = table_wide(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens"),
    )
    win = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    start_off = F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    o = t.withColumn("start_off", start_off)
    seq_id = F.floor(F.col("start_off") / PACK_BUDGET)
    end_seq = F.floor((F.col("start_off") + F.col("n_tokens") - 1) / PACK_BUDGET)
    return o.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_off",
        seq_id.alias("seq_id"),
        (seq_id != end_seq).alias("crosses_boundary"),
    )


@register(
    "pipeline_corpus_prep",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_words,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ), w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), topw AS (
      SELECT doc_id, MAX(cnt) AS top_cnt FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM w GROUP BY 1, 2
      ) GROUP BY doc_id
    ), keep AS (
      SELECT t.doc_id FROM t JOIN topw ON t.doc_id = topw.doc_id
      WHERE t.n_words >= {QF_MIN_WORDS}
        AND 1 - t.n_distinct::DOUBLE / t.n_words <= {QF_MAX_DUP_RATIO}
        AND topw.top_cnt::DOUBLE / t.n_words <= {QF_MAX_TOP_FRACTION}
    ), d AS (
      SELECT doc.doc_id, doc.source,
             len(string_split(doc.text, ' ')) AS n_tokens,
             md5(lower(trim(doc.text))) AS fp
      FROM documents doc JOIN keep ON doc.doc_id = keep.doc_id
    ), winners AS (
      SELECT fp, MIN(doc_id) AS doc_id FROM d GROUP BY fp
    ), surv AS (
      SELECT d.doc_id, d.source, d.n_tokens
      FROM d JOIN winners ON d.fp = winners.fp AND d.doc_id = winners.doc_id
    ), o AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS start_off
      FROM surv
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(start_off AS BIGINT) AS start_off,
           CAST(floor(start_off / {PACK_BUDGET}) AS BIGINT) AS seq_id
    FROM o
    """,
)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training data pipeline, end to end: quality
    filter → exact dedup (keep min doc_id per content fingerprint) →
    per-shard sequence packing. One registered query proving the
    operators COMPOSE — the output is each surviving document's slot
    in the packed training stream.

    Shuffle audit at 100 TB: the quality filter pays the word-count
    aggregation (its doc_id-keyed shuffles), dedup pays one
    fingerprint-keyed exchange, packing one source-keyed window. All
    keys are either doc_id (uniform), a hash fingerprint (uniform), or
    the shard key — no skew-prone key anywhere, no driver
    materialization, no Python stage.
    """
    from almost_any_file_to_pandas_spark.operators.textstats import (
        text_quality_filter,
    )

    docs = table_wide(spark, sf_dir, "documents")
    keep = text_quality_filter(spark, sf_dir).filter("keep").select("doc_id")
    d = docs.join(keep, "doc_id").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias("n_tokens"),
        F.md5(F.lower(F.trim(F.col("text")))).alias("fp"),
    )
    winners = d.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    surv = d.join(winners, ["fp", "doc_id"]).select(
        "doc_id", "source", "n_tokens"
    )
    win = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    o = surv.withColumn(
        "start_off", F.coalesce(F.sum("n_tokens").over(win), F.lit(0))
    )
    return o.select(
        "doc_id",
        "source",
        "n_tokens",
        "start_off",
        F.floor(F.col("start_off") / PACK_BUDGET).alias("seq_id"),
    )


# Content-keyed split: hashing the TEXT (not doc_id) keeps byte-
# identical documents in the same split even across re-ingestion
# under new ids, and makes the assignment reproducible from the data
# alone — no RNG state, no ordering dependence, shard-stable.
SPLIT_TRAIN_PCT = 80
SPLIT_VAL_PCT = 10  # test = remainder


def split_bucket_expr(text_col):
    """Deterministic 0-99 bucket from the md5 of the content — the
    first 8 hex chars parsed as an int, identical arithmetic in the
    DuckDB oracle."""
    return (
        F.conv(F.substring(F.md5(text_col), 1, 8), 16, 10).cast("bigint")
        % 100
    )


_SPLIT_BUCKET_SQL = "(('0x' || substr(md5(text), 1, 8))::BIGINT % 100)"

_SPLIT_CASE_SQL = f"""CASE
    WHEN {_SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PCT} THEN 'train'
    WHEN {_SPLIT_BUCKET_SQL} < {SPLIT_TRAIN_PCT + SPLIT_VAL_PCT} THEN 'val'
    ELSE 'test' END"""


@register(
    "text_corpus_split",
    oracle=f"""
    SELECT doc_id,
           {_SPLIT_BUCKET_SQL} AS bucket,
           {_SPLIT_CASE_SQL} AS split
    FROM documents
    """,
)
def text_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by content
    hash — the split step every training pipeline runs between
    curation and tokenization. A pure projection (zero shuffle, zero
    state): at 100 TB the split is a free column on the scan, and
    downstream writers partition by it. Content-keyed hashing (not
    random, not id-keyed) is the production choice: re-ingested or
    re-sharded copies of a document land in the SAME split, so
    train/test leakage can't be introduced by pipeline mechanics.
    """
    docs = table(spark, sf_dir, "documents")
    bucket = split_bucket_expr(F.col("text"))
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_TRAIN_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("test")
        .alias("split"),
    )


def _leakage_oracle() -> str:
    """Compose the verified-pair oracle (dedup's brute-force shingle
    Jaccard, threshold 0.8) as a derived table under the split
    assignment — one SQL statement DuckDB runs as-is."""
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _SHINGLE_JACCARD_ORACLE,
        JACCARD_THRESHOLD,
    )

    pair_sql = _SHINGLE_JACCARD_ORACLE.format(threshold=JACCARD_THRESHOLD)
    return f"""
    WITH splits AS (
      SELECT doc_id, {_SPLIT_CASE_SQL} AS split FROM documents
    )
    SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
    FROM ({pair_sql}) p
    JOIN splits sa ON p.doc_a = sa.doc_id
    JOIN splits sb ON p.doc_b = sb.doc_id
    WHERE sa.split <> sb.split
    """


@register("split_leakage_pairs", oracle=_leakage_oracle())
def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage census: near-duplicate pairs (verified
    Jaccard ≥ 0.8, the MinHash-LSH contract) whose two members landed
    in DIFFERENT splits — each row is an evaluation-contamination
    incident the curation pass must resolve (drop the eval copy or
    re-home the pair). Exact dedup can't catch these: the members
    are near-copies, not byte-copies, so their content hashes — and
    therefore their split buckets — are independent.

    Plan: the capped LSH candidate/verify pipeline (linear, one
    bucket shuffle) produces the pair set; the split column is a
    free projection joined onto each side by doc_id. The pair set is
    candidate-sized (tiny vs corpus), so both split joins broadcast
    the pairs.
    """
    from almost_any_file_to_pandas_spark.operators.dedup import (
        dedup_minhash_lsh,
    )

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    splits = text_corpus_split(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    return (
        sa.join(F.broadcast(pairs), "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("doc_a", "doc_b", "split_a", "split_b")
    )


N_EXPORT_SHARDS = 64  # output shards for the training-export manifest


def _shard_sql(expr: str) -> str:
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _portable_token_hash_sql,
    )

    return f"({_portable_token_hash_sql(expr)} % {N_EXPORT_SHARDS})"


@register(
    "pipeline_shard_manifest",
    oracle=f"""
    WITH assigned AS (
      SELECT {_shard_sql("CAST(doc_id AS VARCHAR)")} AS shard_id,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), per_shard AS (
      SELECT shard_id,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM assigned GROUP BY shard_id
    ), spread AS (
      SELECT MAX(n_docs) AS mx, MIN(n_docs) AS mn FROM per_shard
    )
    SELECT p.shard_id, p.n_docs, p.n_tokens,
           s.mx * 10 <= s.mn * 30 AS balance_ok
    FROM per_shard p CROSS JOIN spread s
    """,
)
def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export shard manifest — the last step before a corpus
    ships to a trainer: every document deterministically assigned to
    one of ``N_EXPORT_SHARDS`` output shards by the portable md5 hash
    of its id (reshard-stable: re-running the export reproduces the
    identical shard membership, so downstream data-order-sensitive
    runs are replayable), with per-shard doc/token counts and a
    balance check (max shard ≤ 3× min — hash sharding concentrates
    only if the hash is broken, which is exactly what the check
    catches).

    Plan: one narrow projection computes the shard key + token count,
    one |shards|-sized aggregate, a 1-row spread fold broadcast back.
    The actual export is ``df.repartition(N, shard_id).write`` — the
    manifest is its audit record, and the same hash expression is the
    partition key, so manifest and files agree by construction.
    """
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _portable_token_hash,
    )

    docs = table_wide(spark, sf_dir, "documents")
    assigned = docs.select(
        (_portable_token_hash(F.col("doc_id").cast("string"))
         % N_EXPORT_SHARDS).alias("shard_id"),
        F.size(F.split(F.col("text"), " ", -1)).alias("n_tokens"),
    )
    per_shard = assigned.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    spread = per_shard.agg(
        F.max("n_docs").alias("mx"), F.min("n_docs").alias("mn")
    )
    return per_shard.crossJoin(F.broadcast(spread)).select(
        "shard_id",
        "n_docs",
        "n_tokens",
        (F.col("mx") * 10 <= F.col("mn") * 30).alias("balance_ok"),
    )


# ---- Z-order layout planner -------------------------------------------
# 16 bits per dimension folded from (custkey, epoch-day); Morton key
# stays < 2^32 so every bit word is far from the 1<<63 DuckDB/Spark
# overflow divergence (memory rule: keep shift words <= 32 bits).
ZORDER_BITS = 16
ZSHARD_SHIFT = 20  # Morton blocks of 2^20 grid cells per shard
DATE_SHARD_DAYS_LOG2 = 3  # the date-sorted rival: 8-day shards


def _morton_text(shift_fmt) -> str:
    """Bit-interleave sum; `shift_fmt(col, i)` renders one engine's
    right-shift. All terms are integer literals — integer >> / & / *
    / + are exact on both engines, so no shared-text injection is
    needed (that exemption is only for float formulas)."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"({shift_fmt('k_x', i)} & 1) * {1 << (2 * i)}")
        terms.append(f"({shift_fmt('k_y', i)} & 1) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


_MORTON_SPARK = _morton_text(lambda c, i: f"shiftright({c}, {i})")
_MORTON_DUCK = _morton_text(lambda c, i: f"({c} >> {i})")


@register(
    "pipeline_zorder_layout",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey & 65535 AS k_x,
             (CAST(o_orderdate AS DATE) - DATE '1970-01-01') & 65535
               AS k_y
      FROM orders
    ), sharded AS (
      SELECT k_x, k_y,
             {_MORTON_DUCK} >> {ZSHARD_SHIFT} AS z_shard,
             k_y >> {DATE_SHARD_DAYS_LOG2} AS d_shard
      FROM keyed
    ), z AS (
      SELECT z_shard, COUNT(*) AS n_rows,
             MAX(k_x) - MIN(k_x) + 1 AS x_span,
             MAX(k_y) - MIN(k_y) + 1 AS y_span
      FROM sharded GROUP BY z_shard
    ), d AS (
      SELECT d_shard, COUNT(*) AS n_rows,
             MAX(k_x) - MIN(k_x) + 1 AS x_span,
             MAX(k_y) - MIN(k_y) + 1 AS y_span
      FROM sharded GROUP BY d_shard
    )
    SELECT 'zorder' AS layout, CAST(COUNT(*) AS BIGINT) AS n_shards,
           CAST(SUM(n_rows) AS BIGINT) AS n_rows,
           CAST(MAX(n_rows) AS BIGINT) AS max_shard_rows,
           CAST(SUM(x_span) AS BIGINT) AS sum_x_span,
           CAST(SUM(y_span) AS BIGINT) AS sum_y_span,
           CAST(SUM(x_span * y_span) AS BIGINT) AS sum_bbox_area
    FROM z
    -- observed-shards semantics: no summary row for an empty scan
    -- (Spark's shard groupBy emits none); real data has >= 1 shard
    HAVING COUNT(*) > 0
    UNION ALL
    SELECT 'datesort', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(n_rows) AS BIGINT), CAST(MAX(n_rows) AS BIGINT),
           CAST(SUM(x_span) AS BIGINT), CAST(SUM(y_span) AS BIGINT),
           CAST(SUM(x_span * y_span) AS BIGINT)
    FROM d
    HAVING COUNT(*) > 0
    """,
)
def pipeline_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout planner: score a Z-ORDER (Morton-interleaved)
    sharding of orders on (custkey, order-day) against the naive
    date-sorted sharding, by the metrics data skipping actually pays
    for — each shard's (min,max) per-dimension envelope (what a
    reader's min/max zone maps prune on). ``sum_x_span`` /
    ``sum_y_span`` are ∝ the expected number of shards a point
    predicate on that column touches: the date-sorted layout is
    unbeatable on date (tiny y spans) but leaves EVERY shard's
    custkey span at full width (no pruning at all on x); Z-order
    balances both (on this corpus ~37× fewer shard-touches for a
    50/50 mixed point-query workload, measured at sf0.1). The report
    (layout, shard count, row totals, max shard size, span sums,
    envelope areas) is the tradeoff table a 100 TB writer consults
    before committing a layout.

    All-integer end to end: 16-bit folded keys, a 32-term
    bit-interleave (exact on both engines; shift words ≤ 32 bits so
    the DuckDB 1<<63 overflow divergence is unreachable), integer
    envelope areas. The Morton expression is generated once and
    rendered per engine dialect (`shiftright` vs `>>`).

    Plan: ONE scan of orders pruned to two columns (plan-pinned: the
    naive two-branch union read the fact once per layout), the Morton
    key computed in whole-stage codegen, both layouts' shard rows
    emitted in-row by ``stack`` (2 tiny rows per order), one
    map-side-combinable hash aggregate on (layout, shard), then a
    layout-keyed fold over shard-count-sized frames.
    """
    keyed = table(spark, sf_dir, "orders").select(
        F.expr("o_custkey & 65535").alias("k_x"),
        F.expr(
            "CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')"
            " AS BIGINT) & 65535"
        ).alias("k_y"),
    )
    stacked = keyed.select(
        "k_x",
        "k_y",
        F.expr(
            f"stack(2,"
            f" 'zorder', shiftright({_MORTON_SPARK}, {ZSHARD_SHIFT}),"
            f" 'datesort', shiftright(k_y, {DATE_SHARD_DAYS_LOG2}))"
            " AS (layout, shard)"
        ),
    )
    per_shard = stacked.groupBy("layout", "shard").agg(
        F.count("*").alias("n_rows"),
        (F.max("k_x") - F.min("k_x") + 1).alias("x_span"),
        (F.max("k_y") - F.min("k_y") + 1).alias("y_span"),
    )
    return per_shard.groupBy("layout").agg(
        F.count("*").cast("long").alias("n_shards"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        F.max("n_rows").cast("long").alias("max_shard_rows"),
        F.sum("x_span").cast("long").alias("sum_x_span"),
        F.sum("y_span").cast("long").alias("sum_y_span"),
        F.sum(F.col("x_span") * F.col("y_span"))
        .cast("long")
        .alias("sum_bbox_area"),
    )


@register(
    "pipeline_dataset_card",
    oracle="""
    WITH stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COALESCE(SUM(length(text)), 0) AS BIGINT)
               AS total_chars,
             CAST(COALESCE(SUM(len(string_split(text, ' '))), 0)
                  AS BIGINT) AS total_tokens
      FROM documents
    ), fp AS (
      -- DISTINCT subquery + COUNT(*) keeps the NULL-text fingerprint
      -- as its own cluster (COUNT(DISTINCT ...) would drop it),
      -- matching Spark's distinct().count() and the cluster-size
      -- histogram's NULL group
      SELECT CAST(COUNT(*) AS BIGINT) AS unique_fingerprints
      FROM (SELECT DISTINCT md5(lower(trim(text))) FROM documents)
    ), lc AS (
      SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang
    ), langs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_langs FROM lc
    ), top AS (
      SELECT lang AS top_lang, CAST(c AS BIGINT) AS top_c
      FROM lc ORDER BY c DESC, lang ASC NULLS LAST LIMIT 1
    ), srcs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sources
      FROM (SELECT DISTINCT source FROM documents)
    )
    SELECT s.n_docs, sc.n_sources, l.n_langs,
           s.total_tokens, s.total_chars,
           f.unique_fingerprints,
           s.n_docs - f.unique_fingerprints AS dup_docs,
           CAST(CASE WHEN s.n_docs = 0 THEN 0
                ELSE (s.n_docs - f.unique_fingerprints) * 1000000
                     // s.n_docs END AS BIGINT) AS dup_rate_q6,
           CAST(CASE WHEN s.n_docs = 0 THEN 0
                ELSE s.total_tokens * 1000000 // s.n_docs
                END AS BIGINT) AS mean_doc_tokens_q6,
           t.top_lang,
           CAST(CASE WHEN s.n_docs = 0 THEN 0
                ELSE COALESCE(t.top_c, 0) * 1000000 // s.n_docs
                END AS BIGINT) AS top_lang_share_q6
    FROM stats s, fp f, langs l, srcs sc
    LEFT JOIN top t ON 1 = 1
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row DATASET CARD — the corpus summary a training-data
    release ships first: document/source/language counts, token and
    character mass, exact-duplicate mass (dedup_exact's fingerprint),
    mean document length, and the dominant language with its share.
    Every ratio is an exact q6 integer; the card is the cheap union
    of this module's audit families, here as ONE registered row the
    gate hashes end-to-end.

    Plan: column-pruned narrow passes per statistic — counts+sums in
    one scan, the fingerprint distinct on its own shuffle, the
    (lang) and (source) count frames (vocabulary-sized) reused for
    cardinality AND the top-1 pick — then 1-row broadcast joins. NO
    multi-distinct aggregate: a single agg with three COUNT(DISTINCT)
    would Expand the 100 TB scan ×3 (the lineitem_profile lesson);
    separate pruned passes each read one column.
    """
    docs = table_wide(spark, sf_dir, "documents")
    stats = docs.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.length("text")), F.lit(0))
        .cast("long")
        .alias("total_chars"),
        F.coalesce(
            F.sum(F.size(F.split(F.col("text"), " ", -1))), F.lit(0)
        )
        .cast("long")
        .alias("total_tokens"),
    )
    fp = (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
        )
        .distinct()
        .agg(F.count("*").cast("long").alias("unique_fingerprints"))
    )
    lc = docs.groupBy("lang").agg(F.count("*").alias("c"))
    langs = lc.agg(F.count("*").cast("long").alias("n_langs"))
    top = (
        lc.orderBy(F.desc("c"), F.asc_nulls_last("lang"))
        .limit(1)
        .select(
            F.col("lang").alias("top_lang"),
            F.col("c").cast("long").alias("top_c"),
        )
    )
    srcs = (
        docs.select("source")
        .distinct()
        .agg(F.count("*").cast("long").alias("n_sources"))
    )
    return (
        stats.crossJoin(F.broadcast(fp))
        .crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(srcs))
        .join(F.broadcast(top), F.lit(True), "left")
        .selectExpr(
            "n_docs",
            "n_sources",
            "n_langs",
            "total_tokens",
            "total_chars",
            "unique_fingerprints",
            "n_docs - unique_fingerprints AS dup_docs",
            "CAST(CASE WHEN n_docs = 0 THEN 0"
            " ELSE (n_docs - unique_fingerprints) * 1000000 div n_docs"
            " END AS BIGINT) AS dup_rate_q6",
            "CAST(CASE WHEN n_docs = 0 THEN 0"
            " ELSE total_tokens * 1000000 div n_docs"
            " END AS BIGINT) AS mean_doc_tokens_q6",
            "top_lang",
            "CAST(CASE WHEN n_docs = 0 THEN 0"
            " ELSE COALESCE(top_c, 0) * 1000000 div n_docs"
            " END AS BIGINT) AS top_lang_share_q6",
        )
    )


# context lengths for the padding-waste audit: short / medium / long
PAD_AUDIT_SEQ_LENS = (128, 512, 2048)
QUOTA_PER_SOURCE = 10  # stratified eval-sample quota


@register(
    "text_padding_waste_audit",
    oracle=f"""
    WITH t AS (
      SELECT len(string_split(text, ' ')) AS n_tokens FROM documents
    ), tot AS (
      SELECT COUNT(*) AS n_docs,
             COALESCE(SUM(n_tokens), 0) AS total_tokens
      FROM t
    ), pts AS (
      SELECT l.seq_len,
             COALESCE(SUM(
               ((t.n_tokens + l.seq_len - 1) // l.seq_len) * l.seq_len
             ), 0) AS padded_tokens_naive
      FROM (VALUES {', '.join(f'({v})' for v in PAD_AUDIT_SEQ_LENS)})
           l(seq_len)
      LEFT JOIN t ON TRUE
      GROUP BY l.seq_len
    )
    SELECT CAST(p.seq_len AS BIGINT) AS seq_len,
           CAST(x.n_docs AS BIGINT) AS n_docs,
           CAST(x.total_tokens AS BIGINT) AS total_tokens,
           CAST(p.padded_tokens_naive AS BIGINT) AS padded_tokens_naive,
           CAST(CASE WHEN p.padded_tokens_naive = 0 THEN 0
                ELSE (p.padded_tokens_naive - x.total_tokens) * 1000000
                     // p.padded_tokens_naive
                END AS BIGINT) AS waste_naive_q6,
           CAST(((x.total_tokens + p.seq_len - 1) // p.seq_len)
                AS BIGINT) AS packed_sequences,
           CAST(CASE WHEN x.total_tokens = 0 THEN 0
                ELSE (((x.total_tokens + p.seq_len - 1) // p.seq_len)
                      * p.seq_len - x.total_tokens) * 1000000
                     // (((x.total_tokens + p.seq_len - 1) // p.seq_len)
                         * p.seq_len)
                END AS BIGINT) AS waste_packed_q6
    FROM pts p, tot x
    """,
)
def text_padding_waste_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batching-efficiency audit behind :func:`text_pack_sequences`:
    for each candidate context length, the token waste of NAIVE
    one-document-per-sequence batching (every document padded up to a
    multiple of seq_len) versus concat-packing (only the final
    sequence padded) — the number that justifies running the packer
    at all, measured rather than assumed. One row per seq_len with
    kept/padded token counts and q6 waste shares.

    Plan: per-doc token counts are one narrow projection; the 3-row
    seq_len frame joins broadcast and the sweep aggregates map-side
    into 3 groups — one scan for the whole audit. Integer ceiling
    division throughout ((n + L − 1) div L — exact on both engines).
    """
    docs = table_wide(spark, sf_dir, "documents")
    t = docs.select(
        F.size(F.split(F.col("text"), " ", -1)).cast("long").alias(
            "n_tokens"
        )
    )
    lens = spark.createDataFrame(
        [(v,) for v in PAD_AUDIT_SEQ_LENS], "seq_len long"
    )
    pts = (
        t.crossJoin(F.broadcast(lens))
        .groupBy("seq_len")
        .agg(
            F.sum(
                F.expr("((n_tokens + seq_len - 1) div seq_len) * seq_len")
            ).alias("padded_tokens_naive")
        )
    )
    pts = lens.join(pts, "seq_len", "left").select(
        "seq_len",
        F.coalesce("padded_tokens_naive", F.lit(0)).alias(
            "padded_tokens_naive"
        ),
    )
    tot = t.agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("total_tokens"),
    )
    return pts.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(seq_len AS BIGINT) AS seq_len",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(total_tokens AS BIGINT) AS total_tokens",
        "CAST(padded_tokens_naive AS BIGINT) AS padded_tokens_naive",
        "CAST(CASE WHEN padded_tokens_naive = 0 THEN 0"
        " ELSE (padded_tokens_naive - total_tokens) * 1000000"
        " div padded_tokens_naive END AS BIGINT) AS waste_naive_q6",
        "CAST((total_tokens + seq_len - 1) div seq_len AS BIGINT)"
        " AS packed_sequences",
        "CAST(CASE WHEN total_tokens = 0 THEN 0"
        " ELSE (((total_tokens + seq_len - 1) div seq_len) * seq_len"
        " - total_tokens) * 1000000"
        " div (((total_tokens + seq_len - 1) div seq_len) * seq_len)"
        " END AS BIGINT) AS waste_packed_q6",
    )


@register(
    "pipeline_stratified_quota_sample",
    oracle=f"""
    SELECT doc_id, source, CAST(pick_rank AS BIGINT) AS pick_rank
    FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS pick_rank
      FROM documents
    ) WHERE pick_rank <= {QUOTA_PER_SOURCE}
    """,
)
def pipeline_stratified_quota_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact-quota stratified sample: {QUOTA_PER_SOURCE} documents per
    source, picked by md5(doc_id) order — the deterministic,
    engine-portable way to draw a fixed-size eval/holdout set per
    stratum (a `rand()` sample is neither reproducible nor
    oracle-checkable; a fraction-based sample drifts with stratum
    size). The hash order is uniform in doc_id, so the quota is an
    unbiased draw; re-running on a grown corpus keeps previously
    sampled docs only if they still win the hash order — for an
    append-stable sample, hash-threshold instead (see
    `pipeline_corpus_split`).

    Plan: one shuffle on source, per-group top-{QUOTA_PER_SOURCE} via
    rank window. At 100 TB the window never materializes a stratum:
    with AQE the rank predicate pushes a per-partition top-k heap
    (WindowGroupLimit) below the exchange, so each task ships at most
    {QUOTA_PER_SOURCE} rows per (partition, source).
    """
    docs = table_wide(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", F.row_number().over(w).alias("pick_rank")
        )
        .filter(F.col("pick_rank") <= QUOTA_PER_SOURCE)
        .select("doc_id", "source", F.col("pick_rank").cast("long"))
    )


GLOBAL_SHUFFLE_SHARDS = 16  # one shard per leading md5 hex digit


@register(
    "pipeline_global_shuffle_shards",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, source, length(text) AS chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard
      FROM documents
    ), per_shard AS (
      SELECT shard,
             COUNT(*) AS n_docs,
             CAST(COALESCE(SUM(chars), 0) AS BIGINT) AS n_chars,
             COUNT(DISTINCT source) AS n_sources
      FROM assigned GROUP BY shard
    ), tot AS (SELECT COALESCE(SUM(n_docs), 0) AS total FROM per_shard)
    SELECT shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           n_chars,
           CAST(n_sources AS BIGINT) AS n_sources,
           -- HUGEINT-widened product: n_docs*16e6 overflows int64 past
           -- ~5.7e11 docs (the r6-review bucket-balance overflow class)
           CAST(CAST(n_docs AS HUGEINT) * 1000000
                * {GLOBAL_SHUFFLE_SHARDS} // t.total
                AS BIGINT) AS load_factor_q6
    FROM per_shard, tot t
    """,
)
def pipeline_global_shuffle_shards(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DETERMINISTIC global training shuffle: every document gets a
    pseudo-random but REPRODUCIBLE position — order key
    ``md5(doc_id)``, shard = its leading hex digit
    ({GLOBAL_SHUFFLE_SHARDS} shards) — and the census verifies what a
    trainer needs from a shuffle: near-uniform shard loads
    (``load_factor_q6`` ≈ 1e6) and source mixing inside every shard
    (``n_sources``). Hash-ordering instead of ``rand()`` is the
    production trick that makes the epoch order stable across reruns,
    resumable mid-epoch, and independent of partition layout — the
    same discipline as the engine's other no-RNG sampling rows.

    Plan: one narrow projection (hash + length — JVM md5, no Python),
    one {GLOBAL_SHUFFLE_SHARDS}-group aggregate with map-side
    combine, and the total folded back as a broadcast scalar. The
    shard WRITE this prices is ``repartition(shard).write`` — at
    100 TB the only full-data movement is that single shuffle, and
    the census is how you check it before paying for it.
    """
    docs = table_wide(spark, sf_dir, "documents")
    assigned = docs.select(
        "source",
        F.length("text").alias("chars"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias(
            "shard"
        ),
    )
    per_shard = assigned.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum("chars"), F.lit(0)).cast("long").alias("n_chars"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    tot = per_shard.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("total")
    )
    return per_shard.crossJoin(F.broadcast(tot)).selectExpr(
        "shard",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "n_chars",
        "n_sources",
        # DECIMAL(38,0)-widened product (see oracle's HUGEINT note)
        f"CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
        f" * {GLOBAL_SHUFFLE_SHARDS} div total"
        " AS BIGINT) AS load_factor_q6",
    )


ENC_ADVISOR_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_quantity",
    "l_discount",
    "l_tax",
    "l_partkey",
)
ENC_DICT_NDV_MAX = 4096  # dictionary page stays effective below this
ENC_RLE_MIN_RUN_Q6 = 2_000_000  # avg run ≥ 2 → run-length wins
# (l_orderkey, l_linenumber) is NOT unique in the testdata, so the
# within-order sort closes over every advisor column: remaining ties
# are rows identical in all compared columns, making run counts
# order-invariant on both engines.
_ENC_SORT_COLS = ("l_linenumber",) + tuple(
    c for c in ENC_ADVISOR_COLS if c != "l_linenumber"
)


def _enc_oracle() -> str:
    runs = ",\n             ".join(
        f"CASE WHEN LAG({c}) OVER w IS NULL OR LAG({c}) OVER w <> {c} "
        f"THEN 1 ELSE 0 END AS run_{c}"
        for c in ENC_ADVISOR_COLS
    )
    aggs = ",\n             ".join(
        f"COUNT(DISTINCT {c}) AS nd_{c}, SUM(run_{c}) AS runs_{c}"
        for c in ENC_ADVISOR_COLS
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS column_name, nd_{c} AS n_distinct, "
        f"runs_{c} AS n_runs, n_rows FROM a"
        for c in ENC_ADVISOR_COLS
    )
    return f"""
    WITH f AS (
      SELECT {", ".join(ENC_ADVISOR_COLS)},
             {runs}
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY {", ".join(_ENC_SORT_COLS)})
    ), a AS (
      SELECT COUNT(*) AS n_rows,
             {aggs}
      FROM f
    ), u AS (
      {arms}
    )
    SELECT column_name,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_runs AS BIGINT) AS n_runs,
           -- NULLIF guards: a fully-empty scan yields n_rows = 0 and
           -- NULL run sums; ratios go NULL instead of erroring
           CAST(n_distinct * 1000000 // NULLIF(n_rows, 0) AS BIGINT)
             AS distinct_ratio_q6,
           CAST(n_rows * 1000000 // NULLIF(n_runs, 0) AS BIGINT)
             AS avg_run_len_q6,
           CASE
             WHEN n_distinct > {ENC_DICT_NDV_MAX} THEN 'PLAIN'
             WHEN n_rows * 1000000 // NULLIF(n_runs, 0)
                  >= {ENC_RLE_MIN_RUN_Q6} THEN 'DICT_RLE'
             ELSE 'DICT'
           END AS encoding
    FROM u
    """


@register("lineitem_encoding_advisor", oracle=_enc_oracle())
def lineitem_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet encoding advisor — the column-layout companion to
    ``lineitem_bucket_advisor`` (bucket counts) and
    ``pipeline_zorder_layout`` (row order): for each candidate column
    it measures the two statistics parquet writers actually decide
    on — exact NDV (dictionary-page viability, cutoff
    {ENC_DICT_NDV_MAX}) and average run length in the table's
    clustered order (RLE viability, cutoff avg ≥ 2) — and emits the
    recommended encoding. Runs are counted within each l_orderkey in
    a deterministic full-column sort (line number, then every advisor
    column — see ``_ENC_SORT_COLS``): the layout a sorted-write
    produces, so the measurement prices the encoding on the order the
    data will actually be laid out in, not on arrival order.

    100 TB shape: ONE shuffle (by l_orderkey — the run windows for
    ALL {len(ENC_ADVISOR_COLS)} columns share the same sort), then a
    single global aggregate. The exact multi-column COUNT(DISTINCT)
    expands the aggregate input ×{len(ENC_ADVISOR_COLS)} (Spark's
    Expand) — the honest price of exact NDV; a production advisor at
    100 TB would flip to approx_count_distinct and keep the identical
    plan shape, but exact NDV is what the DuckDB oracle can restate.
    The per-column unpivot runs on a 1-row frame.
    """
    from pyspark.sql import Window as _W

    li = table(spark, sf_dir, "lineitem")
    w = _W.partitionBy("l_orderkey").orderBy(*_ENC_SORT_COLS)
    flagged = li.select(
        *ENC_ADVISOR_COLS,
        *[
            F.when(
                F.lag(c).over(w).isNull()
                | (F.lag(c).over(w) != F.col(c)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias(f"run_{c}")
            for c in ENC_ADVISOR_COLS
        ],
    )
    agg = flagged.agg(
        F.count("*").alias("n_rows"),
        *[
            e
            for c in ENC_ADVISOR_COLS
            for e in (
                F.countDistinct(c).alias(f"nd_{c}"),
                F.sum(f"run_{c}").alias(f"runs_{c}"),
            )
        ],
    )
    stack_args = ", ".join(
        f"'{c}', nd_{c}, runs_{c}" for c in ENC_ADVISOR_COLS
    )
    u = agg.selectExpr(
        "n_rows",
        f"stack({len(ENC_ADVISOR_COLS)}, {stack_args}) AS "
        "(column_name, n_distinct, n_runs)",
    )
    return u.selectExpr(
        "column_name",
        "CAST(n_distinct AS BIGINT) AS n_distinct",
        "CAST(n_runs AS BIGINT) AS n_runs",
        "CAST(n_distinct * 1000000 div nullif(n_rows, 0) AS BIGINT)"
        " AS distinct_ratio_q6",
        "CAST(n_rows * 1000000 div nullif(n_runs, 0) AS BIGINT)"
        " AS avg_run_len_q6",
        f"""CASE
             WHEN n_distinct > {ENC_DICT_NDV_MAX} THEN 'PLAIN'
             WHEN n_rows * 1000000 div nullif(n_runs, 0)
                  >= {ENC_RLE_MIN_RUN_Q6} THEN 'DICT_RLE'
             ELSE 'DICT'
           END AS encoding""",
    )


def _enc_approx_oracle() -> str:
    # identical run/window machinery to _enc_oracle; NDV-derived
    # columns are replaced by the TRUE-pinned tolerance claim and the
    # encoding recommendation (which the oracle computes from EXACT
    # NDV — the Spark side computes it from the HLL estimate, see the
    # margin analysis in the docstring)
    runs = ",\n             ".join(
        f"CASE WHEN LAG({c}) OVER w IS NULL OR LAG({c}) OVER w <> {c} "
        f"THEN 1 ELSE 0 END AS run_{c}"
        for c in ENC_ADVISOR_COLS
    )
    aggs = ",\n             ".join(
        f"COUNT(DISTINCT {c}) AS nd_{c}, SUM(run_{c}) AS runs_{c}"
        for c in ENC_ADVISOR_COLS
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT '{c}' AS column_name, nd_{c} AS n_distinct, "
        f"runs_{c} AS n_runs, n_rows FROM a"
        for c in ENC_ADVISOR_COLS
    )
    return f"""
    WITH f AS (
      SELECT {", ".join(ENC_ADVISOR_COLS)},
             {runs}
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey
                   ORDER BY {", ".join(_ENC_SORT_COLS)})
    ), a AS (
      SELECT COUNT(*) AS n_rows,
             {aggs}
      FROM f
    ), u AS (
      {arms}
    )
    SELECT column_name,
           CAST(n_runs AS BIGINT) AS n_runs,
           CAST(n_rows * 1000000 // NULLIF(n_runs, 0) AS BIGINT)
             AS avg_run_len_q6,
           CASE
             WHEN n_distinct > {ENC_DICT_NDV_MAX} THEN 'PLAIN'
             WHEN n_rows * 1000000 // NULLIF(n_runs, 0)
                  >= {ENC_RLE_MIN_RUN_Q6} THEN 'DICT_RLE'
             ELSE 'DICT'
           END AS encoding,
           TRUE AS ndv_within_tol
    FROM u
    """


@register("lineitem_encoding_advisor_approx", oracle=_enc_approx_oracle())
def lineitem_encoding_advisor_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The 100 TB form of :func:`lineitem_encoding_advisor` (r7
    verdict Next-round #3: the docstring's documented
    approx_count_distinct swap implemented and registered): identical
    run/sort machinery — ONE l_orderkey shuffle shared by all
    {len(ENC_ADVISOR_COLS)} run windows — but NDV comes from an HLL++
    sketch (rsd 0.02) folded inside the SAME hash aggregate as the
    run sums, so the plan has NO multi-distinct Expand (the exact
    advisor's ×{len(ENC_ADVISOR_COLS)} aggregate-input multiplication,
    its one data-proportional term). ``encoding`` is decided on the
    ESTIMATE; the oracle decides on exact NDV, so the gate proves the
    approx advisor reaches the recommendation exact NDV would.

    Decision-margin analysis (why estimate-vs-exact can't disagree
    here): the only NDV-dependent cut is dictionary viability at
    {ENC_DICT_NDV_MAX}; the advisor columns sit at NDV ≈ 2–50
    (flags/quantity/discount/tax) or ≈ 0.2M·SF (l_partkey: 2k at
    sf0.01, 20k at sf0.1) — every column ≥ 2× away from the cutoff at
    the driver's scale factors, vs a 2% relative sketch error. A
    corpus whose true NDV sits inside the sketch-error band of the
    cutoff is genuinely indifferent between the two encodings.

    ``ndv_within_tol`` additionally pins every column's estimate
    within ±APPROX_REL_TOL of exact (the exact anchor runs as its OWN
    Expand pass, verification harness only — the floor-row
    discipline; a production run at 100 TB skips it).
    """
    from almost_any_file_to_pandas_spark.plans.relational import (
        APPROX_REL_TOL,
    )

    li = table(spark, sf_dir, "lineitem")
    agg = encoding_advisor_approx_agg(li)
    anchor = li.agg(
        *[
            F.countDistinct(F.col(c)).alias(f"x_{c}")
            for c in ENC_ADVISOR_COLS
        ]
    )
    stack_args = ", ".join(
        f"'{c}', nd_{c}, runs_{c}, x_{c}" for c in ENC_ADVISOR_COLS
    )
    u = agg.crossJoin(F.broadcast(anchor)).selectExpr(
        "n_rows",
        f"stack({len(ENC_ADVISOR_COLS)}, {stack_args}) AS "
        "(column_name, nd_approx, n_runs, nd_exact)",
    )
    return u.selectExpr(
        "column_name",
        "CAST(n_runs AS BIGINT) AS n_runs",
        "CAST(n_rows * 1000000 div nullif(n_runs, 0) AS BIGINT)"
        " AS avg_run_len_q6",
        f"""CASE
             WHEN nd_approx > {ENC_DICT_NDV_MAX} THEN 'PLAIN'
             WHEN n_rows * 1000000 div nullif(n_runs, 0)
                  >= {ENC_RLE_MIN_RUN_Q6} THEN 'DICT_RLE'
             ELSE 'DICT'
           END AS encoding""",
        f"abs(CAST(nd_approx AS BIGINT) - nd_exact)"
        f" <= {APPROX_REL_TOL} * nd_exact AS ndv_within_tol",
    )


def encoding_advisor_approx_agg(li: DataFrame) -> DataFrame:
    """The PRODUCTION 100 TB advisor aggregate: one l_orderkey-sorted
    window pass feeding a single Expand-free hash aggregate — HLL
    sketches for all {len(ENC_ADVISOR_COLS)} columns ride the same
    aggregate as the run sums. The registered row joins this against
    its exact-NDV anchor (verification harness only)."""
    from pyspark.sql import Window as _W

    w = _W.partitionBy("l_orderkey").orderBy(*_ENC_SORT_COLS)
    flagged = li.select(
        *ENC_ADVISOR_COLS,
        *[
            F.when(
                F.lag(c).over(w).isNull()
                | (F.lag(c).over(w) != F.col(c)),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .alias(f"run_{c}")
            for c in ENC_ADVISOR_COLS
        ],
    )
    return flagged.agg(
        F.count("*").alias("n_rows"),
        *[
            e
            for c in ENC_ADVISOR_COLS
            for e in (
                F.approx_count_distinct(c, rsd=0.02).alias(f"nd_{c}"),
                F.sum(f"run_{c}").alias(f"runs_{c}"),
            )
        ],
    )


DSIR_BUCKETS = 1024  # hashed unigram feature space (DSIR §3 shape)
DSIR_TARGET_LANG = "en"  # the "target domain" the selector tilts toward
DSIR_K = 100  # selected corpus size

_DSIR_BUCKET_SQL = (
    f"(('0x' || substr(md5(term), 1, 8))::BIGINT % {DSIR_BUCKETS})"
)


@register(
    "pipeline_dsir_select",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, lang, source,
             unnest(string_split(text, ' ')) AS term
      FROM documents
    ), b AS (
      SELECT doc_id, lang, source, {_DSIR_BUCKET_SQL} AS bucket FROM tok
    ), counts AS (
      SELECT bucket, COUNT(*) AS cnt_all,
             COUNT(*) FILTER (WHERE lang = '{DSIR_TARGET_LANG}') AS cnt_t
      FROM b GROUP BY bucket
    ), tot AS (
      SELECT COALESCE(SUM(cnt_all), 0) AS n_all,
             COALESCE(SUM(cnt_t), 0) AS n_t
      FROM counts
    ), weights AS (
      SELECT bucket,
             CAST((cnt_t + 1)::HUGEINT * (n_all + {DSIR_BUCKETS})
                  * 1000000
                  // ((cnt_all + 1)::HUGEINT * (n_t + {DSIR_BUCKETS}))
                  AS BIGINT) AS w_q6
      FROM counts CROSS JOIN tot
    ), scored AS (
      SELECT b.doc_id, b.lang, b.source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w_q6) AS BIGINT) AS score_q6
      FROM b JOIN weights w ON w.bucket = b.bucket
      GROUP BY b.doc_id, b.lang, b.source
    ), ranked AS (
      SELECT doc_id, lang, source, n_tokens, score_q6,
             ROW_NUMBER() OVER (ORDER BY score_q6 DESC, doc_id) AS rnk
      FROM scored
    )
    SELECT doc_id, lang, source, n_tokens, score_q6, rnk
    FROM ranked WHERE rnk <= {DSIR_K}
    """,
)
def pipeline_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection with importance resampling (DSIR — Xie et al.
    2023, arXiv:2302.03169) restated log-free: documents are scored
    by hashed-unigram importance weights toward a target domain
    (lang='{DSIR_TARGET_LANG}') and the top {DSIR_K} are selected.
    Per hashed bucket the weight is the smoothed RATIONAL likelihood
    ratio ``w_q6 = (cnt_target+1)·(N_all+B)·1e6 div
    ((cnt_all+1)·(N_target+B))`` (add-one over B = {DSIR_BUCKETS}
    buckets); a document's score is the exact integer sum of its
    token occurrences' weights. The paper sums log-ratios; ln() is
    not bit-identical across engines (the repo's float contract —
    see retrieval.py's rational BM25 idf), so the ratio itself is the
    per-token weight: same target-tilted selector, exact integers end
    to end, HUGEINT/DECIMAL(38,0)-widened (cnt·N·1e6 passes int64 at
    web scale).

    100 TB shape: TWO corpus passes, both narrow — pass 1 hashes
    tokens into {DSIR_BUCKETS} buckets and counts target/all per
    bucket in ONE map-side-combined shuffle (the n-gram feature table
    is fixed-size regardless of corpus — the DSIR trick); totals fold
    from the bucket frame, never a re-scan. Pass 2 re-hashes and
    joins the BROADCAST {DSIR_BUCKETS}-row weight table, partial-sums
    per doc (one doc-keyed shuffle), and selects via
    TakeOrderedAndProject (per-partition heaps, never a global sort).
    The rank window runs over the ≤{DSIR_K}-row LIMIT result.
    """
    from pyspark.sql import Window as _W

    docs = table_wide(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.split(F.col("text"), " ", -1)).alias("term"),
    )
    b = tok.select(
        "doc_id",
        "lang",
        "source",
        (
            F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast(
                "bigint"
            )
            % DSIR_BUCKETS
        ).alias("bucket"),
    )
    counts = b.groupBy("bucket").agg(
        F.count("*").alias("cnt_all"),
        F.count(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1)
        ).alias("cnt_t"),
    )
    tot = counts.agg(
        F.coalesce(F.sum("cnt_all"), F.lit(0)).alias("n_all"),
        F.coalesce(F.sum("cnt_t"), F.lit(0)).alias("n_t"),
    )
    weights = counts.crossJoin(F.broadcast(tot)).selectExpr(
        "bucket",
        f"CAST(CAST(cnt_t + 1 AS DECIMAL(38,0)) * (n_all + {DSIR_BUCKETS})"
        f" * 1000000 div (CAST(cnt_all + 1 AS DECIMAL(38,0))"
        f" * (n_t + {DSIR_BUCKETS})) AS BIGINT) AS w_q6",
    )
    scored = (
        b.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("w_q6").cast("long").alias("score_q6"),
        )
    )
    top = scored.orderBy(F.desc("score_q6"), F.asc("doc_id")).limit(DSIR_K)
    # rank window over ≤ k pre-limited rows (non-foldable constant
    # partition key — the retrieval_bm25_rational_topk pattern)
    w = _W.partitionBy(F.pmod(F.col("score_q6"), F.lit(1))).orderBy(
        F.desc("score_q6"), F.asc("doc_id")
    )
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "doc_id", "lang", "source", "n_tokens", "score_q6", "rnk"
    )


ZM_ORDERKEY_SPAN = 2048  # natural-layout row-group = orderkey band
ZM_SORT_GROUP_ROWS = 4096  # row-group size of the hypothetical sort
ZM_SHIP_LO = "1995-01-01"
ZM_SHIP_HI = "1996-01-01"
ZM_QTY_LO = 45
ZM_DISC_EQ = 0.05


@register(
    "lineitem_zonemap_advisor",
    oracle=f"""
    WITH b AS (
      SELECT l_orderkey // {ZM_ORDERKEY_SPAN} AS band,
             COUNT(*) AS n,
             MIN(l_shipdate) AS ship_min, MAX(l_shipdate) AS ship_max,
             MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
             MIN(l_discount) AS disc_min, MAX(l_discount) AS disc_max,
             COUNT(*) FILTER (WHERE l_shipdate >= TIMESTAMP '{ZM_SHIP_LO}'
                              AND l_shipdate < TIMESTAMP '{ZM_SHIP_HI}')
               AS m1,
             COUNT(*) FILTER (WHERE l_shipdate < TIMESTAMP '{ZM_SHIP_LO}')
               AS lo1,
             COUNT(*) FILTER (WHERE l_shipdate >= TIMESTAMP '{ZM_SHIP_HI}')
               AS hi1,
             COUNT(*) FILTER (WHERE l_quantity >= {ZM_QTY_LO}) AS m2,
             COUNT(*) FILTER (WHERE l_quantity < {ZM_QTY_LO}) AS lo2,
             COUNT(*) FILTER (WHERE l_discount = {ZM_DISC_EQ}) AS m3,
             COUNT(*) FILTER (WHERE l_discount < {ZM_DISC_EQ}) AS lo3,
             COUNT(*) FILTER (WHERE l_discount > {ZM_DISC_EQ}) AS hi3
      FROM lineitem GROUP BY 1
    ), g AS (
      SELECT COALESCE(SUM(n), 0) AS n_rows, COUNT(*) AS groups_nat,
             COALESCE(SUM(m1), 0) AS m1, COALESCE(SUM(lo1), 0) AS lo1,
             COALESCE(SUM(hi1), 0) AS hi1,
             COALESCE(SUM(m2), 0) AS m2, COALESCE(SUM(lo2), 0) AS lo2,
             COALESCE(SUM(m3), 0) AS m3, COALESCE(SUM(lo3), 0) AS lo3,
             COALESCE(SUM(hi3), 0) AS hi3,
             COUNT(*) FILTER (WHERE ship_max < TIMESTAMP '{ZM_SHIP_LO}'
                              OR ship_min >= TIMESTAMP '{ZM_SHIP_HI}')
               AS skip1,
             COUNT(*) FILTER (WHERE qty_max < {ZM_QTY_LO}) AS skip2,
             COUNT(*) FILTER (WHERE disc_max < {ZM_DISC_EQ}
                              OR disc_min > {ZM_DISC_EQ}) AS skip3
      FROM b
    ), u AS (
      SELECT 'shipdate_year_1995' AS predicate, m1 AS n_match,
             skip1 AS skip_natural, lo1 AS n_below, hi1 AS n_above,
             n_rows, groups_nat FROM g
      UNION ALL
      SELECT 'quantity_ge_{ZM_QTY_LO}', m2, skip2, lo2, 0,
             n_rows, groups_nat FROM g
      UNION ALL
      SELECT 'discount_eq_005', m3, skip3, lo3, hi3,
             n_rows, groups_nat FROM g
    )
    SELECT predicate,
           CAST(n_match AS BIGINT) AS n_match,
           CAST(groups_nat AS BIGINT) AS groups_natural,
           CAST(skip_natural AS BIGINT) AS skip_natural,
           CAST((n_rows + {ZM_SORT_GROUP_ROWS} - 1)
                // {ZM_SORT_GROUP_ROWS} AS BIGINT) AS groups_sorted,
           CAST(n_below // {ZM_SORT_GROUP_ROWS}
                + n_above // {ZM_SORT_GROUP_ROWS} AS BIGINT)
             AS skip_sorted,
           CAST(skip_natural * 1000000 // NULLIF(groups_nat, 0)
                AS BIGINT) AS skip_natural_q6,
           CAST((n_below // {ZM_SORT_GROUP_ROWS}
                 + n_above // {ZM_SORT_GROUP_ROWS}) * 1000000
                // NULLIF((n_rows + {ZM_SORT_GROUP_ROWS} - 1)
                          // {ZM_SORT_GROUP_ROWS}, 0) AS BIGINT)
             AS skip_sorted_q6
    FROM u
    """,
)
def lineitem_zonemap_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (parquet row-group min/max pruning) advisor — the
    fourth leg of the physical-design family (bucket counts, z-order,
    encodings, now SKIPPING): for three representative predicates
    (a shipdate year range, a quantity tail, a discount point lookup)
    it prices how many row groups min/max statistics would skip under
    the CURRENT clustered layout ({ZM_ORDERKEY_SPAN}-orderkey bands,
    real per-band min/max — a band with a value gap is honestly
    non-skippable) versus under a layout SORTED by the predicate
    column (where skipped groups are exactly the full
    {ZM_SORT_GROUP_ROWS}-row groups strictly outside the value range:
    ``n_below div G + n_above div G`` — no hypothetical sort is ever
    executed). The q6 shares are what a layout decision reads:
    sorted-by-shipdate skipping ≫ natural means the sort pays for
    itself on time-ranged scans.

    100 TB shape: ONE corpus shuffle — every band's min/max for all
    three columns AND all match/below/above conditional counts ride
    the same map-side-combined groupBy(band); global numbers fold
    from the band frame (never a second scan), and the three
    predicate rows are a UNION of 1-row projections over that scalar
    frame. Empty-safe by construction (global aggregate + NULLIF).
    """
    li = table(spark, sf_dir, "lineitem")
    lo_ts = f"TIMESTAMP '{ZM_SHIP_LO}'"
    hi_ts = f"TIMESTAMP '{ZM_SHIP_HI}'"
    b = li.groupBy(
        F.expr(f"l_orderkey div {ZM_ORDERKEY_SPAN}").alias("band")
    ).agg(
        F.count("*").alias("n"),
        F.min("l_shipdate").alias("ship_min"),
        F.max("l_shipdate").alias("ship_max"),
        F.min("l_quantity").alias("qty_min"),
        F.max("l_quantity").alias("qty_max"),
        F.min("l_discount").alias("disc_min"),
        F.max("l_discount").alias("disc_max"),
        F.expr(
            f"count_if(l_shipdate >= {lo_ts} AND l_shipdate < {hi_ts})"
        ).alias("m1"),
        F.expr(f"count_if(l_shipdate < {lo_ts})").alias("lo1"),
        F.expr(f"count_if(l_shipdate >= {hi_ts})").alias("hi1"),
        F.expr(f"count_if(l_quantity >= {ZM_QTY_LO})").alias("m2"),
        F.expr(f"count_if(l_quantity < {ZM_QTY_LO})").alias("lo2"),
        F.expr(f"count_if(l_discount = {ZM_DISC_EQ})").alias("m3"),
        F.expr(f"count_if(l_discount < {ZM_DISC_EQ})").alias("lo3"),
        F.expr(f"count_if(l_discount > {ZM_DISC_EQ})").alias("hi3"),
    )
    g = b.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("n_rows"),
        F.count("*").alias("groups_nat"),
        *[
            F.coalesce(F.sum(c), F.lit(0)).alias(c)
            for c in ("m1", "lo1", "hi1", "m2", "lo2", "m3", "lo3", "hi3")
        ],
        F.expr(
            f"count_if(ship_max < {lo_ts} OR ship_min >= {hi_ts})"
        ).alias("skip1"),
        F.expr(f"count_if(qty_max < {ZM_QTY_LO})").alias("skip2"),
        F.expr(
            f"count_if(disc_max < {ZM_DISC_EQ} OR disc_min > {ZM_DISC_EQ})"
        ).alias("skip3"),
    ).localCheckpoint(eager=True)  # 1 row: the three predicate arms
    # below project from it WITHOUT re-running the corpus band scan
    arms = [
        ("shipdate_year_1995", "m1", "skip1", "lo1", "hi1"),
        (f"quantity_ge_{ZM_QTY_LO}", "m2", "skip2", "lo2", "0"),
        ("discount_eq_005", "m3", "skip3", "lo3", "hi3"),
    ]
    G = ZM_SORT_GROUP_ROWS
    parts = [
        g.selectExpr(
            f"'{name}' AS predicate",
            f"CAST({m} AS BIGINT) AS n_match",
            "CAST(groups_nat AS BIGINT) AS groups_natural",
            f"CAST({skip} AS BIGINT) AS skip_natural",
            f"CAST((n_rows + {G} - 1) div {G} AS BIGINT) AS groups_sorted",
            f"CAST({lo} div {G} + {hi} div {G} AS BIGINT) AS skip_sorted",
            f"CAST({skip} * 1000000 div nullif(groups_nat, 0) AS BIGINT)"
            " AS skip_natural_q6",
            f"CAST(({lo} div {G} + {hi} div {G}) * 1000000"
            f" div nullif((n_rows + {G} - 1) div {G}, 0) AS BIGINT)"
            " AS skip_sorted_q6",
        )
        for name, m, skip, lo, hi in arms
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@register(
    "pipeline_unimax_waterfill_mix",
    oracle="""
    WITH src AS (
      SELECT source,
             COALESCE(SUM(len(string_split(text, ' '))), 0) AS toks
      FROM documents GROUP BY source
    ), tot AS (
      SELECT COALESCE(SUM(toks), 0) AS total, COUNT(*) AS n FROM src
    ), b AS (
      SELECT total // 2 AS budget FROM tot
    ), o AS (
      SELECT source, toks,
             ROW_NUMBER() OVER (ORDER BY toks, source) AS i,
             SUM(toks) OVER (ORDER BY toks, source
                             ROWS UNBOUNDED PRECEDING) - toks
               AS prefix_prev
      FROM src
    ), lvl AS (
      SELECT MIN(i) AS istar
      FROM o, tot, b
      WHERE prefix_prev + (tot.n - i + 1) * toks > b.budget
    ), t AS (
      SELECT (SELECT (b.budget - o2.prefix_prev)
                     // (tot.n - o2.i + 1)
              FROM o o2, tot, b WHERE o2.i = lvl.istar) AS level
      FROM lvl
    )
    SELECT o.source,
           CAST(o.toks AS BIGINT) AS n_tokens,
           CAST(CASE WHEN t.level IS NULL THEN o.toks
                     ELSE LEAST(o.toks, t.level) END AS BIGINT)
             AS alloc_tokens,
           CAST(CASE WHEN t.level IS NULL THEN o.toks
                     ELSE LEAST(o.toks, t.level) END * 1000000
                // NULLIF(o.toks, 0) AS BIGINT) AS share_q6
    FROM o CROSS JOIN t
    """,
)
def pipeline_unimax_waterfill_mix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """UniMax-style mixing allocation (Chung et al. 2023,
    arXiv:2304.09151 — cap every source at the same epoch level
    instead of temperature-tilting): a token budget B = total div 2
    waterfills across sources — each source receives
    ``min(its tokens, level)`` where the integer level is the classic
    sorted-prefix-sum solve (first index whose uniform level
    overflows B fixes the cap boundary; the remainder under-allocates
    at most n−1 tokens — documented determinism trade). Exact
    integers end to end; the existing `text_mix_*` rows cover
    temperature and target mixing — this adds the epoch-cap policy.

    100 TB shape: ONE corpus pass for per-source token counts; the
    entire waterfill solve (sort, prefix sums, level search) runs on
    the |sources|-row frame — broadcast-scale windows, no second
    corpus pass, no driver collect.
    """
    from pyspark.sql import Window as _W

    docs = table_wide(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.coalesce(
            F.sum(F.size(F.split(F.col("text"), " ", -1))), F.lit(0)
        )
        .cast("long")
        .alias("toks")
    )
    tot = src.agg(
        F.coalesce(F.sum("toks"), F.lit(0)).alias("total"),
        F.count("*").alias("n"),
    ).selectExpr("total", "n", "total div 2 AS budget")
    # |sources|-row frame: the constant non-foldable partition key
    # keeps the window single-partition by intent, not accident
    wo = _W.partitionBy(F.pmod(F.col("toks"), F.lit(1))).orderBy(
        "toks", "source"
    )
    o = (
        src.withColumn("i", F.row_number().over(wo))
        .withColumn(
            "prefix_prev",
            F.sum("toks").over(
                wo.rowsBetween(_W.unboundedPreceding, 0)
            )
            - F.col("toks"),
        )
        .crossJoin(F.broadcast(tot))
    )
    lvl = o.filter(
        F.expr("prefix_prev + (n - i + 1) * toks > budget")
    ).agg(F.min("i").alias("istar"))
    level = (
        o.join(F.broadcast(lvl), F.expr("i = istar"))
        .selectExpr("(budget - prefix_prev) div (n - i + 1) AS level")
    )
    # istar NULL (budget fits everything) → no level row; the min-agg
    # turns the empty frame into a 1-row NULL, and the CASE below
    # falls back to full allocation
    lvl1 = level.agg(F.min("level").alias("level"))
    return (
        o.crossJoin(F.broadcast(lvl1))
        .selectExpr(
            "source",
            "CAST(toks AS BIGINT) AS n_tokens",
            "CAST(CASE WHEN level IS NULL THEN toks"
            " ELSE LEAST(toks, level) END AS BIGINT) AS alloc_tokens",
            "CAST(CASE WHEN level IS NULL THEN toks"
            " ELSE LEAST(toks, level) END * 1000000"
            " div NULLIF(toks, 0) AS BIGINT) AS share_q6",
        )
    )


SNAP_REMOVE_MOD = 11  # snapshot B drops doc_id % 11 == 0
SNAP_MODIFY_MOD = 7  # ... rewrites doc_id % 7 == 0 (minus removed)
SNAP_ADD_MOD = 13  # ... adds new ids (doc_id + offset) % 13 == 0
SNAP_ADD_OFFSET = 1_000_000


@register(
    "pipeline_snapshot_diff_census",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, source, md5(text) AS fp,
             octet_length(encode(text)) AS bytes
      FROM documents
    ), b AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % {SNAP_MODIFY_MOD} = 0
                  THEN md5(text || ' rev2') ELSE md5(text) END AS fp,
             CASE WHEN doc_id % {SNAP_MODIFY_MOD} = 0
                  THEN octet_length(encode(text || ' rev2'))
                  ELSE octet_length(encode(text)) END AS bytes
      FROM documents WHERE doc_id % {SNAP_REMOVE_MOD} <> 0
      UNION ALL
      SELECT doc_id + {SNAP_ADD_OFFSET}, source, md5(text || ' new'),
             octet_length(encode(text || ' new'))
      FROM documents WHERE doc_id % {SNAP_ADD_MOD} = 0
    ), d AS (
      SELECT COALESCE(a.source, b.source) AS source,
             CASE
               WHEN a.doc_id IS NULL THEN 'added'
               WHEN b.doc_id IS NULL THEN 'removed'
               WHEN a.fp <> b.fp THEN 'modified'
               ELSE 'unchanged'
             END AS status,
             COALESCE(b.bytes, 0) - COALESCE(a.bytes, 0) AS delta
      FROM a FULL OUTER JOIN b ON b.doc_id = a.doc_id
    )
    SELECT source, status,
           COUNT(*) AS n_docs,
           CAST(SUM(delta) AS BIGINT) AS delta_bytes
    FROM d GROUP BY 1, 2
    """,
)
def pipeline_snapshot_diff_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus snapshot diff — the data-versioning audit run between
    two ingests before retraining (what changed, where, how much):
    fingerprint-level FULL OUTER reconciliation of snapshot A
    (documents as-is) against a deterministic snapshot B (removals,
    rewrites, additions derived from doc_id — the PII-injection
    pattern: the corpus has no second version, so the diff machinery
    is exercised on a synthesized one with every status populated),
    censused as (source, added/removed/modified/unchanged) with net
    byte drift. The relational twin is `orders_merge_changeset`
    (MERGE semantics); this is the corpus-level fingerprint diff.

    100 TB shape: both sides are narrow (id, source, md5, bytes)
    projections; the FULL OUTER join keys on doc_id so the two scans
    co-partition into ONE shuffle each; the census is
    |sources|×4 rows. No text ever shuffles — fingerprints only.
    """
    docs = table_wide(spark, sf_dir, "documents")
    a = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("fp"),
        F.length(F.encode("text", "utf-8")).cast("long").alias("bytes"),
    )
    mod = F.pmod(F.col("doc_id"), F.lit(SNAP_MODIFY_MOD)) == 0
    b_kept = docs.filter(
        F.pmod(F.col("doc_id"), F.lit(SNAP_REMOVE_MOD)) != 0
    ).select(
        "doc_id",
        "source",
        F.when(mod, F.md5(F.concat(F.col("text"), F.lit(" rev2"))))
        .otherwise(F.md5("text"))
        .alias("fp"),
        F.when(
            mod,
            F.length(
                F.encode(F.concat(F.col("text"), F.lit(" rev2")), "utf-8")
            ),
        )
        .otherwise(F.length(F.encode("text", "utf-8")))
        .cast("long")
        .alias("bytes"),
    )
    b_new = docs.filter(
        F.pmod(F.col("doc_id"), F.lit(SNAP_ADD_MOD)) == 0
    ).select(
        (F.col("doc_id") + SNAP_ADD_OFFSET).alias("doc_id"),
        "source",
        F.md5(F.concat(F.col("text"), F.lit(" new"))).alias("fp"),
        F.length(
            F.encode(F.concat(F.col("text"), F.lit(" new")), "utf-8")
        )
        .cast("long")
        .alias("bytes"),
    )
    b = b_kept.unionAll(b_new)
    a2 = a.select(
        F.col("doc_id").alias("a_id"),
        F.col("source").alias("a_src"),
        F.col("fp").alias("a_fp"),
        F.col("bytes").alias("a_bytes"),
    )
    d = a2.join(b, F.col("doc_id") == F.col("a_id"), "full_outer").select(
        F.coalesce(F.col("a_src"), F.col("source")).alias("source"),
        F.when(F.col("a_id").isNull(), "added")
        .when(F.col("doc_id").isNull(), "removed")
        .when(F.col("a_fp") != F.col("fp"), "modified")
        .otherwise("unchanged")
        .alias("status"),
        (
            F.coalesce(F.col("bytes"), F.lit(0))
            - F.coalesce(F.col("a_bytes"), F.lit(0))
        ).alias("delta"),
    )
    return d.groupBy("source", "status").agg(
        F.count("*").alias("n_docs"),
        F.sum("delta").cast("long").alias("delta_bytes"),
    )


COMPACT_TARGET_BYTES = 8_000  # output-file size target (test scale)
COMPACT_BUCKETS = 32  # input "files" per source = doc_id % 32 slices


@register(
    "pipeline_file_compaction_plan",
    oracle=f"""
    WITH files AS (
      SELECT source, doc_id % {COMPACT_BUCKETS} AS bucket,
             COUNT(*) AS n_docs,
             CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS n_bytes
      FROM documents GROUP BY 1, 2
    ), placed AS (
      SELECT source, bucket, n_docs, n_bytes,
             (SUM(n_bytes) OVER (
                PARTITION BY source ORDER BY bucket
                ROWS UNBOUNDED PRECEDING) - n_bytes)
               // {COMPACT_TARGET_BYTES} AS out_file
      FROM files
    )
    SELECT source,
           CAST(out_file AS BIGINT) AS out_file,
           CAST(COUNT(*) AS BIGINT) AS n_inputs,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS n_bytes,
           CAST(SUM(n_bytes) * 1000000 // {COMPACT_TARGET_BYTES}
                AS BIGINT) AS fill_q6,
           SUM(n_bytes) > {COMPACT_TARGET_BYTES} AS over_target
    FROM placed GROUP BY 1, 2
    """,
)
def pipeline_file_compaction_plan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-files compaction plan — the physical-design advisor for
    the other end of :func:`pipeline_global_shuffle_shards`: given a
    per-source manifest of input files (restated here as the
    ``doc_id % {COMPACT_BUCKETS}`` slices so the plan is
    oracle-checkable on testdata), assign each file to an output file
    by START-OFFSET binning — ``out_file = (running_bytes − n_bytes)
    div {COMPACT_TARGET_BYTES}`` — the greedy packing Spark's own
    ``FilePartition`` planner uses for ``maxPartitionBytes``
    coalescing (a bin may overflow by at most one input file; the
    census flags those as ``over_target``). The output prices the
    rewrite before paying for it: fill factors near 1e6 mean the
    compaction is worth the IO; many sub-filled bins mean the target
    is too small.

    Plan: ONE manifest aggregate (map-side combine) then a running
    sum over the manifest ordered within each source — the window is
    PARTITIONED BY source, so at 100 TB no global single-partition
    sort exists (the r6 vocab-coverage scale-killer class); each
    source's manifest is file-count-sized, orders of magnitude
    smaller than the corpus. The final regroup is bin-count-sized.
    """
    docs = table_wide(spark, sf_dir, "documents")
    files = docs.groupBy(
        "source",
        F.pmod(F.col("doc_id"), F.lit(COMPACT_BUCKETS)).alias("bucket"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.coalesce(F.sum(F.length("text")), F.lit(0))
        .cast("long")
        .alias("n_bytes"),
    )
    w = (
        W.partitionBy("source")
        .orderBy("bucket")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    placed = files.withColumn(
        "cum_bytes", F.sum("n_bytes").over(w)
    ).withColumn(
        "out_file",
        F.expr(
            f"(cum_bytes - n_bytes) div {COMPACT_TARGET_BYTES}"
        ).cast("long"),
    )
    return placed.groupBy("source", "out_file").agg(
        F.count("*").cast("long").alias("n_inputs"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_bytes").cast("long").alias("n_bytes"),
        (F.sum("n_bytes") * 1_000_000)
        .cast("long")
        .alias("_fill_num"),
        (F.sum("n_bytes") > COMPACT_TARGET_BYTES).alias("over_target"),
    ).select(
        "source",
        "out_file",
        "n_inputs",
        "n_docs",
        "n_bytes",
        F.expr(f"_fill_num div {COMPACT_TARGET_BYTES}")
        .cast("long")
        .alias("fill_q6"),
        "over_target",
    )


# flat-object JSON pair extraction: one regex, run IDENTICALLY on
# both engines over the RAW text (from_json map<string,string>
# un-quotes strings, so a JSON "69" and a JSON 69 would become
# indistinguishable — raw-text capture keeps the type evidence)
PROPS_PAIR_RX = (
    '"([^"]+)"\\s*:\\s*("[^"]*"|-?[0-9][0-9.eE+-]*|true|false|null)'
)


@register(
    "events_props_schema_census",
    oracle=f"""
    WITH pairs AS (
      SELECT u.k AS key, u.v AS val
      FROM (
        SELECT regexp_extract_all(props, '{PROPS_PAIR_RX}', 1) AS ks,
               regexp_extract_all(props, '{PROPS_PAIR_RX}', 2) AS vs
        FROM events WHERE props IS NOT NULL
      ), LATERAL (
        SELECT unnest(ks) AS k, unnest(vs) AS v
      ) u
    ), typed AS (
      SELECT key,
             CASE WHEN val LIKE '"%' THEN 'string'
                  WHEN val IN ('true', 'false') THEN 'boolean'
                  WHEN val = 'null' THEN 'null'
                  WHEN regexp_full_match(val, '-?[0-9]+') THEN 'integer'
                  ELSE 'number' END AS jtype,
             CASE WHEN regexp_full_match(val, '-?[0-9]+')
                  THEN CAST(val AS BIGINT) END AS ival
      FROM pairs
    )
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE jtype = 'integer') AS BIGINT)
             AS n_integer,
           CAST(COUNT(*) FILTER (WHERE jtype = 'number') AS BIGINT)
             AS n_number,
           CAST(COUNT(*) FILTER (WHERE jtype = 'string') AS BIGINT)
             AS n_string,
           CAST(COUNT(*) FILTER (WHERE jtype = 'boolean') AS BIGINT)
             AS n_boolean,
           CAST(COUNT(*) FILTER (WHERE jtype = 'null') AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT jtype) AS BIGINT) AS n_types,
           CAST(MIN(ival) AS BIGINT) AS int_min,
           CAST(MAX(ival) AS BIGINT) AS int_max,
           CAST(SUM(ival) AS BIGINT) AS int_sum
    FROM typed GROUP BY key
    """,
)
def events_props_schema_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semi-structured schema discovery over the ``props`` JSON
    column — the first thing an ingestion pipeline runs on an events
    feed it does not control: per key, how often it appears, the
    distribution of JSON types behind it (``n_types > 1`` is the
    schema-drift alarm), and exact integer min/max/sum for the
    integer-typed values. Pairs are captured from the RAW text by one
    regex run identically on both engines (documented contract: flat
    objects, no nesting or escaped quotes) because a parsed
    ``map<string,string>`` un-quotes strings and destroys the
    evidence distinguishing JSON ``"69"`` from ``69``.

    Plan: one narrow projection (JVM ``regexp_extract_all`` × 2 on
    the same pattern — positionally consistent by construction),
    zipped explode, ONE key-keyed aggregate with map-side combine.
    At 100 TB the shuffle carries per-key type-tagged partials —
    key-domain-bounded after combine — and the census frame is
    key-count-sized. No Python touches the hot path.
    """
    ev = table_wide(spark, sf_dir, "events")
    # F.lit keeps the pattern out of SQL string-literal escaping
    # (an F.expr literal would eat the \s)
    pairs = (
        ev.filter(F.col("props").isNotNull())
        .select(
            F.arrays_zip(
                F.regexp_extract_all(
                    F.col("props"), F.lit(PROPS_PAIR_RX), F.lit(1)
                ).alias("k"),
                F.regexp_extract_all(
                    F.col("props"), F.lit(PROPS_PAIR_RX), F.lit(2)
                ).alias("v"),
            ).alias("kv")
        )
        .select(F.explode("kv").alias("p"))
        .select(F.col("p.k").alias("key"), F.col("p.v").alias("val"))
    )
    is_int = F.col("val").rlike("^-?[0-9]+$")
    typed = pairs.select(
        "key",
        F.when(F.col("val").startswith('"'), "string")
        .when(F.col("val").isin("true", "false"), "boolean")
        .when(F.col("val") == "null", "null")
        .when(is_int, "integer")
        .otherwise("number")
        .alias("jtype"),
        F.when(is_int, F.col("val").cast("bigint")).alias("ival"),
    )
    return typed.groupBy("key").agg(
        F.count("*").cast("long").alias("n"),
        F.count(F.when(F.col("jtype") == "integer", 1))
        .cast("long")
        .alias("n_integer"),
        F.count(F.when(F.col("jtype") == "number", 1))
        .cast("long")
        .alias("n_number"),
        F.count(F.when(F.col("jtype") == "string", 1))
        .cast("long")
        .alias("n_string"),
        F.count(F.when(F.col("jtype") == "boolean", 1))
        .cast("long")
        .alias("n_boolean"),
        F.count(F.when(F.col("jtype") == "null", 1))
        .cast("long")
        .alias("n_null"),
        F.countDistinct("jtype").cast("long").alias("n_types"),
        F.min("ival").cast("long").alias("int_min"),
        F.max("ival").cast("long").alias("int_max"),
        F.sum("ival").cast("long").alias("int_sum"),
    )


REPEAT_BUDGET_X = 3  # token budget = 3x the corpus (forces repeats)
REPEAT_MAX_EPOCHS = 4  # the data-constrained-scaling repeat ceiling


@register(
    "pipeline_repeat_epochs_advisor",
    oracle=f"""
    WITH src AS (
      SELECT source,
             COALESCE(SUM(len(string_split(text, ' '))), 0) AS toks
      FROM documents GROUP BY source
    ), tot AS (
      SELECT COALESCE(SUM(toks), 0) AS total, COUNT(*) AS n_src FROM src
    ), alloc AS (
      -- equal budget share per source (the mixing rows own weighted
      -- shares; this advisor prices the REPEAT side)
      SELECT s.source, s.toks,
             (t.total * {REPEAT_BUDGET_X}) // t.n_src AS share
      FROM src s, tot t
    )
    SELECT source,
           CAST(toks AS BIGINT) AS source_tokens,
           CAST(share AS BIGINT) AS budget_share,
           CAST(LEAST({REPEAT_MAX_EPOCHS},
                CASE WHEN toks = 0 THEN 0
                     ELSE (share + toks - 1) // toks END) AS BIGINT)
             AS epochs,
           CAST(LEAST(share, LEAST({REPEAT_MAX_EPOCHS},
                CASE WHEN toks = 0 THEN 0
                     ELSE (share + toks - 1) // toks END) * toks)
                AS BIGINT) AS tokens_served,
           CAST(GREATEST(0, share - {REPEAT_MAX_EPOCHS} * toks)
                AS BIGINT) AS unfilled_budget
    FROM alloc
    """,
)
def pipeline_repeat_epochs_advisor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Data-constrained repeat advisor (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models": tokens reused up to
    ~4 epochs are nearly as good as fresh): given a token budget of
    {REPEAT_BUDGET_X}× the corpus split equally across sources, how
    many epochs must each source repeat (capped at
    {REPEAT_MAX_EPOCHS}), how many tokens does it actually serve, and
    how much budget stays UNFILLED once the cap binds — the number
    that tells a corpus builder which sources need new collection
    rather than more repetition. Complements the mixing family
    (UniMax waterfills fresh tokens; this prices repetition).

    Plan: ONE source-keyed token aggregate (map-side combine, the
    corpus-sized step), then pure projection arithmetic on the
    source-count frame with the 1-row total broadcast. Exact integer
    ceil-division throughout.
    """
    docs = table_wide(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.coalesce(
            F.sum(F.size(F.split(F.col("text"), " ", -1))), F.lit(0)
        ).alias("toks")
    )
    tot = src.agg(
        F.coalesce(F.sum("toks"), F.lit(0)).alias("total"),
        F.count("*").alias("n_src"),
    )
    alloc = src.crossJoin(F.broadcast(tot)).selectExpr(
        "source",
        "toks",
        f"(total * {REPEAT_BUDGET_X}) div n_src AS share",
    )
    return alloc.selectExpr(
        "source",
        "CAST(toks AS BIGINT) AS source_tokens",
        "CAST(share AS BIGINT) AS budget_share",
        f"CAST(LEAST({REPEAT_MAX_EPOCHS}, CASE WHEN toks = 0 THEN 0"
        " ELSE (share + toks - 1) div toks END) AS BIGINT) AS epochs",
        f"CAST(LEAST(share, LEAST({REPEAT_MAX_EPOCHS},"
        " CASE WHEN toks = 0 THEN 0"
        " ELSE (share + toks - 1) div toks END) * toks) AS BIGINT)"
        " AS tokens_served",
        f"CAST(GREATEST(0, share - {REPEAT_MAX_EPOCHS} * toks)"
        " AS BIGINT) AS unfilled_budget",
    )
