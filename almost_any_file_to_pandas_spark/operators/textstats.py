"""Text analysis operators over the ``documents`` table.

Language-ID (n-gram/stopword heuristic), quality scoring, token
counting, and document fingerprinting — every one a pure column
expression (JVM-side, whole-stage codegen, zero shuffle until the
final aggregate where present). Each is registered with a DuckDB
oracle.

The family reads one token table. Each shared kernel has its DuckDB
twin beside it, and no row splits or counts text itself:
- :func:`words` / :func:`words_sql`: the one whitespace tokenizer,
  ``split(text, ' ', -1)`` ↔ ``string_split(text, ' ')`` (an empty
  document is one ``''`` token);
- :func:`term_counts` / :func:`term_counts_sql`: ``(keys…, term, n)``
  over the exploded words. No key is the vocabulary, ``doc_id`` is tf
  and ``source`` is the per-source table;
- :func:`doc_word_stats` / :data:`_DOC_WORDS_SQL`: per document
  ``(n_words, n_distinct, top_cnt)`` in one aggregate over the tf rows,
  the repetition fold of the repetition, filter and ablation rows;
- :func:`_bigrams`: adjacent word pairs with multiplicity; the DuckDB
  word n-gram list is ``dedup._word_ngrams_sql`` (bigrams are n = 2);
- :func:`lang_pred` / :data:`_LANG_PRED_SQL`: the marker scores and
  the en > de > fr > es precedence;
- :data:`_BIGRAM_LM_SQL`: the bigram-LM score, shared by the LM
  perplexity filter.

Integer division truncates toward zero on both engines: Spark ``div``
and DuckDB ``//`` on integer operands (see the recipe comment in
``plans/__init__.py``), so a negative quotient needs no sign CASE.

Other engine-portable building blocks:
- substring occurrence count: ``(length(s) - length(replace(s, pat, '')))
  / length(pat)`` — avoids regex-dialect mismatches entirely
- fingerprint: ``md5(...)`` → lowercase hex in both engines
"""

from __future__ import annotations

from functools import reduce
from operator import add

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.operators.dedup import _word_ngrams_sql
from almost_any_file_to_pandas_spark.plans import register, table, table_wide

# Tiny embedded stopword sets per language — enough for a determinstic
# heuristic; production would swap in full lists (they stay a literal
# broadcast either way).
_LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "de", "los"),
}

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _occurrences(col, token: str):
    """Count of ' token ' occurrences via replace-arithmetic (portable)."""
    padded = F.concat(F.lit(" "), col, F.lit(" "))
    needle = f" {token} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def _occurrences_sql(expr: str, token: str) -> str:
    needle = f" {token} "
    padded = f"(' ' || {expr} || ' ')"
    return (
        f"CAST((length({padded}) - length(replace({padded}, '{needle}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def words(col):
    """The one whitespace tokenizer: ``col`` split on single spaces,
    empty tokens kept (``''`` is one token, ``'a  b'`` three)."""
    return F.split(col, " ", -1)


def words_sql(expr: str = "text") -> str:
    """DuckDB twin of :func:`words`."""
    return f"string_split({expr}, ' ')"


def term_counts(docs: DataFrame, *keys: str) -> DataFrame:
    """``(keys…, term, n)``: how often each word of ``docs.text``
    occurs under each key — the vocabulary for no key, tf for
    ``doc_id``. Map-side partial counts, one shuffle on (keys, term)."""
    return (
        docs.select(*keys, F.explode(words(F.col("text"))).alias("term"))
        .groupBy(*keys, "term")
        .agg(F.count("*").alias("n"))
    )


def term_counts_sql(*keys: str) -> str:
    """DuckDB twin of :func:`term_counts` over ``documents``."""
    k = "".join(f"{c}, " for c in keys)
    return (
        f"SELECT {k}term, COUNT(*) AS n FROM ("
        f"SELECT {k}unnest({words_sql()}) AS term FROM documents)"
        f" GROUP BY {k}term"
    )


def doc_word_stats(docs: DataFrame) -> DataFrame:
    """``(doc_id, n_words, n_distinct, top_cnt)``: word count,
    distinct words and the most frequent word's count per document,
    one aggregate over the tf rows (the Gopher repetition fold). A
    document with NULL text has no row."""
    return (
        term_counts(docs, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_words"),
            F.count("*").alias("n_distinct"),
            F.max("n").alias("top_cnt"),
        )
    )


# CTE twin of doc_word_stats, named ``doc_words``.
_DOC_WORDS_SQL = f"""doc_words AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_words,
             COUNT(*) AS n_distinct, MAX(n) AS top_cnt
      FROM ({term_counts_sql('doc_id')}) GROUP BY doc_id
    )"""

# Per-document repetition ratios over doc_word_stats' columns; the SQL
# twin spells ``div`` as ``//``.
_DUP_RATIO_Q6 = "(n_words - n_distinct) * 1000000 div n_words"
_TOP_FRACTION_Q6 = "top_cnt * 1000000 div n_words"


def _sql_div(expr: str) -> str:
    return expr.replace(" div ", " // ")


def _bigrams(arr):
    """Adjacent pairs of ``arr`` as ``'a b'`` strings, with
    multiplicity. ``arr`` should be a projected column: ``zip_with``
    walks the two shifted slices once, where an indexed
    ``element_at(arr, i + 2)`` lambda re-evaluated the split per
    element (interpreted HOFs share no subexpressions across lambda
    calls — measured 6.4 s vs 0.6 s at sf0.1)."""
    m = F.greatest(F.size(arr) - 1, F.lit(0))
    return F.zip_with(
        F.slice(arr, 1, m),
        F.slice(arr, 2, m),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def lang_pred(text):
    """Stopword-marker language of ``text``: the language whose
    markers occur most often, ties broken en > de > fr > es."""
    lowered = F.lower(text)
    s = {
        lang: reduce(add, (_occurrences(lowered, m) for m in markers))
        for lang, markers in _LANG_MARKERS.items()
    }
    return (
        F.when(
            (s["en"] >= s["de"]) & (s["en"] >= s["fr"]) & (s["en"] >= s["es"]),
            "en",
        )
        .when((s["de"] >= s["fr"]) & (s["de"] >= s["es"]), "de")
        .when(s["fr"] >= s["es"], "fr")
        .otherwise("es")
    )


def _lang_score_sql(lang: str) -> str:
    return " + ".join(
        _occurrences_sql("lower(text)", marker) for marker in _LANG_MARKERS[lang]
    )


# CTE twin of lang_pred: ``lang_pred(doc_id, lang, predicted_lang)``.
_LANG_PRED_SQL = f"""lang_pred AS (
      SELECT doc_id, lang,
             CASE
               WHEN score_en >= score_de AND score_en >= score_fr
                    AND score_en >= score_es THEN 'en'
               WHEN score_de >= score_fr AND score_de >= score_es THEN 'de'
               WHEN score_fr >= score_es THEN 'fr'
               ELSE 'es'
             END AS predicted_lang
      FROM (
        SELECT doc_id, lang,
          {_lang_score_sql('en')} AS score_en,
          {_lang_score_sql('de')} AS score_de,
          {_lang_score_sql('fr')} AS score_fr,
          {_lang_score_sql('es')} AS score_es
        FROM documents
      )
    )"""


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({words_sql()}) AS n_tokens,
           length(text) AS n_chars_measured
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + measured char length per document."""
    docs = table_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(words(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id, md5(lower(trim(text))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized content fingerprint — md5 over lower/trimmed text.
    The exact-dedup key; also the grouping key for shard-local dedup
    at scale (hash-partition by fingerprint → all copies co-located).
    """
    docs = table_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )


def _quality_cols(docs: DataFrame) -> DataFrame:
    text = F.col("text")
    n_tokens = F.size(words(text))
    stop_hits = None
    for tok in _STOPWORDS:
        term = _occurrences(text, tok)
        stop_hits = term if stop_hits is None else (stop_hits + term)
    space_count = F.length(text) - F.length(F.replace(text, F.lit(" "), F.lit("")))
    return docs.select(
        "doc_id",
        F.length(text).alias("n_chars_measured"),
        n_tokens.alias("n_tokens"),
        (F.length(text) / n_tokens).alias("avg_token_len"),
        # NULL on an empty document, as in the oracle (a bare ``/``
        # raises DIVIDE_BY_ZERO under ANSI mode)
        F.try_divide(space_count, F.length(text)).alias("space_ratio"),
        stop_hits.alias("stopword_hits"),
        (stop_hits / n_tokens).alias("stopword_ratio"),
    )


_QUALITY_STOP_SQL = " + ".join(
    _occurrences_sql("text", tok) for tok in _STOPWORDS
)


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
      length(text) AS n_chars_measured,
      len({words_sql()}) AS n_tokens,
      length(text) / len({words_sql()}) AS avg_token_len,
      (length(text) - length(replace(text, ' ', ''))) / CAST(length(text) AS DOUBLE)
        AS space_ratio,
      {_QUALITY_STOP_SQL} AS stopword_hits,
      ({_QUALITY_STOP_SQL}) / CAST(len({words_sql()}) AS DOUBLE)
        AS stopword_ratio
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality signals per document: length, token stats, whitespace
    ratio, stopword density. All replace/length arithmetic — portable
    and codegen-friendly; the standard pre-training quality filter
    shape (filter thresholds applied downstream)."""
    docs = table_wide(spark, sf_dir, "documents")
    return _quality_cols(docs)


@register(
    "text_lang_id",
    oracle=f"""
    WITH {_LANG_PRED_SQL}
    SELECT doc_id, lang AS labeled_lang, predicted_lang FROM lang_pred
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID — deterministic heuristic with a
    fixed precedence tie-break (en > de > fr > es). Returns prediction
    beside the label so accuracy is one aggregation away."""
    docs = table_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_pred(F.col("text")).alias("predicted_lang"),
    )


@register(
    "text_stats_by_lang",
    oracle=f"""
    SELECT lang, source,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS DOUBLE) AS total_chars,
      CAST(SUM(len({words_sql()})) AS DOUBLE) AS total_tokens
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics rollup — the monitoring aggregate a pipeline
    runs per ingest batch. Partial aggregation map-side; one shuffle
    on (lang, source). The integer counts sum exactly as BIGINT and
    cast to DOUBLE once (exact below 2^53)."""
    docs = table_wide(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("double").alias("total_chars"),
        F.sum(F.size(words(F.col("text")))).cast("double").alias("total_tokens"),
    )


# BPE-ish regex: letter runs, digit runs, single punctuation — the
# shape of a byte-pair pre-tokenizer's coarse split. Kept to a
# dialect-portable subset (RE2 in DuckDB, java.util.regex in Spark).
BPE_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


@register(
    "text_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           len({words_sql()}) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '{BPE_PATTERN}'))
             AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways: whitespace split and a BPE-ish regex
    pre-tokenization (letter runs / digit runs / punctuation). The
    ratio between the two is a standard tokenizer-cost estimator for
    training-data budgeting; everything stays a narrow projection."""
    docs = table_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(words(F.col("text"))).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)
        ).alias("n_bpe_tokens"),
    )


ROLLING_MOD = 1 << 31
ROLLING_BASE = 131


@register(
    "text_rolling_fingerprint",
    oracle=f"""
    SELECT doc_id,
           list_reduce(
             list_transform({words_sql()},
                            w -> ascii(substr(w, 1, 1)) * 31 + length(w)),
             (acc, x) -> (acc * {ROLLING_BASE} + x) % {ROLLING_MOD}
           ) AS rolling_hash
    FROM documents
    WHERE len({words_sql()}) >= 1
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling hash over the token stream — the shift-
    resistant fingerprint used for chunk-level dedup (same token
    sequence → same hash regardless of surrounding document).

    Word code = ascii(first char)·31 + length (portable, no full-text
    hashing); fold = (acc·131 + code) mod 2³¹. Spark folds from 0 and
    DuckDB's list_reduce seeds with the first element — identical
    results because f(0, x₀) = x₀ under this fold. acc·131 + x < 2³⁹
    never overflows the BIGINT lane, so ANSI mode stays happy.
    """
    docs = table_wide(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    codes = F.transform(
        toks,
        lambda w: (F.ascii(F.substring(w, 1, 1)) * 31 + F.length(w)).cast(
            "long"
        ),
    )
    rolling = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: F.pmod(acc * ROLLING_BASE + x, F.lit(ROLLING_MOD)),
    )
    return docs.filter(F.size(toks) >= 1).select(
        "doc_id", rolling.alias("rolling_hash")
    )


@register(
    "text_source_mix",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           -- all-integer shares (house _q6 recipe; HUGEINT-widened
           -- products — sum_chars*1e6 overflows int64 at ~9e12 chars)
           CAST((CAST(COUNT(*) AS HUGEINT) * 1000000)
                // (SELECT COUNT(*) FROM documents) AS BIGINT)
             AS corpus_share_q6,
           CAST((CAST(SUM(n_chars) AS HUGEINT) * 1000000) // COUNT(*)
                AS BIGINT) AS avg_chars_q6,
           COUNT(DISTINCT lang) AS n_langs
    FROM documents GROUP BY source
    """,
)
def text_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-mix report: document count, share of corpus,
    mean length, language spread — the dataset card every training-
    data pipeline publishes (and the input to source reweighting).

    One hash shuffle on ``source`` with map-side partials; the corpus
    share divides by a window total computed over the *aggregated*
    rows (cardinality = n_sources, thousands at most — the unbounded
    window never sees document-cardinality data). Shares and mean
    length are all-integer (the house _q6 recipe, DECIMAL(38,0)/
    HUGEINT-widened products) — no float division in the output.
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("_sum_chars"),
        F.count_distinct(F.col("lang")).alias("n_langs"),
    )
    total = F.sum("n_docs").over(W.partitionBy())
    return agg.withColumn("_total", total).select(
        "source",
        "n_docs",
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000"
            " div _total AS BIGINT)"
        ).alias("corpus_share_q6"),
        F.expr(
            "CAST(CAST(_sum_chars AS DECIMAL(38,0)) * 1000000"
            " div n_docs AS BIGINT)"
        ).alias("avg_chars_q6"),
        "n_langs",
    )


# Deterministic stratified sampling: per-source keep rates applied via
# an md5-derived uniform in [0,1) — the source-reweighting step that
# consumes text_source_mix's report. Hash-based (not rand()) so the
# sample is reproducible run-to-run, engine-portable, and stable under
# repartitioning; at 100 TB it's a narrow filter (no shuffle, no
# state) that composes with partition pruning.
SAMPLE_RATE_DEFAULT = 0.8
SAMPLE_RATE_OVERRIDES = {"src0": 0.25, "src1": 0.25, "src2": 0.5}
_SAMPLE_MOD = 10_000


def _doc_uniform(col):
    """Uniform in [0,1) from md5(doc_id) — first 8 hex chars as int,
    mod 10000, over 10000. Mirrors dedup's portable token hash."""
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _portable_token_hash,
    )

    return (_portable_token_hash(col.cast("string")) % _SAMPLE_MOD) / float(
        _SAMPLE_MOD
    )


def _doc_uniform_sql(expr: str) -> str:
    from almost_any_file_to_pandas_spark.operators.dedup import (
        _portable_token_hash_sql,
    )

    return (
        f"(({_portable_token_hash_sql(f'CAST({expr} AS VARCHAR)')})"
        f" % {_SAMPLE_MOD}) / {_SAMPLE_MOD}.0"
    )


def _rate_case_sql() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN {r}" for s, r in SAMPLE_RATE_OVERRIDES.items()
    )
    return f"CASE source {arms} ELSE {SAMPLE_RATE_DEFAULT} END"


@register(
    "text_stratified_sample",
    oracle=f"""
    WITH u AS (
      SELECT doc_id, source,
             {_doc_uniform_sql('doc_id')} AS unif,
             {_rate_case_sql()} AS keep_rate
      FROM documents
    )
    SELECT doc_id, source, ROUND(unif, 6) AS unif, keep_rate
    FROM u WHERE unif < keep_rate
    """,
)
def text_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsample by source: over-represented sources keep
    25-50% of documents, the long tail keeps 80% — deterministic, so
    reruns and backfills select the same documents (hash-derived
    uniform per doc_id, not ``rand()``; ``sampleBy`` would be neither
    reproducible across engines nor oracle-checkable).

    Plan: a single narrow filter over the scan — no shuffle; the rate
    lookup is a small CASE expression (broadcast-map territory if the
    rate table were data-driven).
    """
    docs = table_wide(spark, sf_dir, "documents")
    unif = _doc_uniform(F.col("doc_id"))
    rate = F.lit(SAMPLE_RATE_DEFAULT)
    for s, r in reversed(SAMPLE_RATE_OVERRIDES.items()):
        rate = F.when(F.col("source") == s, F.lit(r)).otherwise(rate)
    return (
        docs.select(
            "doc_id",
            "source",
            unif.alias("_unif"),
            rate.alias("keep_rate"),
        )
        .filter(F.col("_unif") < F.col("keep_rate"))
        .select(
            "doc_id", "source", F.round("_unif", 6).alias("unif"), "keep_rate"
        )
    )


# ---------------------------------------------------------------------------
# Repetition statistics, quality-filter decisions, and benchmark
# contamination — the remaining hygiene trio every training-data run
# needs between raw ingestion and dedup.
# ---------------------------------------------------------------------------


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH {_DOC_WORDS_SQL}
    SELECT doc_id, n_words, n_distinct,
           -- all-integer ratios (house _q6 recipe); per-doc counts
           -- keep the products far inside int64
           {_sql_div(_DUP_RATIO_Q6)} AS dup_word_ratio_q6,
           {_sql_div(_TOP_FRACTION_Q6)} AS top_word_fraction_q6
    FROM doc_words
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document: total/distinct
    word counts, duplicate-word ratio, and the most-frequent-word
    fraction — the signals used to drop boilerplate and keyword-stuffed
    pages before training.

    Plan: :func:`doc_word_stats` — explode words → two-level
    aggregation ((doc, word) counts, then per-doc rollup), both with
    map-side partials — the classic two-shuffle word-count shape, no
    joins, no arrays shipped between stages. At 100 TB both shuffles
    carry only (doc_id, word/cnt) pairs, and word-level skew is
    irrelevant because the first grouping key includes doc_id.
    """
    docs = table_wide(spark, sf_dir, "documents")
    return doc_word_stats(docs).select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.expr(_DUP_RATIO_Q6).alias("dup_word_ratio_q6"),
        F.expr(_TOP_FRACTION_Q6).alias("top_word_fraction_q6"),
    )


# Filter thresholds, chosen so the synthetic corpus genuinely splits
# (sf0.01: n_words 10-99, dup ratio 0-0.72, top fraction 0.05-0.30).
QF_MIN_WORDS = 30
QF_MAX_DUP_RATIO = 0.6
QF_MAX_TOP_FRACTION = 0.2


def _qf_rules() -> dict:
    """The quality filter's three keep rules over
    :func:`doc_word_stats`' columns, by ablation flag name: minimum
    length, duplicate-word cap, top-word cap. Each is a float
    comparison — a single IEEE division is correctly rounded on both
    engines."""
    n = F.col("n_words")
    return {
        "words_ok": n >= QF_MIN_WORDS,
        "dup_ok": 1 - F.col("n_distinct") / n <= QF_MAX_DUP_RATIO,
        "top_ok": F.col("top_cnt") / n <= QF_MAX_TOP_FRACTION,
    }


_QF_RULES_SQL = {
    "words_ok": f"n_words >= {QF_MIN_WORDS}",
    "dup_ok": f"1 - n_distinct::DOUBLE / n_words <= {QF_MAX_DUP_RATIO}",
    "top_ok": f"top_cnt::DOUBLE / n_words <= {QF_MAX_TOP_FRACTION}",
}


def dup_ratio_metrics(docs: DataFrame) -> DataFrame:
    """Per-doc (n_words, n_distinct, dup_word_ratio_q6) on LONG
    arithmetic, as one narrow projection (no shuffle) — the
    threshold sweep ``text_quality_threshold_curve`` reads it. Its
    values equal :func:`doc_word_stats`' on every document with
    text. The sizes must cast to long BEFORE the ×1e6: int32
    ``size()`` products wrap once a document carries ≥2148
    duplicated words (invisible on the short synthetic docs, real on
    a crawl)."""
    toks = words(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
    ).withColumn("dup_word_ratio_q6", F.expr(_DUP_RATIO_Q6))


@register(
    "text_quality_filter",
    oracle=f"""
    WITH {_DOC_WORDS_SQL}
    SELECT doc_id, n_words,
           -- reported ratios are all-integer (house _q6 recipe); the
           -- keep DECISION stays the float comparison, and
           -- pipeline_corpus_prep composes it
           {_sql_div(_DUP_RATIO_Q6)} AS dup_word_ratio_q6,
           {_sql_div(_TOP_FRACTION_Q6)} AS top_word_fraction_q6,
           ({" AND ".join(_QF_RULES_SQL.values())}) AS keep
    FROM doc_words
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter DECISION per document — the composed keep/drop
    verdict (minimum length, repetition caps) that the corpus filter
    stage actually applies; metrics are emitted alongside the flag so
    threshold sweeps don't re-scan.

    Plan: every metric comes from the one :func:`doc_word_stats`
    aggregate (word count, distinct count and top-word count), so
    there is no join: one word-count shuffle on (doc, word), then the
    per-doc rollup.
    """
    docs = table_wide(spark, sf_dir, "documents")
    words_ok, dup_ok, top_ok = _qf_rules().values()
    return doc_word_stats(docs).select(
        "doc_id",
        "n_words",
        F.expr(_DUP_RATIO_Q6).alias("dup_word_ratio_q6"),
        F.expr(_TOP_FRACTION_Q6).alias("top_word_fraction_q6"),
        (words_ok & dup_ok & top_ok).alias("keep"),
    )


CONTAM_NGRAM = 4
CONTAM_BENCH_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark

# Every document's distinct CONTAM_NGRAM-gram shingles ``sh(doc_id, s)``
# and the benchmark slice's ``bench(bench_id, s)``; the Bloom rows'
# oracles read the same CTEs.
_CONTAM_SHINGLES_SQL = f"""base AS (
      SELECT doc_id, {words_sql()} AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct({_word_ngrams_sql('w', CONTAM_NGRAM)})) AS s
      FROM base
    ), bench AS (
      SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % {CONTAM_BENCH_MOD} = 0
    )"""


@register(
    "text_contamination_ngram",
    oracle=f"""
    WITH {_CONTAM_SHINGLES_SQL}
    SELECT t.doc_id,
           COUNT(DISTINCT b.bench_id) AS n_contaminated_refs,
           COUNT(DISTINCT t.s) AS n_shared_shingles
    FROM sh t JOIN bench b ON t.s = b.s AND t.doc_id <> b.bench_id
    GROUP BY t.doc_id
    """,
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination detection: flag training documents that
    share any {CONTAM_NGRAM}-gram with a held-out benchmark set (here
    the deterministic doc_id % {CONTAM_BENCH_MOD} == 0 slice plays the
    benchmark). The standard pre-training hygiene check (GPT-3 /
    Gopher n-gram overlap protocol): emitted rows are the documents a
    run would quarantine, with how many benchmark docs they collide
    with and on how many distinct shingles.

    Plan: benchmark shingles are a tiny fraction of the corpus (real
    eval suites are KBs against TBs), so the bench side BROADCASTS —
    the corpus-side shingle stream joins in-place with no shuffle of
    the big side; the per-doc rollup is the only exchange. The
    shingle expressions reuse the guarded JVM n-gram builder from the
    dedup module (no Python stage at all).
    """
    from almost_any_file_to_pandas_spark.operators.dedup import _word_ngrams

    docs = table_wide(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    sh = docs.select(
        "doc_id", F.explode(_word_ngrams(toks, CONTAM_NGRAM)).alias("s")
    )
    bench = sh.filter(
        F.col("doc_id") % CONTAM_BENCH_MOD == 0
    ).select(F.col("doc_id").alias("bench_id"), "s")
    hits = sh.join(F.broadcast(bench), "s").filter(
        F.col("doc_id") != F.col("bench_id")
    )
    return hits.groupBy("doc_id").agg(
        F.count_distinct("bench_id").alias("n_contaminated_refs"),
        F.count_distinct("s").alias("n_shared_shingles"),
    )


HIST_BUCKET = 100  # chars per histogram bin
TFIDF_TOP = 3  # terms kept per document


@register(
    "text_length_histogram",
    oracle=f"""
    SELECT CAST(n_chars // {HIST_BUCKET} AS BIGINT) * {HIST_BUCKET} AS bucket_lo,
           COUNT(*) AS n_docs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents GROUP BY 1
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram (fixed-width char buckets) — the
    planning input for sequence packing and truncation budgets. One
    partial→final agg shuffle over ``n_buckets`` rows; the scan reads
    only ``n_chars`` (column pruning)."""
    docs = table(spark, sf_dir, "documents")
    bucket = (
        F.floor(F.col("n_chars") / HIST_BUCKET).cast("bigint") * HIST_BUCKET
    ).alias("bucket_lo")
    return docs.groupBy(bucket).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, term, n AS tf FROM ({term_counts_sql('doc_id')})
    ), idf AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(FLOOR(tf.tf * ln((n.n_docs + 1.0) / (idf.df + 1.0))
                        * 1000000 + 0.5) AS BIGINT) AS tfidf_q6
      FROM tf JOIN idf USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf_q6 DESC, term ASC) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, tfidf_q6, rnk
    FROM ranked WHERE rnk <= {TFIDF_TOP}
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-``TFIDF_TOP`` terms by smoothed TF-IDF — the
    classic keyword-extraction pass of a corpus pipeline.

    Scale shape: explode → (doc, term) counts [shuffle 1, map-side
    combine] → vocabulary df aggregate reuses the tf rows [shuffle 2
    over the vocabulary, not the corpus] → idf join back on term
    [same partitioning] → per-doc top-k window [shuffle 3 on doc_id].
    The corpus count rides along as a broadcast 1-row cross join, not
    a driver scalar. Ranking happens on the INTEGER-quantized score
    (``floor(score·1e6+0.5)`` — never a ROUND(double) output or a
    raw-double sort key, the r03 fragile classes) with a term
    tie-break so ordering is identical across engines. Residual risk:
    ``ln`` is not IEEE-exact, so a 1-ulp libm-vs-JVM difference could
    in principle flip a quantization boundary (~1e-9 per term) —
    unavoidable without dropping log-idf semantics; sqrt-based scores
    elsewhere carry no such risk (IEEE-exact).
    """
    docs = table_wide(spark, sf_dir, "documents")
    tf = term_counts(docs, "doc_id").withColumnRenamed("n", "tf")
    idf = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(idf, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            F.floor(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                * 1_000_000
                + F.lit(0.5)
            ).alias("tfidf_q6"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy(F.desc("tfidf_q6"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select("doc_id", "term", "tf", "tfidf_q6", "rnk")
    )


@register(
    "text_mix_to_target",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), tot AS (
      SELECT SUM(n_docs) AS total, COUNT(*) AS n_sources FROM counts
    ), rates AS (
      SELECT source, n_docs,
             LEAST(1.0, (tot.total / tot.n_sources) / n_docs) AS keep_rate
      FROM counts CROSS JOIN tot
    ), kept AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE {_doc_uniform_sql('d.doc_id')} < r.keep_rate
      GROUP BY d.source
    )
    SELECT r.source, r.n_docs, ROUND(r.keep_rate, 6) AS keep_rate,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
)
def text_mix_to_target(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass data mixing: measure the per-source distribution,
    derive the keep-rate that moves each source toward a UNIFORM
    target share (never upsampling: rate ≤ 1), apply it with the
    portable deterministic hash, and report achieved vs. original
    counts per source.

    This is the corpus-mixing primitive of a training pipeline — "we
    want equal parts web/books/code" — expressed as: one aggregation
    over source (tiny), a broadcast of the derived rate table back
    onto the corpus (the rate side is |sources| rows at any scale),
    and a narrow deterministic filter. No shuffle touches the corpus
    beyond the counting aggregate's partials.
    """
    docs = table_wide(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").alias("total"), F.count("*").alias("n_sources")
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.least(
            F.lit(1.0),
            (F.col("total") / F.col("n_sources")) / F.col("n_docs"),
        ).alias("keep_rate"),
    )
    kept = (
        docs.join(F.broadcast(rates.select("source", "keep_rate")), "source")
        .filter(_doc_uniform(F.col("doc_id")) < F.col("keep_rate"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            "n_docs",
            F.round("keep_rate", 6).alias("keep_rate"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


VOCAB_TOP = 20


@register(
    "text_vocab_topk",
    oracle=f"""
    WITH counts AS ({term_counts_sql()}), ranked AS (
      SELECT term, n, row_number() OVER (ORDER BY n DESC, term ASC) AS rnk
      FROM counts
    )
    SELECT term, n, rnk FROM ranked WHERE rnk <= {VOCAB_TOP}
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-``VOCAB_TOP`` vocabulary terms — the vocabulary-
    induction / stopword-discovery pass. Counts aggregate with
    map-side partials (one shuffle over the vocabulary, not the
    corpus); the final top-k runs on the aggregated vocabulary with
    a TakeOrdered-style limit, never a global sort of the corpus.
    Deterministic tie-break on the term."""
    docs = table_wide(spark, sf_dir, "documents")
    counts = term_counts(docs)
    # orderBy+limit plans as TakeOrderedAndProject — per-partition
    # heaps + a k-row merge, never a single-partition sort of the
    # vocabulary. The rank window then runs over k rows only.
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(VOCAB_TOP)
    from pyspark.sql import Window as W

    # The rank window sees only the ≤ VOCAB_TOP pre-limited rows, so a
    # single partition is the *intended* shape — stated with a
    # constant-valued but NON-FOLDABLE partition key (pmod(n, 1) ≡ 0;
    # a bare lit() gets constant-folded out of the partition spec and
    # the engine's global-window warning fires 8× per run over 20
    # rows).
    w = W.partitionBy(F.pmod(F.col("n"), F.lit(1))).orderBy(
        F.desc("n"), F.asc("term")
    )
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "term", "n", "rnk"
    )


RARE_TOKEN_MAX_COUNT = 2  # corpus count at or below which a token is "rare"


@register(
    "text_unigram_freq_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({words_sql()}) AS term FROM documents
    ), freq AS ({term_counts_sql()}), scored AS (
      SELECT t.doc_id,
             COUNT(*) AS n_tokens,
             SUM(f.n) AS sum_n,
             SUM(CASE WHEN f.n <= {RARE_TOKEN_MAX_COUNT} THEN 1 ELSE 0 END)
               AS n_rare
      FROM toks t JOIN freq f ON t.term = f.term
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_tokens,
           ROUND(CAST(sum_n AS DOUBLE) / n_tokens, 6) AS mean_token_count,
           ROUND(CAST(n_rare AS DOUBLE) / n_tokens, 6) AS rare_frac
    FROM scored
    """,
)
def text_unigram_freq_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality score — the deterministic stand-in
    for LM-perplexity filtering: per document, the mean corpus
    frequency of its tokens and the fraction of rare tokens
    (corpus count ≤ RARE_TOKEN_MAX_COUNT). Rare-token-heavy documents
    are the boilerplate/garbled/OOV-dense tail a training-data
    pipeline downweights; frequency statistics give the same ordering
    signal as a unigram LM's log-prob without transcendentals (ln is
    not correctly-rounded-guaranteed across engines, so the emitted
    numbers stay exact-integer ratios — hash-stable in any engine).

    Plan: token explode → corpus term-frequency aggregate (one
    shuffle over the vocabulary, map-side partials) → join back on
    term (shuffle or AQE broadcast when the vocabulary is small) →
    per-doc integer aggregate (one shuffle on doc_id). All counting
    is exact bigint; the only doubles are two final int/int
    divisions. At 100 TB the vocabulary table is the small side by
    orders of magnitude — Zipf keeps it sublinear in corpus size.
    """
    docs = table_wide(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(words(F.col("text"))).alias("term"))
    freq = term_counts(docs)
    return (
        toks.join(freq, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("n").alias("_sum_n"),
            F.sum(
                F.when(F.col("n") <= RARE_TOKEN_MAX_COUNT, 1).otherwise(0)
            ).alias("_n_rare"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("_sum_n").cast("double") / F.col("n_tokens"), 6
            ).alias("mean_token_count"),
            F.round(
                F.col("_n_rare").cast("double") / F.col("n_tokens"), 6
            ).alias("rare_frac"),
        )
    )


BPE_MERGE_TOP_K = 30


@register(
    "text_bpe_merge_candidates",
    oracle=f"""
    WITH toks AS (
      SELECT {words_sql()} AS w FROM documents
    ), bigrams AS (
      SELECT unnest({_word_ngrams_sql('w', 2)}) AS pair FROM toks
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM bigrams
    GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_MERGE_TOP_K}
    """,
)
def text_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration, corpus-scale: count every
    ADJACENT token pair (order- and position-sensitive — unlike the
    shingle sets, multiplicity counts) and rank the top merge
    candidates. Tokenizer training at 100 TB is exactly this loop:
    each iteration is one explode → one count shuffle → one global
    top-k, and Spark's shape for it is map-side partial counts +
    TakeOrderedAndProject (never a global sort). vocab_topk ranks
    unigrams; this ranks the pairs a learned tokenizer would merge
    first.
    """
    docs = table_wide(spark, sf_dir, "documents")
    with_toks = docs.select(words(F.col("text")).alias("toks"))
    return (
        with_toks.select(F.explode(_bigrams(F.col("toks"))).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(BPE_MERGE_TOP_K)
    )


SAMPLE_EXACT_K = 10


@register(
    "text_stratified_exact_k",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY {_doc_uniform_sql('doc_id')}, doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, source, rn FROM ranked WHERE rn <= {SAMPLE_EXACT_K}
    """,
)
def text_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ``SAMPLE_EXACT_K`` documents per source — the eval-set
    / human-review draw, where a RATE sample (text_stratified_sample)
    can't promise a fixed count per stratum. "Random" order is the
    deterministic per-doc hash uniform, so the draw is reproducible
    across engines and reruns and needs no seed plumbing.

    Plan: one PARTITIONED window (partition = source, order = hash
    uniform) — at scale each stratum ranks independently; no global
    sort, no single-partition exchange. With a very hot stratum the
    production swap is a per-partition top-k heap (the rank only
    matters below k+1), but the window form is the oracle-matchable
    statement.
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy(
        _doc_uniform(F.col("doc_id")), F.col("doc_id")
    )
    return (
        docs.select(
            "doc_id", "source", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") <= SAMPLE_EXACT_K)
    )


@register(
    "text_lang_confusion_matrix",
    oracle=f"""
    WITH {_LANG_PRED_SQL}, cells AS (
      SELECT lang AS labeled_lang, predicted_lang, COUNT(*) AS n_docs
      FROM lang_pred GROUP BY lang, predicted_lang
    )
    SELECT labeled_lang, predicted_lang, n_docs,
           -- all-integer row share (house _q6 recipe, HUGEINT-widened)
           CAST((CAST(n_docs AS HUGEINT) * 1000000)
                // SUM(n_docs) OVER (PARTITION BY labeled_lang)
                AS BIGINT) AS row_frac_q6
    FROM cells
    """,
)
def text_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the
    calibration view of the lang-ID heuristic (`text_lang_id` emits
    per-doc predictions; this is the |langs|² census a pipeline
    monitors for drift, with per-label row fractions so the diagonal
    reads as recall).

    Plan: the scoring stays the narrow replace-arithmetic projection;
    one aggregate folds the corpus to ≤ |langs|² cells; the
    row-normalizing window runs over that tiny matrix partitioned by
    label — no single-partition exchange over data.
    """
    from pyspark.sql import Window as W

    pred = text_lang_id(spark, sf_dir)
    cells = (
        pred.groupBy("labeled_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    w = W.partitionBy("labeled_lang")
    return cells.select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        F.expr(
            "CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 div"
            " SUM(n_docs) OVER (PARTITION BY labeled_lang) AS BIGINT)"
        ).alias("row_frac_q6"),
    )


BPE_TRAIN_ITERS = 5


@register("text_bpe_train_merges")  # rows-only: genuinely iterative
def text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-iteration BPE training (``text_bpe_merge_candidates`` is
    iteration 1's census; this RUNS the loop): learn the first
    ``BPE_TRAIN_ITERS`` merges over word-character sequences.

    The scale move is classic BPE: after ONE corpus pass builds the
    (word, count) vocabulary, every iteration runs over the VOCAB
    weighted by counts — corpus-size-independent, exactly how real
    tokenizer training survives a 100 TB corpus. Per iteration: one
    weighted pair-count aggregate over the vocab, a 1-row driver
    action to pick the argmax merge (bounded orchestration, the
    exact_disc_quantiles pattern — never a data-path collect), and a
    narrow left-fold rewrite of each word's symbol array (greedy
    left-to-right adjacent replacement, standard BPE semantics,
    handling overlapping pairs like 'aaa' correctly).

    Deterministic tie-break (count desc, pair asc) so the learned
    merge table is reproducible. Registered rows-only: the loop's
    argmax-dependent rewrite has no single-statement SQL equivalent
    (like kmeans/Lloyd's); the unit test pins the textbook 'low
    lower' example instead.
    """
    docs = table_wide(spark, sf_dir, "documents")
    return bpe_train(spark, docs, BPE_TRAIN_ITERS)


def bpe_train(spark: SparkSession, docs: DataFrame, iters: int) -> DataFrame:
    """The trainer over any (…, text) frame — unit tests pin the
    textbook 'low low lower' merge sequence."""
    vocab = (
        term_counts(docs)
        .filter(F.col("term") != "")
        .select(F.split(F.col("term"), "").alias("syms"), "n")
    )
    # class (d): feeds the first iteration's argmax collect
    vocab = vocab.localCheckpoint()
    merges = []
    for it in range(1, iters + 1):
        top = (
            vocab.select(F.explode(_bigrams(F.col("syms"))).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("n_occurrences"))
            .orderBy(F.desc("n_occurrences"), F.asc("pair"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right = top[0]["pair"].split(" ", 1)
        count = int(top[0]["n_occurrences"])
        merged = left + right
        merges.append((it, left, right, merged, count))
        # greedy left-to-right adjacent merge via a left fold: append
        # each symbol; when the accumulator tail is `left` and the
        # incoming symbol is `right`, replace the tail with `merged`
        vocab = vocab.select(
            F.aggregate(
                F.col("syms"),
                F.array().cast("array<string>"),
                lambda acc, x: F.when(
                    (F.size(acc) > 0)
                    & (F.element_at(acc, -1) == F.lit(left))
                    & (x == F.lit(right)),
                    F.concat(
                        F.slice(acc, 1, F.size(acc) - 1),
                        F.array(F.lit(merged)),
                    ),
                ).otherwise(F.concat(acc, F.array(x))),
            ).alias("syms"),
            "n",
        ).localCheckpoint()  # class (c): truncates the loop's lineage
    return spark.createDataFrame(
        merges,
        "iteration int, left string, right string, "
        "merged string, pair_count bigint",
    )


WEIGHTED_SAMPLE_K = 25


@register(
    "text_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(pow(GREATEST({_doc_uniform_sql('doc_id')}, 1e-4),
                       1.0 / n_chars), 6) AS draw_key
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, n_chars, draw_key,
             row_number() OVER (
               ORDER BY draw_key DESC, doc_id ASC) AS rn
      FROM keyed
    )
    SELECT doc_id, source, n_chars, draw_key, rn
    FROM ranked WHERE rn <= {WEIGHTED_SAMPLE_K}
    """,
)
def text_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, Efraimidis–Spirakis
    style: each doc draws key ``u^(1/w)`` (u = the deterministic
    per-doc hash uniform, floored at 1e-4 so u=0 can't produce a
    degenerate key; w = ``n_chars``) and the top-``K`` keys ARE a
    weighted sample — longer documents proportionally likelier, the
    shape used to bias human review or eval toward content-heavy
    docs while staying reproducible (no RNG state; same draw on
    every engine and rerun).

    Plan: one narrow key projection over the scan; the global top-K
    is orderBy+limit — TakeOrderedAndProject heaps, never a full
    sort — and the rank window then runs over the K survivors only.
    Ranking on the ROUNDED key so both engines order identically.
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(
            F.pow(
                F.greatest(_doc_uniform(F.col("doc_id")), F.lit(1e-4)),
                F.lit(1.0) / F.col("n_chars"),
            ),
            6,
        ).alias("draw_key"),
    )
    top = keyed.orderBy(F.desc("draw_key"), F.asc("doc_id")).limit(
        WEIGHTED_SAMPLE_K
    )
    w = W.partitionBy(F.pmod(F.col("doc_id"), F.lit(1))).orderBy(
        F.desc("draw_key"), F.asc("doc_id")
    )
    return top.withColumn("rn", F.row_number().over(w))


@register(
    "text_bpe_train_floor",
    oracle=f"""
    WITH words AS (
      SELECT term AS w, n FROM ({term_counts_sql()}) WHERE len(term) > 0
    ), pairs AS (
      SELECT unnest(list_transform(
               range(1, greatest(len(w) - 1, 0) + 1),
               i -> w[i] || ' ' || w[i+1])) AS pair,
             n
      FROM words
    ), counts AS (
      SELECT pair, CAST(SUM(n) AS BIGINT) AS c FROM pairs GROUP BY pair
    ), best AS (
      SELECT pair, c FROM counts ORDER BY c DESC, pair LIMIT 1
    )
    -- n_merges_requested (not learned): the trainer can exhaust
    -- mergeable pairs before the iteration budget on tiny vocab,
    -- and the learned count is not single-statement SQL; the full
    -- merge-sequence equality lives in tests/test_operators.py
    SELECT CASE WHEN (SELECT COUNT(*) FROM counts) = 0 THEN 0
                ELSE CAST({BPE_TRAIN_ITERS} AS INT)
                END AS n_merges_requested,
           (SELECT pair FROM best) AS first_merge_pair,
           (SELECT c FROM best) AS first_merge_count,
           TRUE AS counts_non_increasing
    """,
)
def text_bpe_train_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked acceptance gate over the rows-only BPE trainer
    (the recall-floor pattern): the oracle independently derives
    iteration 1 — the weighted character-pair argmax over the word
    vocabulary, which IS single-statement SQL — and the engine's
    learned merge table must (a) start with exactly that merge,
    (b) contain ``BPE_TRAIN_ITERS`` merges, and (c) have
    non-increasing pair counts, a provable BPE property (every pair a
    merge creates occurs at most once per occurrence of the merged
    symbol, so no later maximum can exceed an earlier one). Converts
    the iterative trainer's correctness into a row the driver's hash
    gate can pin; full merge-sequence equality vs a pure-Python
    reference is in tests/test_operators.py.
    """
    docs = table_wide(spark, sf_dir, "documents")
    merges = sorted(
        bpe_train(spark, docs, BPE_TRAIN_ITERS).collect(),
        key=lambda r: r["iteration"],
    )
    if not merges:  # empty vocabulary: nothing to merge, floor holds
        return spark.createDataFrame(
            [(0, None, None, True)],
            schema=(
                "n_merges_requested int, first_merge_pair string, "
                "first_merge_count bigint, counts_non_increasing boolean"
            ),
        )
    first = merges[0]
    non_inc = all(
        merges[i]["pair_count"] >= merges[i + 1]["pair_count"]
        for i in range(len(merges) - 1)
    )
    return spark.createDataFrame(
        [
            (
                BPE_TRAIN_ITERS,
                f"{first['left']} {first['right']}",
                int(first["pair_count"]),
                bool(non_inc),
            )
        ],
        schema=(
            "n_merges_requested int, first_merge_pair string, "
            "first_merge_count bigint, counts_non_increasing boolean"
        ),
    )


BIGRAM_Q = 1_000_000_000  # exact integer quantization of c2/c1 ratios

# text_bigram_lm_score's oracle; the LM perplexity filter's reads it.
_BIGRAM_LM_SQL = f"""
    WITH toks AS (
      SELECT doc_id, {words_sql()} AS w FROM documents
    ), doc_bigrams AS (
      SELECT doc_id, unnest({_word_ngrams_sql('w', 2)}) AS pair FROM toks
    ), bigram_counts AS (
      SELECT pair, COUNT(*) AS c2 FROM doc_bigrams GROUP BY pair
    ), unigram_counts AS (
      SELECT w1, COUNT(*) AS c1 FROM (
        SELECT split_part(pair, ' ', 1) AS w1 FROM doc_bigrams
      ) GROUP BY w1
    )
    SELECT d.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM((CAST(b.c2 AS HUGEINT) * {BIGRAM_Q}) // u.c1)
                // COUNT(*) AS BIGINT) AS mean_cond_prob_q9
    FROM doc_bigrams d
    JOIN bigram_counts b USING (pair)
    JOIN unigram_counts u ON split_part(d.pair, ' ', 1) = u.w1
    GROUP BY d.doc_id
    """


@register("text_bigram_lm_score", oracle=_BIGRAM_LM_SQL)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score — the conditional sibling of
    ``text_unigram_freq_score``: per document, the mean corpus
    conditional probability P(wᵢ₊₁|wᵢ) = count(wᵢ wᵢ₊₁)/count(wᵢ·)
    over its bigrams (WITH multiplicity — the position-sensitive
    zip_with construction from the BPE census, not the dedup
    family\'s distinct shingle sets). Low scores mark
    disfluent/garbled text the way an LM-perplexity filter (CCNet)
    would, from corpus statistics alone — and with no logarithm.

    Determinism: each ratio is quantized by exact INTEGER division
    ``(c2 · 10⁹) div c1`` before the sum (decimal-division scale
    rules differ between engines; integer div does not), so the
    per-doc sums are order-independent exact integers. The c2·10⁹
    product is widened first (DECIMAL(38,0) / HUGEINT): at 100 TB a
    corpus-wide bigram count beyond ~9.2e9 would overflow an int64
    product into an ANSI runtime error while the oracle kept going —
    the quotient itself is ≤10⁹ (c2 ≤ c1), so only the product needs
    width. The reported score stays in the quantized-integer domain
    (``mean_q9 = Σq div n``) — no ROUND(double) ever reaches the
    hash.

    Plan: one bigram explode (localCheckpoint — it feeds BOTH count
    tables and the per-doc join side; the prefix-unigram counts are
    keyed off the bigram stream\'s first token, so there is no second
    corpus pass) → two vocabulary-sized count aggregates that AQE
    broadcasts back → one per-doc rollup. The tfidf plan shape.
    """
    docs = table_wide(spark, sf_dir, "documents")
    with_toks = docs.select("doc_id", words(F.col("text")).alias("toks"))
    # class (b): both count tables and the per-doc join read it
    doc_bigrams = with_toks.select(
        "doc_id", F.explode(_bigrams(F.col("toks"))).alias("pair")
    ).localCheckpoint(eager=True)
    bigram_counts = doc_bigrams.groupBy("pair").agg(
        F.count("*").alias("c2")
    )
    w1 = F.split_part(F.col("pair"), F.lit(" "), F.lit(1))
    unigram_counts = doc_bigrams.select(w1.alias("w1")).groupBy("w1").agg(
        F.count("*").alias("c1")
    )
    joined = (
        doc_bigrams.join(bigram_counts, "pair")
        .withColumn("w1", w1)
        .join(unigram_counts, "w1")
    )
    qterm = F.expr(
        f"CAST(CAST(c2 AS DECIMAL(38,0)) * {BIGRAM_Q} div c1 AS BIGINT)"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(qterm).alias("_sum_q"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.expr("_sum_q div n_bigrams").alias("mean_cond_prob_q9"),
        )
    )


# α = 1/2 (weight_s ∝ √n_s — sqrt is IEEE-exact, so the integer
# quantization below is engine-portable); other α need an exact-power
# integerization scheme before they can join the hash gate
MIX_BUDGET_DEN = 2  # keep ~half the corpus, temperature-reweighted


@register(
    "text_mix_temperature",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
    ), wq AS (
      SELECT source, n_docs,
             CAST(FLOOR(sqrt(n_docs) * 1000000 + 0.5) AS BIGINT) AS w_q
      FROM counts
    ), tot AS (
      SELECT SUM(n_docs) AS total, SUM(w_q) AS sum_wq FROM wq
    ), rates AS (
      SELECT source, n_docs, w_q,
             LEAST(1.0,
               (CAST(total // {MIX_BUDGET_DEN} AS DOUBLE) * CAST(w_q AS DOUBLE))
               / (CAST(sum_wq AS DOUBLE) * CAST(n_docs AS DOUBLE)))
               AS keep_rate
      FROM wq CROSS JOIN tot
    ), kept AS (
      SELECT d.source, COUNT(*) AS n_kept
      FROM documents d JOIN rates r ON d.source = r.source
      WHERE {_doc_uniform_sql('d.doc_id')} < r.keep_rate
      GROUP BY d.source
    )
    SELECT r.source, r.n_docs,
           -- HUGEINT-widened product (the gini/hhi recipe): w_q*1e6
           -- in BIGINT overflows past ~8.5e13 docs per source, and
           -- Spark (wrap) vs DuckDB (error) diverge on overflow
           CAST((CAST(r.w_q AS HUGEINT) * 1000000)
                // (SELECT sum_wq FROM tot) AS BIGINT)
             AS weight_share_q6,
           COALESCE(k.n_kept, 0) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.source = k.source
    """,
)
def text_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based corpus mixing (the Pile / mT5 α-sampling
    pattern): per-source keep probability ∝ n_s^α / n_s with α = 0.5,
    scaled to a half-corpus token budget and capped at 1 — small
    sources are boosted toward (never past) full inclusion, huge
    sources are squashed toward √-share. The uniform-target mixer
    (`text_mix_to_target`) is the α→0 extreme of this family.

    Determinism (the r04 house recipe): each source weight is the
    INTEGER ``floor(sqrt(n_s)·1e6+0.5)`` (sqrt is IEEE-exact), the
    weight normalizer is an exact integer sum (a double Σ√n would be
    order-dependent), and the keep rate is rebuilt from those
    integers with a fixed double expression tree on both engines;
    membership uses the portable md5 hash. Reported weight shares
    are all-integer ``(w_q·1e6) div Σw_q``.

    Plan: identical shape to `text_mix_to_target` — one tiny source
    aggregate, a broadcast rate table, one narrow deterministic
    filter; the corpus never shuffles.
    """
    docs = table_wide(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    wq = counts.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs")) * 1_000_000 + F.lit(0.5)).alias(
            "w_q"
        ),
    )
    tot = wq.agg(
        F.sum("n_docs").alias("total"), F.sum("w_q").alias("sum_wq")
    )
    rates = wq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "w_q",
        "sum_wq",
        F.least(
            F.lit(1.0),
            (
                F.expr(f"CAST(total div {MIX_BUDGET_DEN} AS DOUBLE)")
                * F.col("w_q").cast("double")
            )
            / (
                F.col("sum_wq").cast("double")
                * F.col("n_docs").cast("double")
            ),
        ).alias("keep_rate"),
    )
    kept = (
        docs.join(
            F.broadcast(rates.select("source", "keep_rate")), "source"
        )
        .filter(_doc_uniform(F.col("doc_id")) < F.col("keep_rate"))
        .groupBy("source")
        .agg(F.count("*").alias("n_kept"))
    )
    return (
        rates.join(F.broadcast(kept), "source", "left")
        .select(
            "source",
            "n_docs",
            F.expr(
                "CAST(CAST(w_q AS DECIMAL(38,0)) * 1000000"
                " div sum_wq AS BIGINT)"
            ).alias("weight_share_q6"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        )
    )


@register(
    "text_ngram_novelty",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {words_sql()} AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct({_word_ngrams_sql('w')})) AS shingle
      FROM base
    ), dfc AS (
      SELECT doc_id, shingle,
             COUNT(*) OVER (PARTITION BY shingle) AS df
      FROM sh
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(*) FILTER (WHERE df = 1) AS BIGINT)
             AS n_unique_shingles,
           (COUNT(*) FILTER (WHERE df = 1) * 1000000) // COUNT(*)
             AS novelty_q6
    FROM dfc
    GROUP BY doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    word-3-gram shingles that appear NOWHERE else in the corpus
    (corpus df = 1). Low novelty marks template/boilerplate-heavy or
    heavily-duplicated text (the complement of the containment/span
    families' pairwise view — this is the per-doc scalar a mixing or
    filtering policy thresholds on), high novelty marks content the
    model sees exactly once — the memorization-risk axis.

    Plan: one shingle explode → ONE shuffle on the shingle key where
    the df window and nothing else touches corpus-scale data → a
    per-doc rollup (second shuffle on doc_id, compact rows). Output
    is all-integer (``(unique·1e6) div n``), no floats anywhere.

    Docs with fewer than 3 tokens have zero shingles and drop out —
    identical semantics in both engines (empty unnest / empty
    explode).
    """
    from almost_any_file_to_pandas_spark.operators.dedup import _word_ngrams
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    sh = docs.select(
        "doc_id", F.explode(_word_ngrams(toks, 3)).alias("shingle")
    )
    dfc = sh.withColumn(
        "df", F.count("*").over(W.partitionBy("shingle"))
    )
    return dfc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_unique_shingles"),
        F.expr(
            "sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) * 1000000 div count(*)"
        ).alias("novelty_q6"),
    )


@register(
    "text_token_mass_concentration",
    oracle=f"""
    WITH scored AS (
      SELECT source, len({words_sql()}) AS n_tokens
      FROM documents
    ), hist AS (
      SELECT source, n_tokens, COUNT(*) AS c,
             SUM(n_tokens) AS tok
      FROM scored GROUP BY source, n_tokens
    ), cum AS (
      -- cumulative from the LONGEST docs down, over the bounded
      -- distinct-length domain (value-histogram pattern)
      SELECT source, n_tokens, c, tok,
             SUM(c) OVER (PARTITION BY source ORDER BY n_tokens DESC
                          ROWS UNBOUNDED PRECEDING) AS cum_docs,
             SUM(tok) OVER (PARTITION BY source ORDER BY n_tokens DESC
                            ROWS UNBOUNDED PRECEDING) AS cum_tok,
             SUM(c) OVER (PARTITION BY source) AS n_docs,
             SUM(tok) OVER (PARTITION BY source) AS total_tok
      FROM hist
    ), cut AS (
      -- the smallest length level at which the top-decile doc count
      -- is reached; levels are whole — the integer approximation is
      -- identical on both engines by construction
      SELECT source, n_docs, total_tok,
             MIN(CASE WHEN cum_docs >= (n_docs + 9) // 10
                      THEN n_tokens END) AS len_cut
      FROM cum GROUP BY source, n_docs, total_tok
    )
    SELECT c.source,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(c.total_tok AS BIGINT) AS total_tokens,
           CAST(x.cum_tok * 1000000 // c.total_tok AS BIGINT)
             AS top_decile_token_share_q6
    FROM cut c JOIN cum x
      ON x.source = c.source AND x.n_tokens = c.len_cut
    """,
)
def text_token_mass_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """How much of each source's token mass sits in its top-decile
    longest documents — the concentration diagnostic behind length-
    capping policy (a source where 10% of docs carry most tokens
    will dominate training batches unless trimmed; the budget-trim
    operators are the treatment, this is the diagnosis).

    Plan: the value-histogram pattern a third time, with a
    longest-first cumulative cut: docs fold to a (source, length)
    frequency/mass table; cumulative windows run over the bounded
    distinct-length domain (never documents); the top-decile doc
    threshold ⌈n/10⌉ is integer arithmetic and the cut level is the
    smallest length reaching it — whole levels included, so both
    engines take the identical cut by construction. Output share is
    the all-integer _q6 recipe.
    """
    docs = table_wide(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    scored = docs.select(
        "source",
        F.size(words(F.col("text"))).alias("n_tokens"),
    )
    hist = scored.groupBy("source", "n_tokens").agg(
        F.count("*").alias("c"),
        F.sum("n_tokens").alias("tok"),
    )
    w_cum = (
        W.partitionBy("source")
        .orderBy(F.desc("n_tokens"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("source")
    cum = hist.select(
        "source",
        "n_tokens",
        F.sum("c").over(w_cum).alias("cum_docs"),
        F.sum("tok").over(w_cum).alias("cum_tok"),
        F.sum("c").over(w_all).alias("n_docs"),
        F.sum("tok").over(w_all).alias("total_tok"),
    )
    cut = cum.groupBy("source", "n_docs", "total_tok").agg(
        F.min(
            F.when(
                F.col("cum_docs")
                >= F.expr("(n_docs + 9) div 10"),
                F.col("n_tokens"),
            )
        ).alias("len_cut")
    )
    cut_small = F.broadcast(
        cut.select(
            F.col("source").alias("_cut_source"),
            F.col("len_cut"),
        )
    )
    return (
        cum.join(
            cut_small,
            (F.col("source") == F.col("_cut_source"))
            & (F.col("n_tokens") == F.col("len_cut")),
        )
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_tok").cast("bigint").alias("total_tokens"),
            F.expr(
                "CAST(CAST(cum_tok AS DECIMAL(38,0)) * 1000000"
                " div total_tok AS BIGINT)"
            ).alias("top_decile_token_share_q6"),
        )
    )


@register(
    "text_cross_lang_contamination",
    oracle="""
    WITH fp AS (
      SELECT md5(text) AS fp, lang FROM documents WHERE text IS NOT NULL
    ), per_fp AS (
      SELECT fp, COUNT(*) AS n_copies,
             COUNT(DISTINCT lang) AS n_langs
      FROM fp GROUP BY fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_distinct_texts,
           CAST(COUNT(CASE WHEN n_langs > 1 THEN 1 END) AS BIGINT)
             AS n_cross_lang_texts,
           CAST(COALESCE(SUM(CASE WHEN n_langs > 1 THEN n_copies END), 0)
                AS BIGINT) AS n_cross_lang_docs
    FROM per_fp
    """,
)
def text_cross_lang_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-language duplicate census: identical text content
    appearing under MORE THAN ONE language label — the lang-ID /
    metadata corruption signal (a byte-identical document cannot be
    both 'en' and 'de'; one label is wrong, and a language-balanced
    sampler trained on it double-counts). Complements the confusion
    matrix (prediction drift) with a ground-truth-free consistency
    check.

    Plan: one narrow md5 projection (content bytes never shuffle),
    one fingerprint-keyed aggregate with a two-phase distinct on the
    label, folded to a one-row census.
    """
    docs = table_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    per_fp = (
        docs.select(F.md5("text").alias("fp"), "lang")
        .groupBy("fp")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )
    multi = F.col("n_langs") > 1
    return per_fp.agg(
        F.count("*").cast("bigint").alias("n_distinct_texts"),
        F.count(F.when(multi, 1)).cast("bigint").alias(
            "n_cross_lang_texts"
        ),
        F.coalesce(F.sum(F.when(multi, F.col("n_copies"))), F.lit(0))
        .cast("bigint")
        .alias("n_cross_lang_docs"),
    )


@register(
    "text_lm_perplexity_filter",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, mean_cond_prob_q9 AS score FROM ({_BIGRAM_LM_SQL})
    ), labelled AS (
      SELECT s.score, doc.lang,
             len({words_sql('doc.text')}) AS n_tokens
      FROM scores s JOIN documents doc USING (doc_id)
    ), med AS (
      SELECT lang,
             CAST(quantile_disc(score, 0.5) AS BIGINT) AS median_score_q9
      FROM labelled GROUP BY lang
    )
    SELECT l.lang,
           COUNT(*) AS n_scored,
           m.median_score_q9,
           CAST(SUM(CASE WHEN l.score >= m.median_score_q9
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN l.score >= m.median_score_q9
                         THEN l.n_tokens ELSE 0 END) AS BIGINT)
             AS kept_tokens
    FROM labelled l JOIN med m ON l.lang = m.lang
    GROUP BY l.lang, m.median_score_q9
    """,
)
def text_lm_perplexity_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style perplexity filtering, logarithm-free: per language,
    keep the more-fluent half of the corpus — documents whose
    bigram-LM fluency score (:func:`text_bigram_lm_score`'s exact
    integer ``mean_cond_prob_q9``; higher = lower perplexity) reaches
    the per-language median — and report the kept document and token
    mass per language.

    The per-language cut point is the LEVEL-census median (the
    two-pass budget-trim pattern): group scored docs by (lang,
    score), cumulative-count over score levels, pick the smallest
    level whose cumulative count reaches ⌈n/2⌉ — DuckDB
    ``quantile_disc`` semantics, exact integers end to end.

    Plan: the score frame is built ONCE (localCheckpoint — it feeds
    both the median and the census); the level window runs over
    distinct (lang, score) LEVELS, never documents; the 5-row median
    table broadcasts back.  At 100 TB the expensive part is the
    bigram scoring pass itself (audited in text_bigram_lm_score);
    everything added here is level-sized.
    """
    from pyspark.sql import Window as _W

    scores = text_bigram_lm_score(spark, sf_dir).select(
        "doc_id", F.col("mean_cond_prob_q9").alias("score")
    )
    docs = table_wide(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(words(F.col("text"))).alias("n_tokens"),
    )
    # class (b): the median and the census both read it
    labelled = scores.join(docs, "doc_id").localCheckpoint(eager=True)
    levels = labelled.groupBy("lang", "score").agg(
        F.count("*").alias("c")
    )
    w_cum = (
        _W.partitionBy("lang")
        .orderBy("score")
        .rowsBetween(_W.unboundedPreceding, _W.currentRow)
    )
    w_all = _W.partitionBy("lang")
    cum = levels.select(
        "lang",
        "score",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("tot"),
    )
    med = cum.groupBy("lang").agg(
        F.min(
            F.when(
                F.col("cum") >= F.ceil(F.lit(0.5) * F.col("tot")),
                F.col("score"),
            )
        ).alias("median_score_q9")
    )
    return (
        labelled.join(F.broadcast(med), "lang")
        .groupBy("lang", "median_score_q9")
        .agg(
            F.count("*").alias("n_scored"),
            F.sum(
                F.when(
                    F.col("score") >= F.col("median_score_q9"), 1
                ).otherwise(0)
            ).alias("n_kept"),
            F.sum(
                F.when(
                    F.col("score") >= F.col("median_score_q9"),
                    F.col("n_tokens"),
                ).otherwise(0)
            ).alias("kept_tokens"),
        )
        .select(
            "lang", "n_scored", "median_score_q9", "n_kept", "kept_tokens"
        )
    )


@register(
    "text_source_token_tvd",
    oracle=f"""
    WITH st AS ({term_counts_sql('source')}), ct AS (
      SELECT term, n AS m FROM ({term_counts_sql()})
    ), corpus AS (
      SELECT CAST(SUM(m) AS BIGINT) AS mm FROM ct
    ), ns AS (
      SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_distinct_terms
      FROM st GROUP BY source
    ), parts AS (
      SELECT s.source,
             SUM(abs(CAST(s.n AS HUGEINT) * c.mm
                     - CAST(t.m AS HUGEINT) * ns.n_tokens)) AS part1,
             SUM(t.m) AS cov
      FROM st s
      JOIN ct t ON s.term = t.term
      JOIN ns ON s.source = ns.source, corpus c
      GROUP BY s.source
    )
    SELECT ns.source, ns.n_tokens, ns.n_distinct_terms,
           CAST((p.part1 + CAST(c.mm - p.cov AS HUGEINT)
                           * ns.n_tokens) * 1000000
                // (2 * CAST(ns.n_tokens AS HUGEINT) * c.mm)
                AS BIGINT) AS tvd_q6
    FROM ns JOIN parts p ON ns.source = p.source, corpus c
    """,
)
def text_source_token_tvd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution drift as TOTAL-VARIATION distance
    from the corpus distribution: ``TV = ½·Σ_i |p_i − q_i|`` ∈ [0, 1]
    — the bounded, transcendental-free complement of the chi² drift
    screen (KL needs ln(); TV is pure rational arithmetic, so the
    whole statistic is one exact integer on both engines:
    ``(Σ|n_i·M − m_i·N_s| )·1e6 div (2·N_s·M)``).

    Absent terms cost ``Σ_{{n_i=0}} m_i·N_s = (M − Σ_present m_i)·N_s``
    — the coverage identity — so the aggregation touches only terms
    PRESENT in each source (a term-keyed join of the per-source and
    corpus count frames), never the |sources|×|vocab| cross product.

    Plan: two :func:`term_counts` frames, per (source, term) and per
    term; the per-source totals broadcast, and the corpus total (the
    sum of the term counts) is a one-row cross join. At 100 TB
    everything wide is keyed on term or (source, term); the per-term
    products n_i·M / m_i·N_s are widened to DECIMAL(38,0)/HUGEINT
    BEFORE the sum (n_i·M passes int64 once M ~ 1e10 tokens), as are
    the coverage term and the final ratio.
    """
    docs = table_wide(spark, sf_dir, "documents")
    st = term_counts(docs, "source")
    ct = term_counts(docs).withColumnRenamed("n", "m")
    corpus = ct.agg(F.sum("m").alias("mm"))
    ns = st.groupBy("source").agg(
        F.sum("n").alias("n_tokens"),
        F.count("*").cast("long").alias("n_distinct_terms"),
    )
    parts = (
        st.join(ct, "term")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(corpus))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    F.col("n").cast("decimal(38,0)") * F.col("mm")
                    - F.col("m").cast("decimal(38,0)")
                    * F.col("n_tokens")
                )
            ).alias("part1"),
            F.sum("m").alias("cov"),
        )
    )
    return (
        ns.join(parts, "source")
        .crossJoin(F.broadcast(corpus))
        .selectExpr(
            "source",
            "CAST(n_tokens AS BIGINT) AS n_tokens",
            "n_distinct_terms",
            "CAST((part1 + CAST(mm - cov AS DECIMAL(38,0))"
            " * n_tokens) * 1000000"
            " div (2 * CAST(n_tokens AS DECIMAL(38,0)) * mm)"
            " AS BIGINT) AS tvd_q6",
        )
    )


@register(
    "text_bpe_fertility_by_lang",
    oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len({words_sql()})) AS BIGINT) AS n_words,
           CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')))
             AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')))
                * 1000000
                // SUM(len({words_sql()})) AS BIGINT)
             AS fertility_q6
    FROM documents
    GROUP BY lang
    """,
)
def text_bpe_fertility_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer FERTILITY per language — BPE-ish tokens per
    whitespace word (q6): the standard multilingual tokenizer-cost
    metric (a language with fertility 2× pays 2× the context budget
    per word), computed per labeled language so the corpus-mixing
    stage can weigh sources by effective token cost rather than raw
    document counts. Sits on the same two counters as
    ``text_token_count_bpe``; one narrow projection + one lang-keyed
    aggregate (map-side combine; |langs| groups). The degenerate
    corpus keeps the ratio total-based (sum/sum, not avg-of-ratios),
    so empty languages cannot divide by zero — a lang group exists
    only if it has ≥1 document, and every document has ≥1 whitespace
    token by the split convention.
    """
    docs = table_wide(spark, sf_dir, "documents")
    toks = F.size(words(F.col("text"))).cast("long")
    bpe = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0)
    ).cast("long")
    return (
        docs.select("lang", toks.alias("w"), bpe.alias("b"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("w").alias("n_words"),
            F.sum("b").alias("n_bpe_tokens"),
        )
        .selectExpr(
            "lang",
            "CAST(n_docs AS BIGINT) AS n_docs",
            "CAST(n_words AS BIGINT) AS n_words",
            "CAST(n_bpe_tokens AS BIGINT) AS n_bpe_tokens",
            "CAST(n_bpe_tokens * 1000000 div n_words AS BIGINT)"
            " AS fertility_q6",
        )
    )


@register(
    "text_contamination_span_extent",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {words_sql()} AS w FROM documents
    ), pos_sh AS (
      -- positioned (NOT deduped) shingles: position matters here
      SELECT doc_id, u.i AS pos, array_to_string(w[u.i:u.i+{CONTAM_NGRAM - 1}], ' ') AS s
      FROM base, LATERAL (
        SELECT unnest(generate_series(
          1, greatest(len(w) - {CONTAM_NGRAM - 1}, 0))) AS i
      ) u
    ), bench_set AS (
      SELECT DISTINCT s FROM pos_sh WHERE doc_id % {CONTAM_BENCH_MOD} = 0
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_matched_positions,
           CAST(MIN(p.pos) AS BIGINT) AS first_pos,
           CAST(MAX(p.pos) AS BIGINT) AS last_pos,
           CAST(MAX(p.pos) - MIN(p.pos) + {CONTAM_NGRAM} AS BIGINT)
             AS span_words
    FROM pos_sh p JOIN bench_set b ON p.s = b.s
    WHERE p.doc_id % {CONTAM_BENCH_MOD} <> 0
    GROUP BY p.doc_id
    """,
)
def text_contamination_span_extent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """WHERE the contamination sits, not just whether: for each
    non-benchmark document sharing {CONTAM_NGRAM}-gram shingles with
    the held-out benchmark set, the matched shingle positions'
    count, first/last word offset (1-based), and the word extent of
    the contaminated span — the row a surgical decontaminator needs
    to cut the span instead of dropping the document (doc-level drops
    at 100 TB throw away the clean 95% of a long document for a
    quoted benchmark paragraph).

    Plan: positioned shingles are a narrow posexplode (positions must
    survive, so no dedup — unlike the census ops); the benchmark
    shingle SET builds from the 1/{CONTAM_BENCH_MOD} pre-filtered scan
    and joins BROADCAST; one doc-keyed aggregate emits the extents.
    """
    docs = table_wide(spark, sf_dir, "documents")
    toks = words(F.col("text"))
    n_sh = F.size(toks) - (CONTAM_NGRAM - 1)
    pos_sh = docs.select(
        "doc_id",
        F.posexplode(
            F.when(
                n_sh >= 1,
                F.transform(
                    F.sequence(F.lit(1), n_sh),
                    lambda i: F.concat_ws(
                        " ",
                        F.slice(toks, i, CONTAM_NGRAM),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos0", "s"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "s")
    bench_set = (
        pos_sh.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select("s")
        .distinct()
    )
    return (
        pos_sh.filter(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        .join(F.broadcast(bench_set), "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_matched_positions"),
            F.min("pos").cast("long").alias("first_pos"),
            F.max("pos").cast("long").alias("last_pos"),
            (F.max("pos") - F.min("pos") + CONTAM_NGRAM)
            .cast("long")
            .alias("span_words"),
        )
    )


VOCAB_COVERAGE_SIZES = (8, 16, 32)


@register(
    "text_vocab_coverage_curve",
    oracle=f"""
    WITH counts AS ({term_counts_sql()}), ranked AS (
      SELECT n, row_number() OVER (ORDER BY n DESC, term ASC) AS rnk
      FROM counts
    ), tot AS (
      SELECT COALESCE(SUM(n), 0) AS total_tokens,
             COUNT(*) AS n_terms
      FROM counts
    )
    SELECT CAST(v.vocab_size AS BIGINT) AS vocab_size,
           CAST(LEAST(v.vocab_size, t.n_terms) AS BIGINT)
             AS n_terms_in_vocab,
           CAST(COALESCE((SELECT SUM(n) FROM ranked r
                          WHERE r.rnk <= v.vocab_size), 0) AS BIGINT)
             AS covered_tokens,
           CAST(CASE WHEN t.total_tokens = 0 THEN 0
                ELSE COALESCE((SELECT SUM(n) FROM ranked r
                               WHERE r.rnk <= v.vocab_size), 0)
                     * 1000000 // t.total_tokens
                END AS BIGINT) AS coverage_q6
    FROM (VALUES {', '.join(f'({v})' for v in VOCAB_COVERAGE_SIZES)})
         v(vocab_size), tot t
    """,
)
def text_vocab_coverage_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Vocabulary-size coverage curve — the tokenizer-budget knob
    priced like the other tuning rows: for each candidate vocab size,
    how many corpus tokens the top-V terms (frequency rank, ties
    lexicographic — the ``text_vocab_topk`` order) cover, as a count
    and a q6 share. The complement is the OOV mass a V-term
    vocabulary sends through byte/char fallback — the number that
    actually sizes a tokenizer.

    Plan: ONE term-keyed aggregate (the corpus-wide shuffle any vocab
    build pays), then the curve only ever needs the TOP
    ``max(VOCAB_COVERAGE_SIZES)`` terms — taken with
    ``orderBy(...).limit(...)``, which compiles to
    TakeOrderedAndProject (per-partition top-k heaps + a driver-side
    merge of ≤32 rows per partition), NEVER a rank window over the
    full vocabulary: on a web-scale crawl the distinct-term frame is
    10⁸–10⁹ rows and an unpartitioned ``row_number`` would sort it on
    one partition (the r6 verdict's one scale-killer finding — fixed
    round 7; the plan-shape test pins TakeOrderedAndProject and bans
    single-partition Window nodes). The ≤32 ranked rows then join the
    broadcast 3-row size sweep; ``tot`` stays a plain aggregate of the
    count frame.
    """
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    counts = term_counts(docs)
    top = counts.orderBy(F.desc("n"), F.asc("term")).limit(
        max(VOCAB_COVERAGE_SIZES)
    )
    # rank window over the ≤max(sizes)-row LIMIT result only —
    # bounded by construction, not by data
    ranked = top.select(
        "n",
        F.row_number()
        .over(W.orderBy(F.desc("n"), F.asc("term")))
        .alias("rnk"),
    )
    tot = counts.agg(
        F.coalesce(F.sum("n"), F.lit(0)).alias("total_tokens"),
        F.count("*").alias("n_terms"),
    )
    sizes = spark.createDataFrame(
        [(v,) for v in VOCAB_COVERAGE_SIZES], "vocab_size long"
    )
    pts = (
        ranked.crossJoin(F.broadcast(sizes))
        .groupBy("vocab_size")
        .agg(
            F.sum(F.when(F.col("rnk") <= F.col("vocab_size"), F.col("n")))
            .alias("covered_tokens")
        )
    )
    pts = sizes.join(pts, "vocab_size", "left").select(
        "vocab_size",
        F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
    )
    return pts.crossJoin(F.broadcast(tot)).selectExpr(
        "CAST(vocab_size AS BIGINT) AS vocab_size",
        "CAST(LEAST(vocab_size, n_terms) AS BIGINT) AS n_terms_in_vocab",
        "CAST(covered_tokens AS BIGINT) AS covered_tokens",
        "CAST(CASE WHEN total_tokens = 0 THEN 0"
        " ELSE covered_tokens * 1000000 div total_tokens END AS BIGINT)"
        " AS coverage_q6",
    )


@register(
    "text_filter_ablation_census",
    oracle=f"""
    WITH {_DOC_WORDS_SQL}, flags AS (
      SELECT n_words, {", ".join(
          f"CASE WHEN {rule} THEN 1 ELSE 0 END AS {flag}"
          for flag, rule in _QF_RULES_SQL.items())}
      FROM doc_words
    )
    SELECT CAST(words_ok AS BIGINT) AS words_ok,
           CAST(dup_ok AS BIGINT) AS dup_ok,
           CAST(top_ok AS BIGINT) AS top_ok,
           COUNT(*) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_tokens
    FROM flags GROUP BY 1, 2, 3
    """,
)
def text_filter_ablation_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Filter ablation census — the question every pipeline owner
    asks before turning a quality gate on: WHICH rule removes WHAT
    mass, and how much do the rules overlap? The three
    ``text_quality_filter`` conjuncts (min words, dup-ratio cap,
    top-token cap — identical expressions, so the all-pass cell
    equals that filter's keep set by construction) become independent
    flags and the corpus is censused over all 2³ flag combinations
    with document and token mass per cell — the inclusion-exclusion
    table a removal decision actually needs (a doc failing two rules
    is not saved by relaxing one).

    100 TB shape: ONE token-census pass (the same
    :func:`doc_word_stats` aggregate the filter row runs), flags as
    narrow JVM projections, then an 8-cell groupBy. No per-rule
    rescan — the whole ablation matrix costs exactly one filter
    evaluation.
    """
    docs = table_wide(spark, sf_dir, "documents")
    flags = doc_word_stats(docs).select(
        "n_words",
        *(
            F.when(rule, 1).otherwise(0).cast("long").alias(flag)
            for flag, rule in _qf_rules().items()
        ),
    )
    return flags.groupBy("words_ok", "dup_ok", "top_ok").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_words").cast("long").alias("n_tokens"),
    )


@register(
    "text_script_mix_census",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             length(text) AS total_chars,
             len(list_filter(string_split(text, ''),
                 c -> (ascii(c) BETWEEN 65 AND 90)
                   OR (ascii(c) BETWEEN 97 AND 122))) AS latin_chars,
             len(list_filter(string_split(text, ''),
                 c -> ascii(c) BETWEEN 48 AND 57)) AS digit_chars,
             len(list_filter(string_split(text, ''),
                 c -> ascii(c) = 32)) AS space_chars,
             len(list_filter(string_split(text, ''),
                 c -> ascii(c) BETWEEN 19968 AND 40959)) AS cjk_chars
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(total_chars) AS BIGINT) AS total_chars,
           CAST(SUM(latin_chars) AS BIGINT) AS latin_chars,
           CAST(SUM(digit_chars) AS BIGINT) AS digit_chars,
           CAST(SUM(space_chars) AS BIGINT) AS space_chars,
           CAST(SUM(cjk_chars) AS BIGINT) AS cjk_chars,
           CAST(SUM(total_chars - latin_chars - digit_chars
                    - space_chars - cjk_chars) AS BIGINT) AS other_chars
    FROM per_doc GROUP BY lang
    """,
)
def text_script_mix_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script composition census per language — the
    mislabeled-language tripwire a multilingual pipeline runs next to
    n-gram language ID (a 'zh' shard that is 95% Latin codepoints is
    a labeling bug, not Chinese): per lang, character mass by script
    class (Latin letters, ASCII digits, spaces, CJK Unified
    Ideographs, other). Classes are CODEPOINT-RANGE predicates over
    the per-character array — deliberately regex-free, because Java
    regex and RE2 spell Unicode escapes differently
    (``\\uXXXX`` vs ``\\x{{...}}``) while ``ascii()`` returns the
    identical code point on both engines; the residual class is
    total − counted, so engine-specific empty-split artifacts cancel
    by construction.

    100 TB shape: one NARROW scan — the per-character filters run
    inside whole-stage codegen on the pre-split array (no explode, no
    per-char shuffle rows), then a |langs|-key aggregate.
    """
    docs = table_wide(spark, sf_dir, "documents")

    def _cls(cond: str) -> str:
        return f"size(filter(split(text, ''), c -> {cond}))"

    per_doc = docs.selectExpr(
        "lang",
        "length(text) AS total_chars",
        _cls("(ascii(c) BETWEEN 65 AND 90)"
             " OR (ascii(c) BETWEEN 97 AND 122)") + " AS latin_chars",
        _cls("ascii(c) BETWEEN 48 AND 57") + " AS digit_chars",
        _cls("ascii(c) = 32") + " AS space_chars",
        _cls("ascii(c) BETWEEN 19968 AND 40959") + " AS cjk_chars",
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("total_chars").cast("long").alias("total_chars"),
        F.sum("latin_chars").cast("long").alias("latin_chars"),
        F.sum("digit_chars").cast("long").alias("digit_chars"),
        F.sum("space_chars").cast("long").alias("space_chars"),
        F.sum("cjk_chars").cast("long").alias("cjk_chars"),
        F.sum(
            F.col("total_chars")
            - F.col("latin_chars")
            - F.col("digit_chars")
            - F.col("space_chars")
            - F.col("cjk_chars")
        )
        .cast("long")
        .alias("other_chars"),
    )


HASH_AUDIT_BUCKETS = 1024  # the DSIR/feature-hash bucket space


@register(
    "text_hash_collision_census",
    oracle=f"""
    WITH vocab AS (SELECT term FROM ({term_counts_sql()})), b AS (
      SELECT (('0x' || substr(md5(term), 1, 8))::BIGINT
              % {HASH_AUDIT_BUCKETS}) AS bucket,
             COUNT(*) AS load
      FROM vocab GROUP BY 1
    ), tot AS (
      SELECT COALESCE(SUM(load), 0) AS n_terms,
             COUNT(*) AS n_occupied
      FROM b
    )
    SELECT CAST(load AS BIGINT) AS bucket_load,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(tot.n_terms) AS BIGINT) AS n_terms,
           CAST(MAX(tot.n_occupied) AS BIGINT) AS n_occupied,
           CAST(COALESCE(SUM(load - 1), 0) AS BIGINT) AS collisions
    FROM b CROSS JOIN tot
    GROUP BY load
    """,
)
def text_hash_collision_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hashing-trick collision audit for the {HASH_AUDIT_BUCKETS}-
    bucket feature space the DSIR selector and `feat_hash_bucket`
    project into: the bucket-load histogram over the DISTINCT term
    vocabulary (how many buckets carry 1, 2, 3... terms), occupancy,
    and the collision count (terms minus buckets used — every
    collision merges two features). Reading this against the
    balls-in-bins expectation tells you whether {HASH_AUDIT_BUCKETS}
    buckets are enough for this vocabulary before a selector ships.

    100 TB shape: one tokenize+distinct pass (vocabulary-sized
    output), a {HASH_AUDIT_BUCKETS}-key count, then histogram
    aggregates over the bucket frame — everything after the distinct
    is broadcast-scale.
    """
    docs = table_wide(spark, sf_dir, "documents")
    vocab = term_counts(docs).select("term")
    b = vocab.groupBy(
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast(
                "bigint"
            )
            % HASH_AUDIT_BUCKETS
        ).alias("bucket")
    ).agg(F.count("*").alias("load"))
    tot = b.agg(
        F.coalesce(F.sum("load"), F.lit(0)).alias("n_terms"),
        F.count("*").alias("n_occupied"),
    )
    return (
        b.crossJoin(F.broadcast(tot))
        .groupBy(F.col("load").alias("bucket_load"))
        .agg(
            F.count("*").alias("n_buckets"),
            F.max("n_terms").cast("long").alias("n_terms"),
            F.max("n_occupied").cast("long").alias("n_occupied"),
            F.coalesce(F.sum(F.col("load") - 1), F.lit(0))
            .cast("long")
            .alias("collisions"),
        )
    )


LIFT_VOCAB_TOP = 20  # pair universe = top-df terms (bounded pairs/doc)
LIFT_TOP_PAIRS = 25


@register(
    "text_term_lift_topk",
    oracle=f"""
    WITH dt AS (SELECT doc_id, term FROM ({term_counts_sql('doc_id')})), df AS (
      SELECT term, COUNT(*) AS df FROM dt GROUP BY term
    ), vocab AS (
      SELECT term, df FROM df
      ORDER BY df DESC, term ASC LIMIT {LIFT_VOCAB_TOP}
    ), vd AS (
      SELECT dt.doc_id, dt.term FROM dt JOIN vocab USING (term)
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), pairs AS (
      SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
      FROM vd a JOIN vd b
        ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2
    )
    SELECT term_a, term_b,
           CAST(n_ab AS BIGINT) AS n_ab,
           CAST(va.df AS BIGINT) AS df_a,
           CAST(vb.df AS BIGINT) AS df_b,
           CAST(n_ab * n.n_docs * 1000000 // (va.df * vb.df) AS BIGINT)
             AS lift_q6
    FROM pairs
    JOIN vocab va ON va.term = term_a
    JOIN vocab vb ON vb.term = term_b
    CROSS JOIN n
    ORDER BY lift_q6 DESC, term_a ASC, term_b ASC
    LIMIT {LIFT_TOP_PAIRS}
    """,
)
def text_term_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term co-occurrence LIFT collocations (PMI without the log —
    the exact-rational association measure: lift = P(a,b)/(P(a)P(b)),
    monotone in PMI so the top-k ranking is identical while every
    value stays an integer division — the house transcendental-free
    discipline). The text twin of ``orders_market_basket_lift``:
    which term pairs co-occur in documents beyond chance — the
    collocation-discovery pass of corpus analysis.

    Pair universe bounded BY DESIGN: only the top-{LIFT_VOCAB_TOP}
    terms by document frequency (deterministic df-desc/term-asc
    tie-break) enter pairing, so a document contributes at most
    C({LIFT_VOCAB_TOP},2) pairs regardless of length — the same
    capped-universe discipline as the df-capped LSH inverted index.

    100 TB shape: one tokenize + distinct (doc, term) shuffle; the
    vocabulary is a TakeOrdered top-k of the df aggregate (broadcast
    back as a semi-join); the pair self-join shuffles only the
    vocab-filtered (doc, term) stream keyed by doc — ≤{LIFT_VOCAB_TOP}
    rows per doc; the final top-k is TakeOrdered over the
    ≤C({LIFT_VOCAB_TOP},2)-row pair table.
    """
    docs = table_wide(spark, sf_dir, "documents")
    # class (b): the (doc, term) distinct stream feeds the df aggregate
    # AND the vocab-filtered pair join — materialize once
    dt = term_counts(docs, "doc_id").select("doc_id", "term")
    dt = dt.localCheckpoint(eager=True)
    df_t = dt.groupBy("term").agg(F.count("*").alias("df"))
    vocab = df_t.orderBy(F.desc("df"), F.asc("term")).limit(
        LIFT_VOCAB_TOP
    )
    vd = dt.join(F.broadcast(vocab.select("term")), "term").select(
        "doc_id", "term"
    )
    n = docs.agg(F.countDistinct("doc_id").alias("n_docs"))
    a = vd.select("doc_id", F.col("term").alias("term_a"))
    b = vd.select("doc_id", F.col("term").alias("term_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count("*").alias("n_ab"))
    )
    va = vocab.select(
        F.col("term").alias("term_a"), F.col("df").alias("df_a")
    )
    vb = vocab.select(
        F.col("term").alias("term_b"), F.col("df").alias("df_b")
    )
    return (
        pairs.join(F.broadcast(va), "term_a")
        .join(F.broadcast(vb), "term_b")
        .crossJoin(F.broadcast(n))
        .select(
            "term_a",
            "term_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.col("df_a").cast("long").alias("df_a"),
            F.col("df_b").cast("long").alias("df_b"),
            F.expr(
                "CAST(n_ab * n_docs * 1000000 div (df_a * df_b)"
                " AS BIGINT)"
            ).alias("lift_q6"),
        )
        .orderBy(F.desc("lift_q6"), F.asc("term_a"), F.asc("term_b"))
        .limit(LIFT_TOP_PAIRS)
    )


@register(
    "text_langid_eval_census",
    oracle=f"""
    WITH {_LANG_PRED_SQL}, pred AS (
      SELECT lang AS labeled, predicted_lang AS predicted FROM lang_pred
    ), by_true AS (
      SELECT labeled, COUNT(*) AS n_labeled,
             SUM(CASE WHEN predicted = labeled THEN 1 ELSE 0 END)
               AS n_correct
      FROM pred GROUP BY labeled
    ), by_pred AS (
      SELECT predicted, COUNT(*) AS n_predicted FROM pred
      GROUP BY predicted
    )
    SELECT t.labeled AS lang,
           CAST(t.n_labeled AS BIGINT) AS n_labeled,
           CAST(COALESCE(p.n_predicted, 0) AS BIGINT) AS n_predicted,
           CAST(t.n_correct AS BIGINT) AS n_correct,
           CAST(t.n_correct * 1000000
                // NULLIF(COALESCE(p.n_predicted, 0), 0) AS BIGINT)
             AS precision_q6,
           CAST(t.n_correct * 1000000 // t.n_labeled AS BIGINT)
             AS recall_q6,
           -- F1 = 2PR/(P+R) = 2c/(L+P) exactly — one integer division
           CAST(2 * t.n_correct * 1000000
                // (t.n_labeled + COALESCE(p.n_predicted, 0)) AS BIGINT)
             AS f1_q6
    FROM by_true t LEFT JOIN by_pred p ON p.predicted = t.labeled
    """,
)
def text_langid_eval_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-evaluation census for the lang-ID heuristic — the
    model-eval family's first row: per TRUE class, support, predicted
    count, correct count, and precision / recall / F1, all exact
    integer q6 (F1 = 2PR/(P+R) collapses to 2·correct/(support +
    predicted) — one integer division, no float harmonic mean).
    `text_lang_id` emits the per-doc (label, prediction) pairs; this
    is the aggregate report card a pipeline tracks per ingest batch
    to catch heuristic drift against labeled data.

    100 TB shape: one marker-scan projection (the lang-ID pass the
    pipeline already pays) folded by TWO bounded aggregates (by true
    class and by predicted class, each ≤ |langs| rows) joined at
    census scale.
    """
    from almost_any_file_to_pandas_spark.plans import QUERIES

    pred = QUERIES["text_lang_id"](spark, sf_dir).select(
        F.col("labeled_lang").alias("labeled"),
        F.col("predicted_lang").alias("predicted"),
    )
    # class (b): the marker scan is the expensive projection and BOTH
    # censuses read it — materialize once
    pred = pred.localCheckpoint(eager=True)
    by_true = pred.groupBy("labeled").agg(
        F.count("*").alias("n_labeled"),
        F.sum(
            F.when(F.col("predicted") == F.col("labeled"), 1).otherwise(0)
        ).alias("n_correct"),
    )
    by_pred = pred.groupBy("predicted").agg(
        F.count("*").alias("n_predicted")
    )
    return (
        by_true.join(
            F.broadcast(by_pred),
            F.col("predicted") == F.col("labeled"),
            "left",
        )
        .select(
            F.col("labeled").alias("lang"),
            F.col("n_labeled").cast("long").alias("n_labeled"),
            F.coalesce(F.col("n_predicted"), F.lit(0))
            .cast("long")
            .alias("n_predicted"),
            F.col("n_correct").cast("long").alias("n_correct"),
            F.expr(
                "CAST(n_correct * 1000000"
                " div nullif(coalesce(n_predicted, 0), 0) AS BIGINT)"
            ).alias("precision_q6"),
            F.expr(
                "CAST(n_correct * 1000000 div n_labeled AS BIGINT)"
            ).alias("recall_q6"),
            F.expr(
                "CAST(2 * n_correct * 1000000"
                " div (n_labeled + coalesce(n_predicted, 0)) AS BIGINT)"
            ).alias("f1_q6"),
        )
    )


HEAPS_CHECKPOINTS = 10  # corpus-prefix deciles the growth curve samples


@register(
    "text_heaps_vocab_growth",
    oracle=f"""
    WITH nn AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    firsts AS (
      SELECT term, MIN(doc_id) AS first_doc
      FROM ({term_counts_sql('doc_id')}) GROUP BY term
    ), vocab_by_decile AS (
      SELECT (first_doc * {HEAPS_CHECKPOINTS}) // nn.n AS decile,
             COUNT(*) AS new_terms
      FROM firsts, nn GROUP BY 1
    ), docstats AS (
      SELECT (doc_id * {HEAPS_CHECKPOINTS}) // nn.n AS decile,
             COUNT(*) AS n_docs,
             SUM(len({words_sql()})) AS n_tokens
      FROM documents, nn GROUP BY 1
    ), spine AS (
      SELECT unnest(range({HEAPS_CHECKPOINTS})) AS checkpoint
    ), cum AS (
      SELECT s.checkpoint,
             (SELECT COALESCE(SUM(d.n_docs), 0) FROM docstats d
               WHERE d.decile <= s.checkpoint) AS cum_docs,
             (SELECT COALESCE(SUM(d.n_tokens), 0) FROM docstats d
               WHERE d.decile <= s.checkpoint) AS cum_tokens,
             (SELECT COALESCE(SUM(v.new_terms), 0) FROM vocab_by_decile v
               WHERE v.decile <= s.checkpoint) AS vocab_size
      FROM spine s
    )
    SELECT CAST(checkpoint AS BIGINT) AS checkpoint,
           CAST(cum_docs AS BIGINT) AS cum_docs,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CAST(vocab_size AS BIGINT) AS vocab_size,
           CAST(CASE WHEN cum_tokens = 0 THEN 0
                ELSE vocab_size * 1000000 // cum_tokens END AS BIGINT)
             AS ttr_q6
    FROM cum
    """,
)
def text_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve — distinct vocabulary vs
    cumulative token count at {HEAPS_CHECKPOINTS} corpus-prefix
    checkpoints (docs in ``doc_id`` order, decile =
    ``(doc_id·{HEAPS_CHECKPOINTS}) div (max_doc+1)``). The curve is
    how a corpus builder decides whether more data still buys new
    vocabulary (sub-linear growth flattening = diminishing lexical
    returns) and is the classic companion to the Zipf rank-frequency
    profile (`text_vocab_topk`); the type-token ratio per prefix
    rides along in exact integer q6 — no logs, per the house
    transcendental-free discipline.

    Plan: the cumulative trick is that a term contributes to every
    checkpoint ≥ its FIRST decile, so one vocabulary-keyed aggregate
    (min doc_id per term — the only corpus-sized shuffle) reduces to
    a ≤{HEAPS_CHECKPOINTS}-row frame, and the prefix sums run on the
    {HEAPS_CHECKPOINTS}-row spine — never a re-scan per checkpoint
    and never a corpus-sized window. Doc/token masses come from a
    second map-side-combined aggregate over per-doc projections; the
    max-doc scalar broadcasts.
    """
    docs = table_wide(spark, sf_dir, "documents")
    n = docs.agg((F.max("doc_id") + 1).alias("n"))
    firsts = (
        term_counts(docs, "doc_id")
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    vocab_dec = (
        firsts.crossJoin(F.broadcast(n))
        .selectExpr(
            f"(first_doc * {HEAPS_CHECKPOINTS}) div n AS decile"
        )
        .groupBy("decile")
        .agg(F.count("*").alias("new_terms"))
    )
    doc_dec = (
        docs.select(
            "doc_id",
            F.size(words(F.col("text"))).alias("n_tokens"),
        )
        .crossJoin(F.broadcast(n))
        .selectExpr(
            f"(doc_id * {HEAPS_CHECKPOINTS}) div n AS decile",
            "n_tokens",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
    )
    spine = spark.range(HEAPS_CHECKPOINTS).select(
        F.col("id").alias("checkpoint")
    )
    cum_docs = (
        spine.join(
            F.broadcast(doc_dec),
            doc_dec["decile"] <= F.col("checkpoint"),
            "left",
        )
        .groupBy("checkpoint")
        .agg(
            F.coalesce(F.sum("n_docs"), F.lit(0))
            .cast("long")
            .alias("cum_docs"),
            F.coalesce(F.sum("n_tokens"), F.lit(0))
            .cast("long")
            .alias("cum_tokens"),
        )
    )
    cum_vocab = (
        spine.join(
            F.broadcast(vocab_dec),
            vocab_dec["decile"] <= F.col("checkpoint"),
            "left",
        )
        .groupBy("checkpoint")
        .agg(
            F.coalesce(F.sum("new_terms"), F.lit(0))
            .cast("long")
            .alias("vocab_size")
        )
    )
    return (
        cum_docs.join(cum_vocab, "checkpoint")
        .selectExpr(
            "CAST(checkpoint AS BIGINT) AS checkpoint",
            "cum_docs",
            "cum_tokens",
            "vocab_size",
            "CAST(CASE WHEN cum_tokens = 0 THEN 0"
            " ELSE vocab_size * 1000000 div cum_tokens END AS BIGINT)"
            " AS ttr_q6",
        )
    )


RAKE_TOP = 15  # keyphrases reported

# Gopher stopword list, restated for the oracle (import would be
# circular at module-import time for the SQL constant)
_RAKE_STOP_SQL = (
    "'the', 'be', 'to', 'of', 'and', 'that', 'have', 'with', 'a', 'in'"
)


@register(
    "text_rake_keyphrases_topk",
    oracle=f"""
    WITH toks AS (
      -- index-join ordinality (DuckDB lacks WITH ORDINALITY)
      SELECT doc_id, u.ord, l[u.ord] AS term
      FROM (SELECT doc_id, {words_sql()} AS l
            FROM documents),
      LATERAL (SELECT unnest(range(1, len(l) + 1)) AS ord) u
    ), marked AS (
      SELECT doc_id, term, ord,
             SUM(CASE WHEN term IN ({_RAKE_STOP_SQL}) OR term = ''
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY ord) AS run_id,
             (term IN ({_RAKE_STOP_SQL}) OR term = '') AS is_stop
      FROM toks
    ), content AS (
      SELECT doc_id, run_id, term, ord FROM marked WHERE NOT is_stop
    ), phrase_len AS (
      SELECT doc_id, run_id, COUNT(*) AS plen FROM content
      GROUP BY doc_id, run_id
    ), word_stats AS (
      SELECT c.term,
             COUNT(*) AS freq,
             SUM(p.plen) AS degree
      FROM content c
      JOIN phrase_len p
        ON p.doc_id = c.doc_id AND p.run_id = c.run_id
      GROUP BY c.term
    ), word_score AS (
      SELECT term, (degree * 1000000) // freq AS score_q6
      FROM word_stats
    ), phrases AS (
      SELECT c.doc_id, c.run_id,
             string_agg(c.term, ' ' ORDER BY c.ord) AS phrase,
             COUNT(*) AS n_words,
             SUM(w.score_q6) AS score_q6
      FROM content c JOIN word_score w ON w.term = c.term
      GROUP BY c.doc_id, c.run_id
    ), agg AS (
      SELECT phrase,
             CAST(MAX(n_words) AS BIGINT) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_occ,
             CAST(MAX(score_q6) AS BIGINT) AS score_q6
      FROM phrases GROUP BY phrase
    )
    SELECT phrase, n_words, n_occ, score_q6
    FROM agg
    ORDER BY score_q6 DESC, phrase ASC
    LIMIT {RAKE_TOP}
    """,
)
def text_rake_keyphrases_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, "Automatic
    Keyword Extraction from Individual Documents"): candidate phrases
    are the maximal runs of non-stopword tokens (split at the Gopher
    stopword list + empty tokens), each word scores degree/frequency
    (degree = Σ lengths of the phrases containing it), and a phrase
    scores the sum of its word scores. The house integer discipline:
    word scores quantize to q6 BEFORE the phrase sum (the contract
    both engines state identically), so the top-{RAKE_TOP} ranking is
    hash-exact with a deterministic (score, phrase) tie-break.

    Plan: posexplode (narrow) → per-doc stopword-prefix window (the
    run-id trick that turns "maximal runs" into a GROUP BY — no
    UDF, no re-scan) → three hash aggregates whose keys shrink
    corpus → phrases → vocabulary, each map-side combined → one
    TakeOrderedAndProject. The only window partitions BY DOC (never
    global). At 100 TB every stage key is vocabulary- or
    phrase-bounded after combine.
    """
    from almost_any_file_to_pandas_spark.operators.quality import (
        STOPWORDS,
    )
    from pyspark.sql import Window as W

    docs = table_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(words(F.col("text"))).alias("ord", "term"),
    )
    is_stop = F.col("term").isin(*STOPWORDS) | (F.col("term") == "")
    marked = toks.select(
        "doc_id",
        "term",
        "ord",
        F.sum(is_stop.cast("long"))
        .over(W.partitionBy("doc_id").orderBy("ord"))
        .alias("run_id"),
        is_stop.alias("is_stop"),
    )
    # class (b): phrase lengths, word scores and phrases all read it
    content = marked.filter(~F.col("is_stop")).localCheckpoint(
        eager=True
    )
    phrase_len = content.groupBy("doc_id", "run_id").agg(
        F.count("*").alias("plen")
    )
    word_score = (
        content.join(phrase_len, ["doc_id", "run_id"])
        .groupBy("term")
        .agg(
            F.count("*").alias("freq"),
            F.sum("plen").alias("degree"),
        )
        .selectExpr(
            "term", "(degree * 1000000) div freq AS score_q6"
        )
    )
    phrases = (
        content.join(word_score, "term")
        .groupBy("doc_id", "run_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("ord", "term"))
                ).getField("term"),
                " ",
            ).alias("phrase"),
            F.count("*").alias("n_words"),
            F.sum("score_q6").alias("score_q6"),
        )
    )
    agg = phrases.groupBy("phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.count("*").cast("long").alias("n_occ"),
        F.max("score_q6").cast("long").alias("score_q6"),
    )
    return agg.orderBy(
        F.desc("score_q6"), F.asc("phrase")
    ).limit(RAKE_TOP)


# ---------------------------------------------------------------------------
# Round 9: inter-annotator agreement (Cohen's kappa) + Flesch readability
# ---------------------------------------------------------------------------


@register(
    "text_langid_agreement_kappa",
    oracle=f"""
    WITH {_LANG_PRED_SQL}, pairs AS (
      SELECT lang AS a1, predicted_lang AS a2 FROM lang_pred
    ), cells AS (
      SELECT a1, a2, COUNT(*) AS c FROM pairs GROUP BY a1, a2
    ), marg AS (
      SELECT COALESCE(r.a1, col.a2) AS k,
             COALESCE(r.row_n, 0) AS row_n,
             COALESCE(col.col_n, 0) AS col_n
      FROM (SELECT a1, SUM(c) AS row_n FROM cells GROUP BY a1) r
      FULL JOIN (SELECT a2, SUM(c) AS col_n FROM cells GROUP BY a2) col
        ON r.a1 = col.a2
    ), folded AS (
      SELECT (SELECT SUM(c) FROM cells) AS n,
             (SELECT COALESCE(SUM(c), 0) FROM cells WHERE a1 = a2)
               AS agree,
             SUM(CAST(row_n AS HUGEINT) * col_n) AS pe_num
      FROM marg
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(agree AS BIGINT) AS n_agree,
           CAST(agree * 1000000 // n AS BIGINT) AS po_q6,
           CAST(pe_num * 1000000 // (CAST(n AS HUGEINT) * n)
                AS BIGINT) AS pe_q6,
           -- kappa = (N·agree − pe_num) / (N² − pe_num), truncated
           -- toward zero like Spark's div. A degenerate corpus where
           -- p_e = 1 (e.g. one doc whose label equals the prediction)
           -- leaves kappa undefined — NULL, not a div-by-zero
           CAST(CASE WHEN CAST(n AS HUGEINT) * n - pe_num > 0 THEN
                (CAST(n AS HUGEINT) * agree - pe_num) * 1000000
                // (CAST(n AS HUGEINT) * n - pe_num) END AS BIGINT)
             AS kappa_q6
    FROM folded
    """,
)
def text_langid_agreement_kappa(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohen's kappa between the corpus's labeled language and the
    stopword-marker classifier — the chance-corrected agreement score
    an annotation pipeline reports between two annotators (here: the
    upstream labeler vs the engine's heuristic; swap in any two label
    columns). κ = (p_o − p_e)/(1 − p_e) over the confusion matrix,
    stated in exact integers: κ_q6 = (N·agree − Σ_k row_k·col_k)·1e6
    div (N² − Σ_k row_k·col_k). The numerator can be NEGATIVE
    (worse-than-chance); Spark ``div`` and DuckDB ``//`` both truncate
    it toward zero. Widened DECIMAL(38,0)/HUGEINT keeps N²·1e6 exact
    at any SF.

    Scale shape: ONE corpus aggregate to the ≤|langs|² confusion
    cells; marginals, p_e and κ fold on that bounded frame."""
    docs = table_wide(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("a1"), lang_pred(F.col("text")).alias("a2")
        )
        .groupBy("a1", "a2")
        .agg(F.count("*").alias("c"))
    )
    rows = cells.groupBy("a1").agg(F.sum("c").alias("row_n"))
    cols = cells.groupBy("a2").agg(F.sum("c").alias("col_n"))
    marg = rows.join(
        cols, rows["a1"] == cols["a2"], "full"
    ).select(
        F.coalesce(F.col("row_n"), F.lit(0)).alias("row_n"),
        F.coalesce(F.col("col_n"), F.lit(0)).alias("col_n"),
    )
    totals = cells.agg(
        F.sum("c").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("a1") == F.col("a2"), F.col("c"))),
            F.lit(0),
        ).alias("agree"),
    )
    pe = marg.agg(
        F.expr(
            "CAST(SUM(CAST(row_n AS DECIMAL(38,0)) * col_n)"
            " AS DECIMAL(38,0))"
        ).alias("pe_num")
    )
    return (
        totals.crossJoin(F.broadcast(pe))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_docs",
            "CAST(agree AS BIGINT) AS n_agree",
            "CAST(agree * 1000000 div n AS BIGINT) AS po_q6",
            "CAST(pe_num * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT) AS pe_q6",
            # p_e = 1 (degenerate) leaves kappa NULL, not div-by-zero
            "CAST(CASE"
            " WHEN CAST(n AS DECIMAL(38,0)) * n - pe_num > 0"
            " THEN (CAST(n AS DECIMAL(38,0)) * agree - pe_num) * 1000000"
            "      div (CAST(n AS DECIMAL(38,0)) * n - pe_num)"
            " END AS BIGINT) AS kappa_q6",
        )
    )


_FLESCH_BASE_Q6 = 206_835_000  # 206.835 in q6
_FLESCH_WPS_Q6 = 1_015_000     # 1.015 per word-per-sentence
_FLESCH_SPW_Q6 = 84_600_000    # 84.6 per syllable-per-word


def _raw_count_sql(expr: str, ch: str) -> str:
    return f"(length({expr}) - length(replace({expr}, '{ch}', '')))"


@register(
    "text_readability_flesch_census",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             len({words_sql()}) AS words,
             GREATEST(1, {_raw_count_sql('text', '.')}
                         + {_raw_count_sql('text', '!')}
                         + {_raw_count_sql('text', '?')}) AS sents,
             len(regexp_extract_all(lower(text), '[aeiouy]+'))
               AS sylls
      FROM documents
    ), scored AS (
      SELECT lang,
             {_FLESCH_BASE_Q6}
             - ({_FLESCH_WPS_Q6} * words) // sents
             - ({_FLESCH_SPW_Q6} * sylls) // words AS flesch_q6
      FROM per_doc
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(MIN(flesch_q6) AS BIGINT) AS min_q6,
           CAST(MAX(flesch_q6) AS BIGINT) AS max_q6,
           -- the mean can be negative; // truncates it toward zero,
           -- as Spark's div does
           CAST(SUM(CAST(flesch_q6 AS HUGEINT)) // COUNT(*)
                AS BIGINT) AS mean_q6
    FROM scored GROUP BY lang
    """,
)
def text_readability_flesch_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Flesch reading-ease census per language — the classic
    readability filter (206.835 − 1.015·words/sentence −
    84.6·syllables/word) with the standard cheap proxies: sentences =
    terminal-punctuation count (min 1), syllables = vowel-group count
    (``[aeiouy]+`` runs). All-integer: the two per-doc ratios are
    non-negative integer divisions of q6-scaled constants, the
    subtraction is exact, and the per-lang mean is a widened integer
    division that truncates toward zero on both engines (sums can be
    negative for long-winded corpora). One narrow projection + one
    ≤|langs|-cell aggregate."""
    docs = table_wide(spark, sf_dir, "documents")
    n_words = F.size(words(F.col("text")))
    raw = lambda ch: (  # noqa: E731 — local character counter
        F.length(F.col("text"))
        - F.length(F.replace(F.col("text"), F.lit(ch), F.lit("")))
    )
    sents = F.greatest(F.lit(1), raw(".") + raw("!") + raw("?"))
    sylls = F.size(
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[aeiouy]+"), F.lit(0)
        )
    )
    # materialize the integer word/sentence/syllable counts first so
    # the q6 ratio expressions reference named columns
    scored = docs.select(
        "lang",
        n_words.cast("long").alias("words"),
        sents.cast("long").alias("sents"),
        sylls.cast("long").alias("sylls"),
    ).select(
        "lang",
        (
            F.lit(_FLESCH_BASE_Q6)
            - F.expr(f"({_FLESCH_WPS_Q6} * words) div sents")
            - F.expr(f"({_FLESCH_SPW_Q6} * sylls) div words")
        ).alias("flesch_q6"),
    )
    return scored.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min("flesch_q6").cast("long").alias("min_q6"),
        F.max("flesch_q6").cast("long").alias("max_q6"),
        F.expr(
            "CAST(SUM(CAST(flesch_q6 AS DECIMAL(38,0))) div COUNT(*)"
            " AS BIGINT)"
        ).alias("mean_q6"),
    )


@register(
    "text_yule_k_census",
    oracle=f"""
    WITH freqs AS (SELECT term, n AS f FROM ({term_counts_sql()})), agg AS (
      SELECT CAST(SUM(f) AS HUGEINT) AS n_tok,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(CAST(f AS HUGEINT) * f) AS HUGEINT) AS s2,
             CAST(SUM(CAST(f AS HUGEINT) * (f - 1)) AS HUGEINT) AS rp
      FROM freqs
    )
    SELECT CAST(COALESCE(n_tok, 0) AS BIGINT) AS n_tokens,
           n_types,
           CAST(COALESCE(s2, 0) AS BIGINT) AS sum_freq_sq,
           CAST(CASE WHEN COALESCE(n_tok, 0) < 1 THEN 0
                ELSE (s2 - n_tok) * 10000000000 // (n_tok * n_tok)
                END AS BIGINT) AS yule_k_q6,
           CAST(CASE WHEN COALESCE(n_tok, 0) < 2 THEN 0
                ELSE rp * 1000000000 // (n_tok * (n_tok - 1))
                END AS BIGINT) AS simpson_d_q9
    FROM agg
    """,
)
def text_yule_k_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus lexical-diversity census: Yule's K and Simpson's D from
    the whitespace-token frequency spectrum (the same tokenizer as
    ``text_token_count`` / ``text_heaps_vocab_growth``, so the three
    rows describe one consistent vocabulary).

    K = 10⁴·(Σf² − N)/N² (emitted q6 → ·10¹⁰ before the division),
    D = Σf(f−1)/(N(N−1)) (emitted q9 for resolution — D is O(1e-4)
    on natural corpora). Both numerators fold exact
    HUGEINT/DECIMAL(38,0) integers; one division each at the end,
    all operands non-negative (Σf² ≥ N always). Degenerate corpora
    (empty, single token) short-circuit to 0 via the same CASE on
    both engines rather than tripping ANSI divide-by-zero.

    Scale: one tokenize pass (JVM split+explode), one vocab-keyed
    groupBy with map-side combine, then a 1-row fold of the
    vocab-sized frequency frame. Repeated heavy tokens concentrate
    into single partials before the shuffle — the classic Zipf skew
    is absorbed by the combiner, not the reducer."""
    docs = table(spark, sf_dir, "documents")
    freqs = term_counts(docs).withColumnRenamed("n", "f")
    agg = freqs.agg(
        F.sum(F.expr("CAST(f AS DECIMAL(38,0))")).alias("n_tok"),
        F.count("*").cast("long").alias("n_types"),
        F.sum(F.expr("CAST(f AS DECIMAL(38,0)) * f")).alias("s2"),
        F.sum(F.expr("CAST(f AS DECIMAL(38,0)) * (f - 1)")).alias(
            "rp"
        ),
    )
    return agg.select(
        F.expr("CAST(COALESCE(n_tok, 0) AS BIGINT)").alias(
            "n_tokens"
        ),
        "n_types",
        F.expr("CAST(COALESCE(s2, 0) AS BIGINT)").alias(
            "sum_freq_sq"
        ),
        F.expr(
            "CAST(CASE WHEN COALESCE(n_tok, 0) < 1 THEN 0"
            " ELSE (s2 - n_tok) * 10000000000 div (n_tok * n_tok)"
            " END AS BIGINT)"
        ).alias("yule_k_q6"),
        F.expr(
            "CAST(CASE WHEN COALESCE(n_tok, 0) < 2 THEN 0"
            " ELSE rp * 1000000000 div (n_tok * (n_tok - 1))"
            " END AS BIGINT)"
        ).alias("simpson_d_q9"),
    )


PPLX_KEEP_THRESHOLD_Q6 = -7_000_000  # keep docs with avg logprob > −7 nats


@register(
    "text_bigram_perplexity_filter",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {words_sql()} AS w FROM documents
    ), bigrams AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(w) - 1, 0) + 1),
               i -> struct_pack(prev := w[i], nxt := w[i+1]))) AS bg
      FROM toks
    ), occ AS (
      SELECT doc_id, bg.prev AS prev, bg.nxt AS nxt FROM bigrams
    ), big_counts AS (
      SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c_bi
      FROM occ GROUP BY prev, nxt
    ), ctx_counts AS (
      SELECT prev, CAST(COUNT(*) AS BIGINT) AS c_ctx
      FROM occ GROUP BY prev
    ), vocab AS (
      SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v FROM (
        SELECT unnest(w) AS t FROM toks
      )
    ), scored AS (
      SELECT o.doc_id,
             CAST(FLOOR((ln(b.c_bi + 1) - ln(c.c_ctx + vb.v))
                        * 1000000 + 0.5) AS BIGINT) AS lp_q6
      FROM occ o
      JOIN big_counts b ON b.prev = o.prev AND b.nxt = o.nxt
      JOIN ctx_counts c ON c.prev = o.prev
      CROSS JOIN vocab vb
    ), per_doc AS (
      SELECT d.doc_id,
             CAST(COUNT(s.lp_q6) AS BIGINT) AS n_bigrams,
             CAST(COALESCE(SUM(s.lp_q6), 0) AS BIGINT) AS logprob_sum_q6
      FROM documents d LEFT JOIN scored s ON s.doc_id = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_bigrams, logprob_sum_q6,
           CAST(CASE WHEN n_bigrams = 0 THEN 0
                ELSE logprob_sum_q6 // n_bigrams END AS BIGINT)
             AS avg_logprob_q6,
           (n_bigrams > 0
            AND logprob_sum_q6 // n_bigrams > {PPLX_KEEP_THRESHOLD_Q6})
             AS keep
    FROM per_doc
    """,
)
def text_bigram_perplexity_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Perplexity-based quality filtering, the CCNet/Gopher recipe at
    corpus scale: train an add-one-smoothed bigram LM on the corpus
    itself (bigram counts + context counts + vocab size — three
    aggregates), score every document's average token log-probability
    under it, and emit the keep/drop decision at
    {PPLX_KEEP_THRESHOLD_Q6} micro-nats. In production the LM side is
    a held-out reference corpus (e.g. Wikipedia for CCNet) — the
    plumbing is identical: the model is a TABLE joined back onto the
    scored stream.

    Determinism: each occurrence's log-prob quantizes to integer
    micro-nats BEFORE the per-doc fold (ln on exact-integer inputs,
    one FLOOR), per-doc sums are exact integers, and the average
    (negative: log-probs are) truncates toward zero on both engines.
    Docs with fewer than two tokens score 0 / drop.

    Scale: one tokenize pass; bigram and context counts are map-side-
    combined vocab²-/vocab-keyed aggregates (Zipf heads absorbed by
    the combiner); scoring joins occurrences to the two count tables
    on their natural keys — the model join any LM-filter pipeline
    pays — and the vocab scalar broadcasts."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words(F.col("text")).alias("w"))
    occ = toks.select(
        "doc_id",
        F.explode(
            # Spark's sequence(1, 0) DESCENDS ([1, 0]) instead of
            # being empty like DuckDB's range(1, 1) — single-token
            # docs need the explicit empty-array branch
            F.expr(
                "CASE WHEN size(w) < 2 THEN"
                " CAST(array() AS ARRAY<STRUCT<prev: STRING, nxt: STRING>>)"
                " ELSE transform(sequence(1, size(w) - 1),"
                " i -> struct(element_at(w, i) AS prev,"
                " element_at(w, i + 1) AS nxt)) END"
            )
        ).alias("bg"),
    ).select("doc_id", "bg.prev", "bg.nxt")
    big_counts = occ.groupBy("prev", "nxt").agg(
        F.count("*").alias("c_bi")
    )
    ctx_counts = occ.groupBy("prev").agg(F.count("*").alias("c_ctx"))
    vocab = toks.select(
        F.explode("w").alias("t")
    ).agg(F.countDistinct("t").alias("v"))
    scored = (
        occ.join(big_counts, ["prev", "nxt"])
        .join(ctx_counts, "prev")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.expr(
                "CAST(FLOOR((ln(c_bi + 1) - ln(c_ctx + v))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("lp_q6"),
        )
    )
    per_doc = (
        docs.select("doc_id")
        .join(scored, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.count("lp_q6").cast("long").alias("n_bigrams"),
            F.coalesce(F.sum("lp_q6"), F.lit(0))
            .cast("long")
            .alias("logprob_sum_q6"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        "logprob_sum_q6",
        F.expr(
            "CAST(CASE WHEN n_bigrams = 0 THEN 0"
            " ELSE logprob_sum_q6 div n_bigrams END AS BIGINT)"
        ).alias("avg_logprob_q6"),
        F.expr(
            "n_bigrams > 0 AND logprob_sum_q6 div n_bigrams"
            f" > {PPLX_KEEP_THRESHOLD_Q6}"
        ).alias("keep"),
    )


ZIPF_TOP_K = 1000


@register(
    "text_zipf_slope_fit",
    oracle=f"""
    WITH freqs AS (SELECT term, n AS f FROM ({term_counts_sql()})), ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS r
      FROM freqs
    ), pts AS (
      SELECT CAST(FLOOR(ln(r) * 1000000 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(ln(f) * 1000000 + 0.5) AS BIGINT) AS y
      FROM ranked WHERE r <= {ZIPF_TOP_K}
    ), folds AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS k,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_terms,
           CAST(CASE WHEN k < 2 OR k * sxx - sx * sx = 0 THEN 0
                ELSE (k * sxy - sx * sy) * 1000000
                     // (k * sxx - sx * sx)
                END AS BIGINT) AS slope_q6,
           CAST(CASE WHEN k < 2 OR k * sxx - sx * sx = 0
                       OR k * syy - sy * sy = 0 THEN 0
                ELSE (k * sxy - sx * sy) * (k * sxy - sx * sy)
                     * 1000000
                     // ((k * sxx - sx * sx) * (k * syy - sy * sy))
                END AS BIGINT) AS r2_q6
    FROM folds
    """,
)
def text_zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the rank-frequency curve: OLS slope (and
    R²) of ln f against ln r for the top-{ZIPF_TOP_K} vocabulary —
    natural corpora read slope ≈ −1 with high R²; templated or
    synthetic text bends away from it (the Heaps row's companion:
    Heaps watches growth, Zipf watches shape).

    Each (ln r, ln f) point quantizes to integer micro-nats BEFORE
    the OLS folds (ln on exact integers), so Σx/Σy/Σxy/Σx²/Σy² are
    exact HUGEINT/DECIMAL(38,0) sums; the slope (negative on natural
    text) truncates toward zero on both engines and R²'s operands are
    squares (non-negative). Degenerate vocab
    (k<2, zero variance) guards to 0.

    Scale: one tokenize pass + the vocab groupBy (map-side
    combined); the rank window and the OLS folds run on the
    ≤{ZIPF_TOP_K}-row head of the frequency frame."""
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    freqs = term_counts(docs).withColumnRenamed("n", "f")
    ranked = freqs.withColumn(
        "r",
        F.row_number().over(W.orderBy(F.desc("f"), F.asc("term"))),
    ).where(F.col("r") <= ZIPF_TOP_K)
    pts = ranked.select(
        F.expr("CAST(FLOOR(ln(r) * 1000000 + 0.5) AS BIGINT)").alias(
            "x"
        ),
        F.expr("CAST(FLOOR(ln(f) * 1000000 + 0.5) AS BIGINT)").alias(
            "y"
        ),
    )
    folds = pts.agg(
        F.count("*").cast("long").alias("k"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0)) * y")).alias("syy"),
    )
    num = "(k * sxy - sx * sy)"
    den = "(k * sxx - sx * sx)"
    deny = "(k * syy - sy * sy)"
    return folds.select(
        F.col("k").alias("n_terms"),
        F.expr(
            f"CAST(CASE WHEN k < 2 OR {den} = 0 THEN 0"
            f" ELSE ({num} * 1000000) div {den} END AS BIGINT)"
        ).alias("slope_q6"),
        F.expr(
            f"CAST(CASE WHEN k < 2 OR {den} = 0 OR {deny} = 0 THEN 0"
            f" ELSE ({num} * {num} * 1000000) div ({den} * {deny})"
            " END AS BIGINT)"
        ).alias("r2_q6"),
    )
