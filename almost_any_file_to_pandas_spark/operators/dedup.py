"""Deduplication operators over the ``documents`` table.

Five families, each designed for the 100 TB shape first and validated
against a DuckDB oracle at test scale:

- **Exact** — md5-fingerprint group-by; hash-partitioned so every
  copy of a document co-locates; keeps the min doc_id per group.
- **MinHash + LSH** — shingle → minhash signature → banded bucket
  join for candidates → *exact Jaccard verification*. The verified
  output is hash-function-independent (all pairs with true Jaccard ≥
  threshold), so the oracle scores every pair that shares a shingle
  exactly (:data:`_SHINGLE_JACCARD_ORACLE`, shared with the n-gram
  variant), while the Spark path never goes quadratic.
- **N-gram Jaccard** — same verified-pair contract over word-3-gram
  shingles, candidates from a shared-shingle inverted index
  (explode → self-join on shingle → distinct pair).
- **SimHash** — engine-portable 16-bit simhash signature per doc
  (md5-derived token hashes, fully recomputable in SQL), plus banded
  candidate generation.
- **Embedding cosine** (in :mod:`similarity`) — near-dup by vector
  similarity.

Scale notes: every candidate generator is linear-ish (explode +
shuffle on bucket key); the quadratic step only happens *within* a
bucket, and bucket width is bounded (LSH band width / shingle df cap).
Skewed buckets (stop-shingles) are capped with a document-frequency
filter — standard practice so one viral shingle doesn't create a
quadratic bucket.
"""

from __future__ import annotations

import random
import sys
import zlib

import numpy as np
import pandas as pd

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.plans import (
    micro_units,
    micro_units_sql,
    register,
    table,
    table_wide,
)

# The Arrow kernels call this module's shingle and MinHash helpers:
# ship them to the Python workers by value, so a worker never has to
# import the package (its path is on the driver's sys.path only).
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# MinHash parameters: 128 hashes in 32 bands × 4 rows. At Jaccard 0.8
# the per-band collision prob is 0.8^4 ≈ 0.41 → miss prob across 32
# bands ≈ (1-0.41)^32 ≈ 5e-8: recall ~1, so the verified output equals
# the exact oracle.
N_HASHES = 128
N_BANDS = 32
ROWS_PER_BAND = N_HASHES // N_BANDS
# 31-bit Mersenne prime: a*h stays < 2^62 so the affine transform never
# overflows a signed 64-bit long (ANSI mode would raise on overflow).
MERSENNE_PRIME = (1 << 31) - 1
JACCARD_THRESHOLD = 0.8
NGRAM_THRESHOLD = 0.6
MAX_SHINGLE_DF = 1000  # df cap for the inverted-index candidate path
MAX_BUCKET_SIZE = 2000  # skew guard for in-bucket pair expansion


def _tokens(col):
    return F.array_distinct(F.split(col, " ", -1))


def _shingle_set(text: str, n: int = 3) -> set:
    """The distinct word-n-gram shingles of ``text`` (split on single
    spaces); empty when it has fewer than ``n`` words.

    Every shingle kernel here (LSH bands, MinHash signatures, the
    prefix index, pair verification) is an Arrow-batched Python stage
    calling this, not a JVM ``transform``/``concat_ws`` expression:
    higher-order functions are interpreted per element in Spark
    (never codegen'd), and the measured gap at bench scale is 3.5×
    cold / 5× warm in favor of a CPython set-comprehension over the
    same strings. The equivalent declarative form is kept in
    :func:`_word_ngrams`; a unit test pins the two to the same sets.
    """
    words = text.split(" ")
    return {" ".join(words[i : i + n]) for i in range(len(words) - n + 1)}


def _word_ngrams(toks, n: int = 3):
    """Word n-gram shingles: concat_ws of each length-n slice.

    Guarded for short docs: Spark's ``sequence(1, 0)`` *descends* —
    an unguarded call would fabricate shingles for docs with < n
    tokens, so emit an empty array there instead.
    """
    n_shingles = F.size(toks) - (n - 1)
    return F.when(
        n_shingles >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_shingles),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _word_ngrams_sql(w: str, n: int = 3) -> str:
    """DuckDB twin of :func:`_word_ngrams` before its distinct: the
    word n-grams of the VARCHAR list ``w`` in order, with
    multiplicity, empty below ``n`` words (wrap it in
    ``list_distinct`` for the set)."""
    return (
        "list_transform(\n"
        f"               range(1, greatest(len({w}) - {n - 1}, 0) + 1),\n"
        f"               i -> array_to_string({w}[i:i+{n - 1}], ' '))"
    )


# The N_HASHES affine maps h -> (a·h + b) mod MERSENNE_PRIME of the
# MinHash family, drawn once from a fixed seed.
_MINHASH_RNG = random.Random(42)
_MINHASH_A, _MINHASH_B = np.array(
    [
        (
            _MINHASH_RNG.randrange(1, MERSENNE_PRIME),
            _MINHASH_RNG.randrange(0, MERSENNE_PRIME),
        )
        for _ in range(N_HASHES)
    ],
    dtype=np.int64,
).T[:, :, None]


def _minhash(shingles: set) -> np.ndarray:
    """The N_HASHES-long MinHash signature of a non-empty shingle set.

    Every hash here is internal (the public contracts are verified
    pair sets and hash-independent estimates), so the base hash is
    crc32 (zlib, C speed) rather than xxhash64. a,h < 2^31 keeps
    a*h+b < 2^62 inside int64.
    """
    h = np.fromiter(
        (zlib.crc32(s.encode()) for s in shingles),
        dtype=np.int64,
        count=len(shingles),
    ) % MERSENNE_PRIME
    return ((_MINHASH_A * h[None, :] + _MINHASH_B) % MERSENNE_PRIME).min(axis=1)


@register(
    "dedup_exact",
    oracle="""
    WITH grouped AS (
      SELECT md5(lower(trim(text))) AS fingerprint,
             MIN(doc_id) AS keep_doc_id,
             COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT keep_doc_id, n_copies FROM grouped
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content fingerprint, keep min doc_id.

    One shuffle on the fingerprint (hash partitioning co-locates all
    copies regardless of cluster size); partial agg map-side. This is
    the canonical 100 TB dedup: no sort, no window, no collect.
    """
    docs = table_wide(spark, sf_dir, "documents")
    return (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def minhash_candidate_pairs(docs: DataFrame) -> DataFrame:
    """LSH candidate pairs via banded minhash signatures over 3-word
    shingles (the standard near-dup formulation — raw token *sets*
    are undiscriminating on small vocabularies).

    The whole signature pipeline — shingle, :func:`_minhash`, band
    keys — is ONE narrow Arrow-batched Python stage from
    (doc_id, text) to (doc_id, band, key): no JVM array building, no
    per-element HOF lambdas, no shingle arrays through Arrow. The
    public contract is the *verified* pair set, which is
    hash-independent.
    """
    n_bands, rows_per_band = N_BANDS, ROWS_PER_BAND

    def _band_batches(batches):
        band_idx = np.arange(n_bands)
        for batch in batches:
            out_doc, out_band, out_key = [], [], []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                shingles = _shingle_set(text)
                if not shingles:
                    continue
                sig = _minhash(shingles)
                # band key: fold the band's rows into one int64 with a
                # 64-bit FNV-style mix (wraparound is deterministic)
                key = np.zeros(n_bands, dtype=np.uint64)
                for r in range(rows_per_band):
                    key = key * np.uint64(1099511628211) + sig[
                        r::rows_per_band
                    ][:n_bands].astype(np.uint64)
                out_doc.extend([doc_id] * n_bands)
                out_band.extend(band_idx)
                out_key.extend(key.astype(np.int64))
            yield pd.DataFrame(
                {"doc_id": out_doc, "band": out_band, "key": out_key},
                dtype="int64",
            )

    spark = docs.sparkSession
    buckets = (
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "text")
        .mapInPandas(
            _band_batches, schema="doc_id bigint, band bigint, key bigint"
        )
    )
    return _pairs_within_buckets(buckets, "doc_id", ["band", "key"])


def _pairs_within_buckets(
    buckets: DataFrame,
    id_col: str,
    key_cols,
    max_bucket: int = MAX_BUCKET_SIZE,
    distinct: bool = True,
) -> DataFrame:
    """(id_a < id_b) candidate pairs from bucket co-membership via ONE
    shuffle: groupBy bucket key → sorted id list → in-bucket pair
    expansion as an array expression → explode.

    A self-join on the bucket key would shuffle (and recompute) the
    bucket lineage twice; this shape shuffles once and the quadratic
    expansion happens inside the aggregated row. Buckets larger than
    ``max_bucket`` are dropped (skew guard: a degenerate bucket —
    stop-shingle, all-zero band — would otherwise expand to millions
    of pairs carrying no near-dup signal; production logs them).

    ``distinct=False`` keeps one output row per co-membership — the
    multiplicity IS the bucket-co-occurrence count, which the count-
    based Jaccard path aggregates instead of discarding.
    """
    grouped = (
        buckets.groupBy(*key_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    # The quadratic expansion below is CPU-heavy per *byte*: bucket
    # rows are a few hundred bytes but expand to up to max_bucket²/2
    # structs. AQE coalesces post-shuffle partitions by byte size, so
    # without an explicit spread it routinely folds this stage into
    # 1-2 tasks and serializes the expansion (observed 6s → 55s
    # swings). Round-robin repartition pins the parallelism; the extra
    # shuffle moves only the compact bucket rows.
    grouped = grouped.repartition(
        buckets.sparkSession.sparkContext.defaultParallelism
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda x, i: F.transform(
                        F.slice(
                            F.col("ids"),
                            i + 2,
                            F.greatest(F.size("ids") - (i + 1), F.lit(0)),
                        ),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.distinct() if distinct else pairs


# Document pairs at word-3-shingle Jaccard >= {threshold}, for a
# threshold > 0: such a pair shares at least one shingle, so only
# the pairs joined on a shared shingle are scored, not all n² pairs.
# Two empty shingle sets score 0/0, which is NULL and never passes.
_SHINGLE_JACCARD_ORACLE = f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), t AS (
      SELECT doc_id,
             list_distinct({_word_ngrams_sql('w')}) AS toks
      FROM base
    ), tok AS (
      SELECT doc_id, unnest(toks) AS tok FROM t
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                 / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
    FROM cand c
    JOIN t a ON a.doc_id = c.doc_a
    JOIN t b ON b.doc_id = c.doc_b
    WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
          / len(list_distinct(a.toks || b.toks)) >= {{threshold}}
"""

# Component closure over a ``pairs(u, v)`` CTE: ``comp(u, lbl)`` labels
# every node with the least node id it reaches, the algorithm-
# independent component definition that :func:`connected_components`
# must reproduce. The oracle opens ``WITH RECURSIVE`` and defines
# ``pairs`` before it.
_COMPONENT_CTE = """
    edges AS (
      SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
    ), reach AS (
      SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.u
    ), comp AS (SELECT u, MIN(lbl) AS lbl FROM reach GROUP BY u)"""

# The verified near-dup pairs, as the closure's ``pairs`` input.
_NEAR_DUP_PAIRS_CTE = f"""
    pairs AS (
      SELECT doc_a AS u, doc_b AS v FROM (
        {_SHINGLE_JACCARD_ORACLE.format(threshold=JACCARD_THRESHOLD)}
      )
    )"""

# Consecutive doc_ids within each (source, lang) slice, as the
# closure's ``pairs`` input: the oracle side of :func:`_doc_chain_edges`.
_DOC_CHAIN_CTE = """
    pairs AS (
      SELECT u, v FROM (
        SELECT doc_id AS u,
               LEAD(doc_id) OVER (
                 PARTITION BY source, lang ORDER BY doc_id) AS v
        FROM documents
      ) WHERE v IS NOT NULL
    )"""


@register(
    "dedup_minhash_lsh",
    oracle=_SHINGLE_JACCARD_ORACLE.format(threshold=JACCARD_THRESHOLD),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over 3-word shingles, exact-verified
    at Jaccard ≥ 0.8.

    Plan shape: linear signature pass → explode 32 band keys →
    shuffle on (band, key) → within-bucket pairs → distinct →
    re-join shingle arrays → exact Jaccard filter. The oracle scores
    exactly every pair that shares a shingle (a superset of the
    pairs at Jaccard ≥ 0.8; feasible at oracle scale — the Spark path
    is the one that survives 100 TB).
    """
    docs = table_wide(spark, sf_dir, "documents")
    # Materialize the candidate set ONCE (it's tiny — LSH output) so
    # the verify stage's broadcast build starts from the checkpointed
    # rows instead of re-running the Arrow signature pipeline + bucket
    # shuffle inside the broadcast-exchange thread (r02 bench showed
    # the signature stage paying twice under the noop sink).
    pairs = minhash_candidate_pairs(docs).localCheckpoint(eager=True)
    return _verify_pairs(pairs, docs, JACCARD_THRESHOLD)


def _verify_pairs(
    pairs: DataFrame, docs: DataFrame, threshold: float, n: int = 3
) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs against raw text.

    The candidate side is tiny (LSH output) → broadcast it against the
    corpus twice to attach both texts, then compute distinct-shingle
    set intersection/union in an Arrow-batched Python stage: the
    counts are integers, so ``inter/union`` is the same double in
    Python, Spark, and DuckDB; rounding stays Spark-side (HALF_UP).
    Faster than re-deriving shingle arrays JVM-side and running
    array_intersect per pair — set ops in CPython's C core beat the
    interpreted HOF path and nothing wide ever shuffles.
    """
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    # BOTH joins broadcast the candidate-sized side: the first hangs
    # texts on doc_a (corpus stays in place), and the second
    # broadcasts that still-candidate-sized result against the corpus
    # again — without the second hint the (pairs ⋈ text_a) side and
    # the full corpus would BOTH shuffle at plan time, leaving AQE to
    # rescue it at 100× (VERDICT r02 "what's wrong" #3).
    joined = (
        b.join(
            F.broadcast(a.join(F.broadcast(pairs), "doc_a")), "doc_b"
        )
        .select("doc_a", "doc_b", "text_a", "text_b")
    )

    def _jaccard_batches(batches):
        # Per-task shingle-set memo: a doc participates in many
        # candidate pairs (hundreds at bench scale), and rebuilding
        # its ~|text| shingle set per PAIR dominated the stage. The
        # cache is bounded so a pathological partition can't hold the
        # whole corpus's shingle sets in one worker.
        cache: dict = {}

        def shingles(doc_id, text):
            s = cache.get(doc_id)
            if s is None:
                if len(cache) > 50_000:
                    cache.clear()
                s = cache[doc_id] = _shingle_set(text, n)
            return s

        for batch in batches:
            out = {"doc_a": [], "doc_b": [], "jaccard": []}
            for da, db, ta, tb in zip(
                batch["doc_a"], batch["doc_b"], batch["text_a"], batch["text_b"]
            ):
                sa, sb = shingles(da, ta), shingles(db, tb)
                if not sa or not sb:
                    continue
                inter = len(sa & sb)
                jac = inter / (len(sa) + len(sb) - inter)
                if jac >= threshold:
                    out["doc_a"].append(da)
                    out["doc_b"].append(db)
                    out["jaccard"].append(jac)
            frame = pd.DataFrame(out)
            yield frame.astype(
                {"doc_a": "int64", "doc_b": "int64", "jaccard": "float64"}
            )

    verified = joined.mapInPandas(
        _jaccard_batches, schema="doc_a bigint, doc_b bigint, jaccard double"
    )
    return verified.select(
        "doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard")
    )


def _prefix_index(
    docs: DataFrame, n: int, threshold: float, k_prefix: int = 2
) -> DataFrame:
    """(enc_id, shingle) inverted index over each document's *prefix*
    shingles only — the AllPairs/PPJoin prefix filter (Bayardo et al.,
    "Scaling Up All Pairs Similarity Search"; Xiao et al., PPJoin),
    generalized to the k-prefix scheme.

    Order all shingles by a global total order (crc32, ties by value)
    and index the first ``|S| − ⌈t·|S|⌉ + k`` per document. **k-prefix
    lemma** (the exactness proof for requiring ≥ k shared prefix
    shingles downstream): if ``|A∩B| ≥ o`` then the ``k`` smallest
    (in the global order) elements of ``A∩B`` all lie in both
    prefixes of length ``|·| − o + k``. Proof: suppose one of them,
    ``s``, fell outside A's prefix — then ``s`` is among A's largest
    ``o − k`` elements, so at most ``o − k − 1`` elements of A (hence
    of A∩B) exceed ``s``; but ``s`` is among the k smallest of an
    intersection of size ≥ o, so ≥ ``o − k`` intersection elements
    exceed it — contradiction. Applied per-side with its own valid
    bound ``o_S = ⌈t·|S|⌉ ≤ |A∩B|`` (J ≥ t forces that), every true
    pair with ``|A∩B| ≥ k`` shares ≥ k prefix shingles — candidate
    generation stays EXACT while the quadratic in-bucket expansion
    sees only prefix-bucket co-members.

    The one case with ``|A∩B| < k`` at J ≥ 0.6 and k = 2 is
    ``A = B = {single shingle}`` (J ≥ 0.6 with one shared shingle
    forces |A∪B| = 1). Those docs are flagged in the LOW BIT of the
    emitted id (``enc_id = doc_id·2 + is_singleton``) so the count
    filter can exempt singleton-singleton pairs instead of losing
    them; the encoding is monotone, so pair ordering is preserved.
    """
    spark = docs.sparkSession

    def _batches(batches):
        import math

        for batch in batches:
            out_doc, out_sh = [], []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                shingles = _shingle_set(text, n)
                if not shingles:
                    continue
                k = len(shingles)
                p = k - math.ceil(threshold * k) + k_prefix
                prefix = sorted(
                    shingles, key=lambda s: (zlib.crc32(s.encode()), s)
                )[:p]
                enc = doc_id * 2 + (1 if k == 1 else 0)
                out_doc.extend([enc] * len(prefix))
                out_sh.extend(prefix)
            yield pd.DataFrame({"enc_id": out_doc, "shingle": out_sh})

    return (
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "text")
        .mapInPandas(_batches, schema="enc_id bigint, shingle string")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_SHINGLE_JACCARD_ORACLE.format(threshold=NGRAM_THRESHOLD),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard near-dup pairs (≥ 0.6) via prefix-filtered
    candidate generation + exact verification — the AllPairs shape.

    Plan: one linear Python stage emits each doc's *prefix* shingles
    (global crc32 order, k-prefix length |S| − ⌈t·|S|⌉ + 2) → one
    capped bucket shuffle expands in-bucket co-memberships WITH
    multiplicity → a count filter keeps only pairs sharing ≥ 2 prefix
    shingles (exact by the k-prefix lemma in :func:`_prefix_index`;
    singleton-shingle docs are bit-flagged and exempted) → broadcast
    the surviving candidates against the corpus and verify true
    Jaccard in an Arrow-batched set kernel. Versus the 1-prefix
    variant, the ≥2 co-occurrence requirement cuts the verify-stage
    pair volume at the cost of one extra aggregation over compact
    (id, id) rows — at t=0.6 most spurious single-shingle collisions
    die before touching text.

    The df cap (MAX_SHINGLE_DF) is the stop-shingle skew guard;
    dropping a capped bucket can only lose candidates whose every
    shared prefix shingle is viral — conservative (never promotes a
    non-dup), and inert on any corpus whose max shingle-df stays
    under the cap (testdata max df ≈ 25).
    """
    docs = table_wide(spark, sf_dir, "documents")
    prefix = _prefix_index(docs, 3, NGRAM_THRESHOLD, k_prefix=2)
    co = _pairs_within_buckets(
        prefix,
        "enc_id",
        ["shingle"],
        max_bucket=MAX_SHINGLE_DF,
        distinct=False,
    )
    counted = co.groupBy("doc_a", "doc_b").agg(F.count("*").alias("_n"))
    candidates = (
        counted.filter(
            (F.col("_n") >= 2)
            | (
                ((F.col("doc_a") % 2) == 1)
                & ((F.col("doc_b") % 2) == 1)
            )
        )
        .select(
            F.shiftright("doc_a", 1).alias("doc_a"),
            F.shiftright("doc_b", 1).alias("doc_b"),
        )
    )
    return _verify_pairs(candidates, docs, NGRAM_THRESHOLD)


@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE {_NEAR_DUP_PAIRS_CTE}, {_COMPONENT_CTE}
    SELECT u AS doc_id, lbl AS cluster_id,
           COUNT(*) OVER (PARTITION BY lbl) AS cluster_size,
           u = lbl AS is_canonical
    FROM comp
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: near-dup *pairs* → connected
    components → one canonical doc (min id) per cluster — the step
    every training-data dedup pipeline needs between pairwise LSH and
    the filtered corpus (pairs alone can't be acted on: {A,B}, {B,C}
    must collapse to ONE keeper, not two).

    Edges are the verified MinHash-LSH pairs (hash-independent, so the
    oracle restates them exactly and closes them with a recursive
    CTE). Output: every clustered doc with its cluster id, cluster
    size, and a canonical flag; the retained corpus = canonical rows
    plus all unclustered docs (anti-join on doc_id).
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    return (
        comp.select(F.col("u").alias("doc_id"), F.col("lbl").alias("cluster_id"))
        .withColumn(
            "cluster_size",
            F.count("*").over(W.partitionBy("cluster_id")),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


# ---------------------------------------------------------------------------
# SimHash — engine-portable signature.
#
# Token hash: first 8 hex chars of md5(token) parsed as a 32-bit int via
# fixed-position hex-digit arithmetic (both engines: substr + strpos).
# SimHash bit j (16 bits): sign of Σ_tokens (2·bit_j(h) − 1).
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16
_HEX = "0123456789abcdef"


def _portable_token_hash(col):
    """32-bit int from md5 hex prefix — recomputable in DuckDB."""
    h = F.substring(F.md5(col), 1, 8)
    out = F.lit(0).cast("long")
    for i in range(8):
        digit = F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - 1
        out = out * 16 + digit
    return out


def _portable_token_hash_sql(expr: str) -> str:
    parts = []
    for i in range(8):
        digit = f"(strpos('{_HEX}', substr(md5({expr}), {i + 1}, 1)) - 1)"
        parts.append(f"{digit} * {16 ** (7 - i)}")
    return "(" + " + ".join(parts) + ")"


def _simhash_sql() -> str:
    th = _portable_token_hash_sql("tok")
    bit_terms = []
    for j in range(SIMHASH_BITS):
        bit = (
            f"CASE WHEN SUM(CASE WHEN (h // {1 << j}) % 2 = 1 "
            f"THEN 1 ELSE -1 END) > 0 THEN {1 << j} ELSE 0 END"
        )
        bit_terms.append(bit)
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), hashed AS (
      SELECT doc_id, {th} AS h FROM toks
    )
    SELECT doc_id, CAST({' + '.join(bit_terms)} AS BIGINT) AS simhash
    FROM hashed GROUP BY doc_id
    """


@register("dedup_simhash_signature", oracle=_simhash_sql())
def dedup_simhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 16-bit SimHash signature (portable hash, fully
    oracle-checked). Candidate generation then buckets on signature
    bands (see :func:`simhash_candidate_pairs`); production uses 64
    bits — 16 keeps the cross-engine expression compact while proving
    the pipeline.

    Plan: explode distinct tokens → groupBy doc_id with 16 sign-sum
    aggregates (single shuffle, map-side partials).
    """
    docs = table_wide(spark, sf_dir, "documents")
    toks = (
        docs.repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )  # small single-split input → parallelize the hash work
        .select("doc_id", F.explode(_tokens(F.col("text"))).alias("tok"))
    )
    hashed = toks.select("doc_id", _portable_token_hash(F.col("tok")).alias("h"))
    bit_aggs = []
    for j in range(SIMHASH_BITS):
        sign_sum = F.sum(
            F.when((F.col("h").bitwiseAND(F.lit(1 << j))) != 0, 1).otherwise(-1)
        )
        bit_aggs.append(F.when(sign_sum > 0, F.lit(1 << j)).otherwise(0))
    simhash = bit_aggs[0]
    for term in bit_aggs[1:]:
        simhash = simhash + term
    return hashed.groupBy("doc_id").agg(
        simhash.cast("long").alias("simhash")
    )


def simhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-neighbour candidates: band the 16-bit signature into 4
    nibbles; docs sharing any (band, nibble) are candidates (catches
    all pairs within Hamming distance 3). Candidates come from the
    shared capped one-shuffle bucket expansion — a (band, nibble)
    self-join would shuffle the signature lineage twice and a
    degenerate nibble bucket would expand quadratically unguarded.
    Not oracle-registered — signature correctness is; this is the
    scale path demonstration.
    """
    sig = dedup_simhash_signature(spark, sf_dir)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (F.shiftright(F.col("simhash"), 4 * b) % 16).alias("nibble"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band", "bk.nibble")
    return _pairs_within_buckets(bands, "doc_id", ["band", "nibble"])


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (documents ⋈ embeddings by id)
# ---------------------------------------------------------------------------

EMBEDDING_DUP_THRESHOLD = 0.45  # data-driven: testdata max pairwise ≈ 0.51
EMB_GRID_BLOCKS = 8  # grid granularity: ~n/NB vectors per cell side


EMB_COSINE_PAIRS_ORACLE = f"""
    WITH d AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(
             list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]),
                         (x, y) -> x + y)
             / (sqrt(list_reduce(list_transform(list_zip(a.v, a.v),
                                 p -> p[1]*p[2]), (x, y) -> x + y))
              * sqrt(list_reduce(list_transform(list_zip(b.v, b.v),
                                 p -> p[1]*p[2]), (x, y) -> x + y))),
             6) AS cosine
    FROM d a JOIN d b ON a.vec_id < b.vec_id
    WHERE list_reduce(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]),
                      (x, y) -> x + y)
          / (sqrt(list_reduce(list_transform(list_zip(a.v, a.v),
                              p -> p[1]*p[2]), (x, y) -> x + y))
           * sqrt(list_reduce(list_transform(list_zip(b.v, b.v),
                              p -> p[1]*p[2]), (x, y) -> x + y)))
          >= {EMBEDDING_DUP_THRESHOLD}
    """


def _cosine_pair_stream(
    spark: SparkSession, sf_dir: str, threshold: float
) -> DataFrame:
    """The grid block-NL cosine pair kernel behind
    :func:`dedup_embedding_cosine`, parameterized by threshold so the
    threshold-sweep curve can reuse the identical machinery at its
    loosest cut (see that function's docstring for the shape/parity
    argument)."""
    emb = table_wide(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    nb = EMB_GRID_BLOCKS

    cells = (
        emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(nb)))
        .select(
            "vec_id",
            "v",
            "blk",
            F.explode(F.array(*[F.lit(j) for j in range(nb)])).alias("ob"),
        )
        .select(
            "vec_id",
            "v",
            "blk",
            F.least("blk", "ob").alias("ci"),
            F.greatest("blk", "ob").alias("cj"),
        )
    )

    def _score_cell(key, pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "vec_a": pd.Series(dtype="int64"),
                "vec_b": pd.Series(dtype="int64"),
                "_cos": pd.Series(dtype="float64"),
            }
        )
        ci, cj = key
        a = pdf[pdf["blk"] == ci]
        a_ids = a["vec_id"].to_numpy(dtype=np.int64)
        if len(a_ids) == 0:
            return empty
        a_mat = np.array(list(a["v"]), dtype=np.float64)
        if ci == cj:
            b_ids, b_mat = a_ids, a_mat
        else:
            b = pdf[pdf["blk"] == cj]
            b_ids = b["vec_id"].to_numpy(dtype=np.int64)
            if len(b_ids) == 0:
                return empty
            b_mat = np.array(list(b["v"]), dtype=np.float64)
        dim = a_mat.shape[1]
        # sequential-over-dims fold: same add order as the SQL
        # list_reduce, so every cosine is bit-identical to the oracle
        acc = np.zeros((len(a_ids), len(b_ids)))
        a_sq = np.zeros(len(a_ids))
        b_sq = np.zeros(len(b_ids))
        for i in range(dim):
            acc += a_mat[:, i][:, None] * b_mat[None, :, i]
            a_sq += a_mat[:, i] * a_mat[:, i]
            b_sq += b_mat[:, i] * b_mat[:, i]
        cos = acc / (np.sqrt(a_sq)[:, None] * np.sqrt(b_sq)[None, :])
        if ci == cj:
            keep = (cos >= threshold) & (a_ids[:, None] < b_ids[None, :])
            ai, bi = np.nonzero(keep)
            va, vb = a_ids[ai], b_ids[bi]
        else:
            # cross cell: emit every qualifying pair once, ordered by id
            ai, bi = np.nonzero(cos >= threshold)
            xa, xb = a_ids[ai], b_ids[bi]
            va, vb = np.minimum(xa, xb), np.maximum(xa, xb)
        return pd.DataFrame({"vec_a": va, "vec_b": vb, "_cos": cos[ai, bi]})

    pairs = cells.groupBy("ci", "cj").applyInPandas(
        _score_cell, schema="vec_a bigint, vec_b bigint, _cos double"
    )
    return pairs.select("vec_a", "vec_b", F.round("_cos", 6).alias("cosine"))


@register("dedup_embedding_cosine", oracle=EMB_COSINE_PAIRS_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by embedding cosine ≥ threshold — the exact
    all-pairs baseline of the embedding-dedup family, as a fully
    distributed *grid* block nested loop: no driver collect, no
    broadcast of the corpus, bounded per-task memory.

    Shape (the classic theta-join grid): every vector gets a block id
    ``blk = vec_id mod NB`` and is replicated to the NB grid cells
    ``(min(blk, j), max(blk, j))`` — one shuffle of NB·n compact rows
    keyed by cell. Each cell scores its two blocks against each other
    in ONE numpy kernel (``applyInPandas``); a pair (x, y) is computed
    exactly once, in the single cell owning both blocks. Per-task
    memory is (n/NB)² doubles, tuned by NB — at 100× data, raise NB
    ~linearly and cell size stays constant while cells (= tasks) grow
    quadratically, which is the honest cost of an exact O(n²) operator
    spread across the cluster instead of one driver.

    Inside the kernel the accumulation loops over *dimensions* and
    vectorizes over *pairs*: ``acc += A[:, i] ⊗ B[:, i]`` per dim —
    each pair's double adds happen in the identical sequential order
    as the SQL ``list_reduce`` fold, so results are bit-for-bit equal
    to the DuckDB oracle (rounding applied Spark-side for HALF_UP).

    Scale contract: brute force is O(n²) by definition — this is the
    correctness anchor for the bucketed variants (sim_lsh /
    sim_ivf_topk, the 100 TB candidate paths).
    """
    return _cosine_pair_stream(spark, sf_dir, EMBEDDING_DUP_THRESHOLD)


COSINE_CURVE_PCTS = (30, 35, 40, 45)  # sweep floor 0.30 ≤ dup cut 0.45


def _cosine_curve_oracle() -> str:
    lo = min(COSINE_CURVE_PCTS) / 100.0
    np_cols = ", ".join(
        f"COUNT(*) FILTER (WHERE cosine >= {p} / 100.0) AS np_{p}"
        for p in COSINE_CURVE_PCTS
    )
    nd_cols = ", ".join(
        f"COUNT(*) FILTER (WHERE m >= {p} / 100.0) AS nd_{p}"
        for p in COSINE_CURVE_PCTS
    )
    arms = "\n      UNION ALL ".join(
        f"SELECT {p} AS threshold_pct, np_{p} AS n_pairs, "
        f"nd_{p} AS n_dup FROM pc CROSS JOIN dc"
        for p in COSINE_CURVE_PCTS
    )
    # r7 ADVICE: the .replace rewires the pairs oracle's threshold —
    # if the constant's float repr drifts or the substring appears a
    # number of times other than once, the curve would silently pin
    # the wrong cut. Assert exactly-once so any drift fails loudly at
    # import time instead.
    needle = f">= {EMBEDDING_DUP_THRESHOLD}"
    assert EMB_COSINE_PAIRS_ORACLE.count(needle) == 1, (
        f"threshold needle {needle!r} occurs "
        f"{EMB_COSINE_PAIRS_ORACLE.count(needle)}x in pairs oracle"
    )
    pairs_sql = EMB_COSINE_PAIRS_ORACLE.replace(needle, f">= {lo}")
    return f"""
    WITH p AS (
      {pairs_sql}
    ), m AS (
      SELECT vec_b, MAX(cosine) AS m FROM p GROUP BY vec_b
    ), pc AS (
      SELECT {np_cols} FROM p
    ), dc AS (
      SELECT {nd_cols} FROM m
    ), n AS (
      SELECT COUNT(*) AS total FROM embeddings
    ), u AS (
      {arms}
    )
    SELECT CAST(threshold_pct AS BIGINT) AS threshold_pct,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_dup AS BIGINT) AS n_dup_vectors,
           CAST(total - n_dup AS BIGINT) AS n_retained,
           CAST(CASE WHEN total = 0 THEN 1000000
                ELSE (total - n_dup) * 1000000 // total END AS BIGINT)
             AS retention_q6
    FROM u CROSS JOIN n
    """


@register("dedup_cosine_threshold_curve", oracle=_cosine_curve_oracle())
def dedup_cosine_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Threshold-sweep knob curve for the embedding-cosine dedup
    family (the one family still missing its pricing curve after the
    LSH-band / minhash / session-gap / funnel-window / quality /
    salt-factor sweeps): at each cosine cut in
    {COSINE_CURVE_PCTS} (percent), how many near-dup pairs fire, how
    many vectors acquire an earlier-id duplicate (the keep-first
    casualty set), and the corpus retention share — the curve a
    pipeline owner reads to price a semantic-dedup threshold before
    paying for it corpus-wide.

    100 TB shape: the pair stream is built ONCE at the loosest cut by
    the same grid block-NL kernel as :func:`dedup_embedding_cosine`
    (localCheckpoint — it feeds both aggregates); each sweep point is
    a conditional count, so the sweep adds zero extra corpus passes.
    Both metric frames are single-row global aggregates (empty-safe
    by construction on degenerate corpora), unpivoted driver-free via
    ``stack``; thresholds compare as ``pct / 100.0`` — the identical
    double literal division on both engines — against the
    bit-identical rounded cosine.
    """
    lo = min(COSINE_CURVE_PCTS) / 100.0
    pairs = _cosine_pair_stream(spark, sf_dir, lo).localCheckpoint(
        eager=True
    )
    pc = pairs.agg(
        *[
            F.count(
                F.when(F.col("cosine") >= F.lit(p) / 100.0, 1)
            ).alias(f"np_{p}")
            for p in COSINE_CURVE_PCTS
        ]
    )
    dc = pairs.groupBy("vec_b").agg(F.max("cosine").alias("m")).agg(
        *[
            F.count(F.when(F.col("m") >= F.lit(p) / 100.0, 1)).alias(
                f"nd_{p}"
            )
            for p in COSINE_CURVE_PCTS
        ]
    )
    n = (
        table_wide(spark, sf_dir, "embeddings")
        .agg(F.count("*").alias("total"))
    )
    stack_args = ", ".join(
        f"{p}L, np_{p}, nd_{p}" for p in COSINE_CURVE_PCTS
    )
    u = (
        pc.crossJoin(dc)
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "total",
            f"stack({len(COSINE_CURVE_PCTS)}, {stack_args}) AS "
            "(threshold_pct, n_pairs, n_dup)",
        )
    )
    return u.selectExpr(
        "CAST(threshold_pct AS BIGINT) AS threshold_pct",
        "CAST(n_pairs AS BIGINT) AS n_pairs",
        "CAST(n_dup AS BIGINT) AS n_dup_vectors",
        "CAST(total - n_dup AS BIGINT) AS n_retained",
        "CAST(CASE WHEN total = 0 THEN 1000000"
        " ELSE (total - n_dup) * 1000000 div total END AS BIGINT)"
        " AS retention_q6",
    )


@register(
    "dedup_corpus_retention",
    oracle=f"""
    WITH RECURSIVE {_NEAR_DUP_PAIRS_CTE}, {_COMPONENT_CTE},
    exact_loser AS (
      SELECT doc_id FROM (
        SELECT doc_id,
               MIN(doc_id) OVER (
                 PARTITION BY md5(lower(trim(text)))) AS keeper
        FROM documents
      ) WHERE doc_id <> keeper
    ),
    near_loser AS (
      SELECT u AS doc_id FROM comp
      WHERE u <> lbl
        AND u NOT IN (SELECT doc_id FROM exact_loser)
    )
    SELECT
      (SELECT COUNT(*) FROM documents) AS n_docs,
      (SELECT COUNT(*) FROM exact_loser) AS n_exact_removed,
      (SELECT COUNT(*) FROM near_loser) AS n_neardup_removed,
      (SELECT COUNT(*) FROM documents)
        - (SELECT COUNT(*) FROM exact_loser)
        - (SELECT COUNT(*) FROM near_loser) AS n_retained
    """,
)
def dedup_corpus_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup accounting — the pipeline a training-
    data run actually executes: exact dedup first (cheap, one hash
    shuffle), then near-dup clustering on what survives conceptually;
    reports how many documents each stage removes and what remains.

    A doc is removed exactly once: exact losers (non-min doc_id within
    an identical-text group) are counted first; near-dup losers
    (non-canonical members of a Jaccard-0.8 cluster) exclude them —
    the two stages compose without double-counting. All three counts
    come from the same two lineages the standalone operators use; the
    final row is a driver-side scalar join (4 longs, not a data path).
    """
    docs = table_wide(spark, sf_dir, "documents")
    w_fp = W.partitionBy(F.md5(F.lower(F.trim(F.col("text")))))
    exact_loser = (
        docs.select(
            "doc_id", F.min("doc_id").over(w_fp).alias("keeper")
        )
        .filter(F.col("doc_id") != F.col("keeper"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    clusters = dedup_cluster_canonical(spark, sf_dir)
    near_loser = (
        clusters.filter(~F.col("is_canonical"))
        .select("doc_id")
        .join(exact_loser, "doc_id", "left_anti")
    )
    n_docs = docs.count()
    n_exact = exact_loser.count()
    n_near = near_loser.count()
    return spark.createDataFrame(
        [(n_docs, n_exact, n_near, n_docs - n_exact - n_near)],
        "n_docs bigint, n_exact_removed bigint, "
        "n_neardup_removed bigint, n_retained bigint",
    )


INCR_BATCH_MOD = 5  # doc_id % 5 == 4 → the "newly ingested" batch


@register(
    "dedup_incremental_batch",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, md5(lower(trim(text))) AS f FROM documents
    ), fmin AS (
      SELECT f, MIN(doc_id) AS m FROM fp GROUP BY f
    ), exact AS (
      SELECT fp.doc_id, fmin.m AS match_id
      FROM fp JOIN fmin ON fp.f = fmin.f
      WHERE fp.doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_MOD - 1}
        AND fp.doc_id > fmin.m
    ), pairs AS (
      {_SHINGLE_JACCARD_ORACLE.format(threshold=JACCARD_THRESHOLD)}
    ), near AS (
      SELECT doc_b AS doc_id, MIN(doc_a) AS match_id
      FROM pairs
      WHERE doc_b % {INCR_BATCH_MOD} = {INCR_BATCH_MOD - 1}
      GROUP BY doc_b
    )
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS status,
           COALESCE(e.match_id, n.match_id) AS match_id
    FROM (SELECT doc_id FROM documents
          WHERE doc_id % {INCR_BATCH_MOD} = {INCR_BATCH_MOD - 1}) b
    LEFT JOIN exact e ON b.doc_id = e.doc_id
    LEFT JOIN near n ON b.doc_id = n.doc_id
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion dedup — the shape a production pipeline
    runs on every new batch: classify each newly ingested document
    (here the deterministic slice doc_id % 5 == 4) as ``exact_dup``
    (identical normalized text already present under a smaller id),
    ``near_dup`` (MinHash-verified Jaccard ≥ 0.8 against a smaller
    id), or ``unique``, with the matched canonical id attached
    (NULL when unique). Exact match takes precedence; the oracle
    states the same cascade.

    Scale shape: the exact tier is one fingerprint hash-shuffle; the
    near tier reuses the verified-LSH pipeline (linear signatures →
    capped one-shuffle bucket expansion → broadcast verify) and then
    keeps only pairs whose LARGER side is a batch doc (a batch doc
    matches the minimum smaller partner). In production the corpus
    side's signatures and fingerprints are PRECOMPUTED and stored
    bucketed by band key (``sinks.write_bucketed`` — the bucket probe
    then co-locates without shuffling the corpus), so the per-batch
    cost is |batch| signatures + the probe, never a corpus rescan;
    here both sides derive from one table so the DuckDB oracle can
    restate the whole contract.
    """
    docs = table_wide(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCR_BATCH_MOD == INCR_BATCH_MOD - 1

    fp = docs.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fp")
    )
    fmin = fp.groupBy("fp").agg(F.min("doc_id").alias("fp_min"))
    exact = (
        fp.join(fmin, "fp")
        .filter(is_batch & (F.col("doc_id") > F.col("fp_min")))
        .select("doc_id", F.col("fp_min").alias("exact_match"))
    )

    pairs = minhash_candidate_pairs(docs).localCheckpoint(eager=True)
    verified = _verify_pairs(pairs, docs, JACCARD_THRESHOLD)
    near = (
        verified.filter(F.col("doc_b") % INCR_BATCH_MOD == INCR_BATCH_MOD - 1)
        .groupBy("doc_b")
        .agg(F.min("doc_a").alias("near_match"))
        .select(F.col("doc_b").alias("doc_id"), "near_match")
    )

    batch = docs.filter(is_batch).select("doc_id")
    return (
        batch.join(F.broadcast(exact), "doc_id", "left")
        .join(F.broadcast(near), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), "exact_dup")
            .when(F.col("near_match").isNotNull(), "near_dup")
            .otherwise("unique")
            .alias("status"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
        )
    )


# Small-graph regime bound for connected components (r10, guide
# §1.2/§3.1): below this edge count the normalized edge list is a
# couple of MB — the same size class as a broadcast-join build side —
# and the distributed star loop is pure scheduling overhead (measured
# at sf0.1: the 4,900-edge doc-chain graph paid 8 rounds × ~0.65 s of
# Catalyst planning + digest jobs ≈ 5 s for microseconds of actual
# union-find work). Under the cap the driver runs exact union-find on
# the collected pairs (min-root labels — the identical fixed point
# the star algorithm converges to) and ships the labels back as a
# broadcast-sized frame; at or above it the O(log n) distributed loop
# runs unchanged. The same two-regime reasoning as a broadcast hash
# join: the cap bounds driver memory by construction, and at 100 TB
# the distributed path is always taken.
CC_DRIVER_EDGE_CAP = 1 << 17  # 131072 normalized edges ≈ 2 MB of longs


def _driver_union_find(pairs) -> dict:
    """Exact min-root union-find over collected (u, v) pairs →
    {node: component_min}. Path-halving find, union by arbitrary
    root; the final resolve maps every member to its component's
    MINIMUM id — the same labels the alternating-star fixed point
    emits."""
    parent: dict = {}

    def find(x):
        r = parent.setdefault(x, x)
        while r != parent[r]:
            parent[r] = parent[parent[r]]
            r = parent[r]
        # path compression for x's chain
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    return {x: comp_min[find(x)] for x in parent}


def connected_components(
    edges: DataFrame, src: str = "u", dst: str = "v"
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    rewrites (Kiveris et al., "Connected Components in MapReduce and
    Beyond") → ``(u, lbl)`` with ``lbl`` = the smallest vertex id in
    ``u``'s component. Every vertex of ``edges`` appears once.

    Round count is O(log n) on ANY graph, long paths included:

    - **large-star**: every node points its LARGER neighbours at the
      minimum of its neighbourhood (halves long paths),
    - **small-star**: every node folds its smaller neighbours onto
      that minimum (flattens into stars).

    Each star's ``min`` attaches as a whole-partition WINDOW over the
    per-node partition instead of a groupBy + self-join — one |E|
    shuffle per star instead of two; duplicates the window emits are
    absorbed by the round's final ``distinct``. The star edge count is
    constant across rounds once #roots stabilizes, so each round folds
    one narrow (count, bit_xor(xxhash64)) digest over the
    just-materialized checkpoint and pays the exact ``exceptAll``
    confirmation ONLY when consecutive digests match: a digest
    mismatch proves not-converged, and convergence is decided by the
    exact set comparison, never by the hash alone.

    Two regimes (see :data:`CC_DRIVER_EDGE_CAP`, read at call time):
    the initial digest already counts the normalized edges; under the
    cap the driver runs exact union-find on the collected pairs and
    the star loop never starts — the collect is bounded by the gate
    and the labels are the identical min-root fixed point.

    At the fixed point the edge set IS the component assignment
    (child → root). Skew note: a hub node's rows land in one window
    partition; the window carries no orderBy, so the physical shape is
    a hash partition + a LOCAL sort feeding WindowExec (never a global
    order-by sort).
    """
    # Lazy checkpoints throughout: every checkpointed frame is forced
    # by the action that follows it (the digest ``first()`` each round,
    # the first consumer for nodes), so it is materialized exactly once
    # without a separate blocking job. The input is checkpointed before
    # both ``nodes`` and ``e`` read it, so an expensive upstream (LSH +
    # verify) runs once.
    pairs = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=False)
    nodes = (
        pairs.select(F.col("a").alias("u"))
        .union(pairs.select(F.col("b").alias("u")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # normalize: drop self-loops, orient big→small, dedup
    e = (
        pairs.filter(F.col("a") != F.col("b"))
        .select(
            F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _digest(df: DataFrame) -> tuple:
        row = df.agg(
            F.count("*").alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["c"], row["h"])

    d_e = _digest(e)
    if d_e[0] < CC_DRIVER_EDGE_CAP:
        # small-graph regime: the collect is BOUNDED by the gate just
        # evaluated; labels return as a broadcast-sized frame with the
        # identical min-root semantics
        spark = edges.sparkSession
        labels = _driver_union_find(
            [(r["u"], r["v"]) for r in e.collect()]
        )
        utype = dict(e.dtypes)["u"]
        lbl_df = spark.createDataFrame(
            list(labels.items()), schema=f"u {utype}, lbl {utype}"
        )
        return (
            nodes.join(F.broadcast(lbl_df), "u", "left")
            .select("u", F.coalesce("lbl", "u").alias("lbl"))
        )
    wu = W.partitionBy("u")
    while True:
        und = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        withm = und.withColumn(
            "m", F.least(F.min("v").over(wu), F.col("u"))
        )
        large = (
            withm.filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        lm = large.withColumn("m", F.min("v").over(wu))
        # small-star fold+point as ONE generate over the window output:
        # a ``folded.union(pointed)`` would run both WindowExecs once
        # per union arm (ReuseExchange dedupes only the exchanges).
        # Each lm row emits (u, m), plus (v, m) when v != m.
        pair = F.when(
            F.col("v") != F.col("m"),
            F.array(
                F.struct(F.col("u").alias("a"), F.col("m").alias("b")),
                F.struct(F.col("v").alias("a"), F.col("m").alias("b")),
            ),
        ).otherwise(
            F.array(F.struct(F.col("u").alias("a"), F.col("m").alias("b")))
        )
        new_e = (
            lm.select(F.explode(pair).alias("p"))
            .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        d_new = _digest(new_e)
        converged = d_new == d_e and new_e.exceptAll(e).isEmpty()
        e, d_e = new_e, d_new
        if converged:
            break
    # star edges are (child, root); roots (and isolated-in-normalized
    # nodes) label themselves
    return (
        nodes.join(e.select("u", F.col("v").alias("lbl")), "u", "left")
        .select("u", F.coalesce("lbl", "u").alias("lbl"))
    )


@register(
    "connected_components_alternating",
    oracle=f"""
    WITH RECURSIVE {_DOC_CHAIN_CTE}, {_COMPONENT_CTE}
    SELECT u AS doc_id, lbl AS component_id FROM comp
    """,
)
def connected_components_alternating_query(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gate query for :func:`connected_components` — the O(log n)
    large-star/small-star CC (Kiveris et al.) — run over a
    deterministic PATH graph (:func:`_doc_chain_edges`). Paths are the
    adversarial topology: diameter grows linearly with slice size
    (25 docs/slice at sf0.01, 10× per SF step), while the round count
    stays O(log n).

    The oracle closes the same edge set with a recursive-CTE
    transitive closure and takes the min reachable label — the
    algorithm-independent definition of a component — so the row is a
    hash-checked equivalence proof for the kernel.
    """
    comp = connected_components(_doc_chain_edges(spark, sf_dir))
    return comp.select(
        F.col("u").alias("doc_id"), F.col("lbl").alias("component_id")
    )


def _doc_chain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(u, v)`` edges linking consecutive doc_ids within each
    (source, lang) corpus slice: a deterministic path graph, built by
    one window hash-partitioned on (source, lang), never global.
    The oracle side is ``_DOC_CHAIN_CTE``."""
    docs = table(spark, sf_dir, "documents")
    w = W.partitionBy("source", "lang").orderBy("doc_id")
    return docs.select(
        F.col("doc_id").alias("u"), F.lead("doc_id").over(w).alias("v")
    ).filter(F.col("v").isNotNull())


SEMANTIC_CLUSTER_K = 16  # floor for the coarse partition
SEMANTIC_TARGET_CLUSTER_ROWS = 256  # k scales to hold this constant
SEMANTIC_RECALL_FLOOR = 0.5  # vs the exact grid block-NL pair set
SEMANTIC_FIT_SAMPLE = 65536  # KMeans training rows, corpus-independent


def _semantic_fit_frame(feats: DataFrame, n_vectors: int) -> DataFrame:
    """Bounded deterministic quantizer training set: the first
    ``SEMANTIC_FIT_SAMPLE`` vec_ids (per-partition top-k heaps via
    TakeOrdered — never a global sort of the corpus), or the whole
    frame when it is already smaller. The quantizer fit is an index
    build: its input size must be independent of corpus size or the
    fit itself becomes the 100 TB bottleneck (Lloyd's re-reads its
    training set once per iteration). Beyond ``SEMANTIC_FIT_SAMPLE /
    SEMANTIC_TARGET_CLUSTER_ROWS`` centroids (k grows with n), the
    engine SWITCHES to two-level clustering — coarse fit on this
    sample, per-cell bounded refits — in :func:`_semantic_centers`,
    rather than widening this sample."""
    sample = (
        feats
        if n_vectors <= SEMANTIC_FIT_SAMPLE
        else feats.orderBy("vec_id").limit(SEMANTIC_FIT_SAMPLE)
    )
    return sample.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )


# Max centroids a SEMANTIC_FIT_SAMPLE-row fit supports at
# SEMANTIC_TARGET_CLUSTER_ROWS training rows per centroid. Beyond it
# (i.e. corpora past SEMANTIC_FIT_SAMPLE rows), widening the sample
# would put the corpus back inside Lloyd's per-iteration scan — the
# two-level path below scales centroid count instead.
SEMANTIC_COARSE_MAX = SEMANTIC_FIT_SAMPLE // SEMANTIC_TARGET_CLUSTER_ROWS


def _fit_cell_kmeans(k_fine: int, dim_hint: int):
    """Per-coarse-cell deterministic numpy Lloyd's for the two-level
    path. Runs INSIDE applyInPandas on a bounded per-cell training
    sample, so the fine fits for all cells are one distributed pass
    with per-task memory ≤ per-cell cap × dim — no driver fit, no
    repeated corpus scans (iterations run on the in-memory matrix).

    Determinism: rows arrive pre-sorted by vec_id (the window that
    sampled them), init picks evenly-spaced rows of that order,
    assignment ties break to the lowest center index (np.argmin), and
    an emptied center keeps its previous position — no RNG anywhere.
    """

    def fit(key, pdf):
        import numpy as np

        pdf = pdf.sort_values("vec_id")
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        n = len(mat)
        k_eff = max(1, min(k_fine, n))
        idx = np.linspace(0, n - 1, num=k_eff).astype(np.int64)
        centers = mat[idx].copy()
        for _ in range(5):
            d2 = ((mat[:, None, :] - centers[None, :, :]) ** 2).sum(
                axis=2
            )
            lbl = np.argmin(d2, axis=1)
            for c in range(k_eff):
                sel = mat[lbl == c]
                if len(sel):
                    centers[c] = sel.mean(axis=0)
        return pd.DataFrame(
            {
                "coarse": [int(key[0])] * k_eff,
                "fine": list(range(k_eff)),
                "center": [list(map(float, c)) for c in centers],
            }
        )

    return fit


def _semantic_centers(
    spark: SparkSession, feats: DataFrame, n_vectors: int, k: int
) -> DataFrame:
    """Cluster centers ``(cluster int, center array<double>)`` for the
    semantic dedup quantizer.

    Single-level (k ≤ SEMANTIC_COARSE_MAX): one deterministic
    driver-side numpy Lloyd's fit on the bounded sample
    (:func:`_semantic_centers_fast`) — the only path any gate-scale
    corpus takes. ROUND-7 SWAP from ml.KMeans, executed on the banked
    r5 evidence (2.96→1.54s at sf0.1: Spark ML pays ~2s of fixed
    per-iteration job-scheduling overhead at EVERY corpus size for a
    ≤65,536-row ≈ 32 MB training matrix) once the driver-run digest in
    BENCH_r06.json confirmed the numpy-fit floor green
    (gate 50/0, registry 318/0).

    Two-level (k > SEMANTIC_COARSE_MAX, i.e. the corpus outgrew what
    one SEMANTIC_FIT_SAMPLE-row fit supports): fit SEMANTIC_COARSE_MAX
    coarse centroids on the sample, partition the corpus by nearest
    coarse centroid (one broadcast-scoring pass), then fit
    ``ceil(k / coarse)`` fine centroids per cell on a per-cell
    deterministic sample of ≤ k_fine·SEMANTIC_TARGET_CLUSTER_ROWS
    rows — every fine centroid stays supported by ~TARGET rows while
    total centroid count keeps scaling as n/TARGET past the cap.
    The union of cell fits is ONE applyInPandas pass; Lloyd's
    iterations run on each cell's in-memory matrix, so the corpus is
    still never re-scanned per iteration. Global cluster key =
    coarse·k_fine + fine.
    """
    # degenerate guards (no-ops at any real SF): an empty corpus has
    # no centers; one vector IS its center
    if n_vectors == 0:
        return spark.createDataFrame(
            [], "cluster int, center array<double>"
        )
    if n_vectors == 1:
        row = feats.select(
            F.col("embedding").cast("array<double>").alias("v")
        ).first()
        return spark.createDataFrame(
            [(0, row["v"])], "cluster int, center array<double>"
        )
    k = max(2, min(k, n_vectors))
    if k <= SEMANTIC_COARSE_MAX:
        return _semantic_centers_fast(spark, feats, n_vectors, k)
    k_coarse = SEMANTIC_COARSE_MAX
    k_fine = -(-k // k_coarse)
    coarse = _semantic_centers_fast(
        spark, feats, n_vectors, k_coarse
    ).select(F.col("cluster").alias("coarse"), "center")
    arr = feats.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    d2 = _sq_dist(F.col("v"), F.col("center"))
    w1 = W.partitionBy("vec_id").orderBy(F.asc("_d2"), F.asc("coarse"))
    cell_of = (
        arr.crossJoin(F.broadcast(coarse))
        .select("vec_id", "v", "coarse", d2.alias("_d2"))
        .withColumn("_r", F.row_number().over(w1))
        .filter(F.col("_r") == 1)
        .select("vec_id", "v", "coarse")
    )
    per_cell_cap = k_fine * SEMANTIC_TARGET_CLUSTER_ROWS
    w2 = W.partitionBy("coarse").orderBy("vec_id")
    cell_train = (
        cell_of.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") <= per_cell_cap)
        .select("coarse", "vec_id", "v")
    )
    dim = len(feats.select("embedding").first()["embedding"])
    fine = cell_train.groupBy("coarse").applyInPandas(
        _fit_cell_kmeans(k_fine, dim),
        schema="coarse int, fine int, center array<double>",
    )
    return fine.select(
        (F.col("coarse") * k_fine + F.col("fine"))
        .cast("int")
        .alias("cluster"),
        "center",
    )


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@register("dedup_semantic_clusters")  # rows-only: k-means partition
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped semantic dedup: cluster the embedding space
    (deterministic Lloyd's — the trained quantizer, like the
    kmeans-IVF index), then
    search duplicate pairs ONLY inside each cluster with the exact
    cosine check at :data:`EMBEDDING_DUP_THRESHOLD`.

    This is how embedding dedup actually ships at 100 TB: the exact
    grid block-NL (:func:`dedup_embedding_cosine`) is O(n²) spread
    over the cluster; the semantic variant makes the quadratic unit
    the CLUSTER (n/k rows), an n²/k total — with k scaled to hold
    cluster size constant, effectively linear. The price is recall:
    a near-dup pair split across cluster boundaries is missed.
    Single-assignment recall measured 0.5 at sf0.01 (the 0.45
    threshold admits genuinely distant pairs), so each vector is
    assigned to its TOP-2 nearest centroids (multi-probe assignment —
    the standard boundary fix): a pair is caught if the centroid sets
    intersect, doubling candidate volume: measured recall rises
    from 0.5 to 0.93 at sf0.01 (0.86 at sf0.001) — the remaining
    misses are threshold-marginal pairs distant enough to straddle
    even two probes. Precision stays exact regardless because
    every candidate is re-scored with the true cosine before it is
    emitted (false positives are impossible, the LSH-verify
    contract). Rows-only here (Lloyd's iterations are not
    SQL-expressible); the hash-pinned acceptance row is
    :func:`dedup_semantic_floor`.

    Plan: one bounded deterministic quantizer fit (driver-side numpy
    Lloyd's on the ≤SEMANTIC_FIT_SAMPLE-row sample — the round-7
    backend, see :func:`_semantic_centers`; Lloyd's iterations run on
    the in-memory matrix, never re-scanning the corpus), one
    broadcast-centers scoring pass + per-vector top-2
    window (partitioned by vec_id — n·k compact rows, never global)
    → ONE shuffle on the cluster key into a per-cluster numpy kernel
    (the grid block-NL's sequential-over-dims fold, so every cosine
    is bit-identical to the declarative form) that emits only the
    in-radius pairs. Candidate pairs never materialize as rows —
    the quadratic unit lives inside the kernel as a (2s)² matrix
    with s = n/k held constant by scaling k — that matrix is the
    per-task memory bound, and dropDuplicates collapses the pairs
    whose members share both probe clusters. k scales as
    max(16, n/SEMANTIC_TARGET_CLUSTER_ROWS) via one count (an
    index-build statistic, same class as the fit itself).
    """
    emb = table_wide(spark, sf_dir, "embeddings")
    # k sizing: a column-pruned count, one cheap scan-only pass
    n_vectors = emb.count()
    k = max(
        SEMANTIC_CLUSTER_K,
        -(-n_vectors // SEMANTIC_TARGET_CLUSTER_ROWS),
    )
    # Fit is BOUNDED (the PQ codebook pattern, pq.py:64): the
    # quantizer fit is an index build and must not scan the corpus
    # once per Lloyd's pass — single-level on the capped cached
    # sample up to SEMANTIC_COARSE_MAX centroids, the two-level
    # coarse/fine path past it (see _semantic_centers).
    centers = _semantic_centers(spark, emb, n_vectors, k)
    return _semantic_pairs_from_centers(emb, centers)


def _semantic_pairs_from_centers(
    emb: DataFrame, centers: DataFrame
) -> DataFrame:
    """Top-2 multi-probe assignment + in-cluster exact scoring over
    the ``embeddings`` frame ``emb`` — shared by
    :func:`dedup_semantic_clusters` and its oracle-paired twin
    ``dedup_semantic_clusters_det`` (``ivf_kmeans.py``), which differ
    only in how ``centers`` (``cluster``, ``center``) are fit."""
    sqdist = _sq_dist(
        F.col("embedding").cast("array<double>"), F.col("center")
    )
    scored = emb.crossJoin(F.broadcast(centers)).select(
        "vec_id", "cluster", sqdist.alias("_d2")
    )
    w2 = W.partitionBy("vec_id").orderBy(F.asc("_d2"), F.asc("cluster"))
    assigned = (
        scored.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") <= 2)
        .select("vec_id", "cluster")
    )
    threshold = EMBEDDING_DUP_THRESHOLD

    def _score_cluster(key, pdf):
        import numpy as np

        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        if len(ids) < 2:
            return pd.DataFrame(
                {
                    "vec_a": pd.Series(dtype="int64"),
                    "vec_b": pd.Series(dtype="int64"),
                    "_cos": pd.Series(dtype="float64"),
                }
            )
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        acc = np.zeros((len(ids), len(ids)))
        sq = np.zeros(len(ids))
        # sequential-over-dims fold: identical add order to the SQL
        # list_reduce, keeping every cosine bit-identical to the
        # declarative/oracle form (the grid block-NL contract)
        for i in range(mat.shape[1]):
            acc += mat[:, i][:, None] * mat[None, :, i]
            sq += mat[:, i] * mat[:, i]
        cos = acc / (np.sqrt(sq)[:, None] * np.sqrt(sq)[None, :])
        keep = (cos >= threshold) & (ids[:, None] < ids[None, :])
        ai, bi = np.nonzero(keep)
        return pd.DataFrame(
            {"vec_a": ids[ai], "vec_b": ids[bi], "_cos": cos[ai, bi]}
        )

    members = assigned.join(
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        ),
        "vec_id",
    )
    pairs = members.groupBy("cluster").applyInPandas(
        _score_cluster, schema="vec_a bigint, vec_b bigint, _cos double"
    )
    return pairs.select(
        "vec_a", "vec_b", F.round("_cos", 6).alias("cosine")
    ).dropDuplicates(["vec_a", "vec_b"])


def _semantic_centers_fast(
    spark: SparkSession, feats: DataFrame, n_vectors: int, k: int
) -> DataFrame:
    """Driver-side deterministic numpy Lloyd's on the SAME bounded
    sample every quantizer fit here trains on (≤ SEMANTIC_FIT_SAMPLE
    rows ≈ 32 MB at dim 64 — an index-build collect, the PQ codebook
    pattern). Eliminates Spark ML's per-iteration job-scheduling
    overhead (~2s fixed at every SF, measured r5). THE production
    backend since round 7 (`_semantic_centers` routes here)."""
    pdf = _semantic_fit_frame(feats, n_vectors).toPandas()
    # degenerate guards mirroring _semantic_centers (the numpy path
    # handles k = 1, so only empty needs a short-circuit)
    if len(pdf) == 0:
        return spark.createDataFrame(
            [], "cluster int, center array<double>"
        )
    k = max(1, min(k, len(pdf)))
    out = _fit_cell_kmeans(k, 0)((0,), pdf)
    return spark.createDataFrame(
        [
            (int(r.fine), [float(x) for x in r.center])
            for r in out.itertuples()
        ],
        "cluster int, center array<double>",
    )


@register(
    "dedup_semantic_floor",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS precision_exact,
           TRUE AS recall_floor_met
    FROM embeddings
    """,
)
def dedup_semantic_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-pinned acceptance gate for the semantic dedup: its pairs
    must be (a) exactly precise — every emitted pair truly meets the
    cosine threshold, which also makes them a subset of the exact
    grid block-NL pair set — and (b) cover ≥ SEMANTIC_RECALL_FLOOR of
    that exact set (the price of in-cluster-only search; top-2
    assignment measures 0.86 at sf0.001 and 0.93 at sf0.01, and the
    0.5 floor leaves headroom for unlucky clusterings at other
    scales).
    Anchored to the corpus count the oracle derives independently
    (the recall-floor pattern)."""
    sem = dedup_semantic_clusters(spark, sf_dir).select(
        "vec_a", "vec_b", F.lit(1).alias("_sem")
    )
    exact = dedup_embedding_cosine(spark, sf_dir).select(
        "vec_a", "vec_b", F.lit(1).alias("_ex")
    )
    joined = exact.join(sem, ["vec_a", "vec_b"], "full").agg(
        F.count_if(F.col("_ex").isNotNull()).alias("n_exact"),
        F.count_if(F.col("_sem").isNotNull()).alias("n_sem"),
        F.count_if(
            F.col("_ex").isNotNull() & F.col("_sem").isNotNull()
        ).alias("n_both"),
    )
    emb = table(spark, sf_dir, "embeddings")
    return emb.agg(
        F.count("*").cast("bigint").alias("n_vectors")
    ).crossJoin(
        joined.select(
            (F.col("n_sem") == F.col("n_both")).alias("precision_exact"),
            (
                F.col("n_both")
                >= F.col("n_exact") * F.lit(SEMANTIC_RECALL_FLOOR)
            ).alias("recall_floor_met"),
        )
    )


def _modality_agreement_oracle() -> str:
    """Compose the two independent near-dup oracles (text shingle
    Jaccard ≥ 0.8, embedding cosine ≥ threshold) as derived tables
    under a full-outer pair-set comparison."""
    from almost_any_file_to_pandas_spark.operators.dedup import (  # noqa
        EMB_COSINE_PAIRS_ORACLE,
    )

    text_sql = _SHINGLE_JACCARD_ORACLE.format(threshold=JACCARD_THRESHOLD)
    return f"""
    WITH t AS (SELECT doc_a, doc_b FROM ({text_sql})),
         e AS (SELECT vec_a AS doc_a, vec_b AS doc_b
               FROM ({EMB_COSINE_PAIRS_ORACLE}))
    SELECT
      CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS n_text_pairs,
      CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_embedding_pairs,
      CAST((SELECT COUNT(*) FROM t JOIN e USING (doc_a, doc_b)) AS BIGINT)
        AS n_both
    """


@register("dedup_modality_agreement", oracle=_modality_agreement_oracle())
def dedup_modality_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality dedup audit: how much of the verified TEXT
    near-dup pair set (shingle Jaccard ≥ 0.8) agrees with the exact
    EMBEDDING near-dup pair set (cosine ≥ threshold)? Production
    curation runs both pipelines — lexical dedup catches template
    copies that embed far apart, embedding dedup catches paraphrases
    sharing no shingles — and this census is the standing monitor
    that both remain calibrated (a collapse of n_both signals one
    pipeline drifted). Ids align 1:1 across the documents and
    embeddings tables (doc_id = vec_id, the testdata contract).

    Plan: both pair pipelines are the existing linear candidate/
    verify shapes; the comparison joins two candidate-sized frames —
    a broadcast join and three tiny counts folded into one row.
    """
    text_pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    emb_pairs = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    both = text_pairs.join(F.broadcast(emb_pairs), ["doc_a", "doc_b"])
    return (
        text_pairs.agg(F.count("*").cast("bigint").alias("n_text_pairs"))
        .crossJoin(
            emb_pairs.agg(
                F.count("*").cast("bigint").alias("n_embedding_pairs")
            )
        )
        .crossJoin(both.agg(F.count("*").cast("bigint").alias("n_both")))
    )


CONTAINMENT_THRESHOLD_Q6 = 800_000  # |A∩B| / min(|A|,|B|) ≥ 0.8


@register(
    "dedup_containment",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct({_word_ngrams_sql('w')})) AS shingle
      FROM base
    ), kept AS (
      SELECT doc_id, shingle FROM (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
      ) WHERE df <= {MAX_SHINGLE_DF}
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
    ), co AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT co.doc_a, co.doc_b, co.n_shared,
           (co.n_shared * 1000000) // LEAST(sa.sz, sb.sz)
             AS containment_q6
    FROM co
    JOIN sizes sa ON sa.doc_id = co.doc_a
    JOIN sizes sb ON sb.doc_id = co.doc_b
    WHERE (co.n_shared * 1000000) // LEAST(sa.sz, sb.sz)
          >= {CONTAINMENT_THRESHOLD_Q6}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup pairs by shingle containment
    ``|A∩B| / min(|A|,|B|) ≥ 0.8`` — the doc-contains-doc detector
    Jaccard structurally misses: a snippet quoted inside a 100×
    longer page has Jaccard ≈ 0.01 but containment ≈ 1.0. Training
    corpora are full of this shape (boilerplate-wrapped reposts,
    quote-inflated threads), and every containment pair is a
    candidate for span-level trimming rather than whole-doc dropping
    (the `text_duplicate_span_census` family acts on them).

    All-declarative exactness: the intersection size IS the
    co-membership multiplicity of the (df-capped) inverted index, so
    the score needs no text re-verification kernel — one bucket
    expansion with multiplicity, one pair count, two id-keyed size
    joins, all-integer `(n_shared·1e6) div min(|A|,|B|)`. The df cap
    is encoded IDENTICALLY in the oracle (the graph-oracle pattern):
    both engines score the same capped index by construction, and a
    capped viral shingle can only lower both sides' counts equally.

    Scale: pair volume is the inverted-index bound Σ_s df(s)² over
    kept shingles — the cap makes each term ≤ MAX_SHINGLE_DF·df(s).
    The prefix-filtered Jaccard path generates fewer candidates but
    cannot produce exact intersection COUNTS without a second pass
    over text; when containment at 100 TB needs tightening, the
    production swap is prefix-candidates + a count-verify kernel, at
    the cost of the kernel stage this form avoids.
    """
    docs = table_wide(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ", -1)
    sh = docs.select(
        "doc_id", F.explode(_word_ngrams(toks, 3)).alias("shingle")
    )
    w_df = W.partitionBy("shingle")
    kept = (
        sh.withColumn("df", F.count("*").over(w_df))
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .drop("df")
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("sz"))
    co = (
        _pairs_within_buckets(
            kept,
            "doc_id",
            ["shingle"],
            max_bucket=MAX_SHINGLE_DF,
            distinct=False,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("_sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("_sb"))
    scored = (
        co.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment_q6",
            F.expr("n_shared * 1000000 div least(_sa, _sb)"),
        )
    )
    return scored.filter(
        F.col("containment_q6") >= CONTAINMENT_THRESHOLD_Q6
    ).select("doc_a", "doc_b", "n_shared", "containment_q6")


@register(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_NEAR_DUP_PAIRS_CTE}, {_COMPONENT_CTE},
    ranked AS (
      SELECT c.u AS doc_id, c.lbl AS cluster_id, d.n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY c.lbl
               ORDER BY d.n_chars DESC, c.u ASC) AS pick
      FROM comp c JOIN documents d ON d.doc_id = c.u
    )
    SELECT doc_id, cluster_id, n_chars, pick = 1 AS is_kept
    FROM ranked
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware duplicate survivorship: near-dup clusters keep
    their LONGEST member (n_chars, doc-id tie-break) instead of the
    smallest id — the policy production dedup actually ships (min-id
    keeps an arbitrary member; keep-longest keeps the superset
    document, which matters when near-dups are truncations or
    quote-wrapped copies of each other; swap any quality scalar into
    the rank). The clusters are :func:`dedup_cluster_canonical`'s,
    so both rows run one LSH + CC code path; the oracle closes the
    same near-dup pairs with the shared recursive CTE.

    Plan: verified LSH pairs → :func:`connected_components` → one
    id-keyed join to the quality column (broadcast-eligible: the
    clustered subset is far smaller than the corpus) → a per-cluster
    row_number window over cluster-sized groups. Nothing corpus-scale
    moves after the pair stage.
    """
    comp = dedup_cluster_canonical(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    docs = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = comp.join(docs, "doc_id").withColumn(
        "pick",
        F.row_number().over(
            W.partitionBy("cluster_id").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ),
    )
    return ranked.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        (F.col("pick") == 1).alias("is_kept"),
    )


MINHASH_CALIB_TOL_Q6 = 250_000  # |sig-agreement − exact J| ≤ 0.25


def _minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sig array<bigint>) — the full N_HASHES minhash
    signature per document; the same shingles and :func:`_minhash`
    as the banded LSH kernel (one narrow Arrow stage)."""

    def _sig_batches(batches):
        for batch in batches:
            out_doc, out_sig = [], []
            for doc_id, text in zip(batch["doc_id"], batch["text"]):
                shingles = _shingle_set(text)
                if not shingles:
                    continue
                out_doc.append(doc_id)
                out_sig.append(list(_minhash(shingles)))
            yield pd.DataFrame({"doc_id": out_doc, "sig": out_sig})

    spark = docs.sparkSession
    return (
        docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "text")
        .mapInPandas(_sig_batches, schema="doc_id bigint, sig array<bigint>")
    )


@register(
    "dedup_minhash_calibration",
    oracle=f"""
    WITH pairs AS ({_SHINGLE_JACCARD_ORACLE.format(
        threshold=JACCARD_THRESHOLD)})
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST({N_HASHES} AS BIGINT) AS n_hashes,
           TRUE AS estimates_within_tol
    FROM pairs
    """,
)
def dedup_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration gate for the MinHash family: over every
    VERIFIED near-dup pair (exact shingle Jaccard ≥ 0.8 — the same
    pair set the oracle derives), the signature-agreement estimate
    (matching minhashes / N_HASHES, the unbiased Jaccard estimator)
    must sit within ±0.25 of the exact Jaccard. With 128 hashes the
    estimator's σ ≈ 0.035 at J = 0.8, so the tolerance holds with
    huge margin unless the hash family or shingling drifts — this row
    turns such a regression into a driver-visible hash mismatch (the
    sketch-tolerance pattern of `events_approx_distinct`).

    Plan: signatures are one narrow Arrow stage; the verified pair
    set (bounded — it is the dedup output, not the corpus) joins its
    two members' signatures by doc_id; agreement is a zip_with fold
    over two 128-long arrays per pair. Nothing quadratic, nothing
    collected.
    """
    docs = table_wide(spark, sf_dir, "documents")
    pairs = _verify_pairs(
        minhash_candidate_pairs(docs), docs, JACCARD_THRESHOLD
    ).select("doc_a", "doc_b", "jaccard")
    sigs = _minhash_signatures(docs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    est_q6 = (agree.cast("long") * 1_000_000) / F.lit(N_HASHES)
    scored = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            (
                F.abs(est_q6 - F.col("jaccard") * 1_000_000)
                <= MINHASH_CALIB_TOL_Q6
            ).alias("ok")
        )
    )
    return scored.agg(
        F.count("*").alias("n_pairs"),
        F.lit(N_HASHES).cast("bigint").alias("n_hashes"),
        # vacuously TRUE with no pairs (MIN over empty is NULL; the
        # oracle's universal claim over an empty set holds)
        F.coalesce(
            F.min(F.when(F.col("ok"), True).otherwise(False)),
            F.lit(True),
        ).alias("estimates_within_tol"),
    )


EDIT_K = 6  # maximum edit distance for the PassJoin pair search


@register(
    "dedup_edit_distance_pairs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS L FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_distance
    FROM d a JOIN d b
      ON a.doc_id < b.doc_id
     AND abs(a.L - b.L) <= {EDIT_K}
    WHERE levenshtein(a.text, b.text) <= {EDIT_K}
    """,
)
def dedup_edit_distance_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-identical document pairs at edit distance ≤ K — the
    byte-level twin of the shingle families, catching the small-diff
    duplicates (timestamps, one fixed typo, an inserted token) that
    set-similarity measures blur.

    The oracle is the full pairwise filter; the engine runs
    **PassJoin** (Li et al., VLDB'12) — a PROVABLY complete candidate
    scheme, not a probabilistic one: partition the shorter text of a
    qualifying pair into K+1 contiguous segments — at most K edits
    cannot touch all of them (pigeonhole), so some segment occurs
    EXACTLY in the longer text, displaced by at most K positions.
    Candidates are therefore an equi-join between

    * the segment index: (slot, own_length, segment) per doc, and
    * the probe index: for each doc of length M, each hypothetical
      shorter length L ∈ [M−K, M], each slot's substring of the
      matching segment length at starts within ±K of the segment's
      home position —

    both JVM-only column expressions (explode over sequence/
    transform; no UDF).  Probe fan-out is the algorithm's documented
    (K+1)²·(2K+1) worst case per doc — constant in corpus size; the
    join keys on (slot, L, substring) so candidate volume concentrates
    only where true near-duplicates exist.  Exact integer
    ``levenshtein`` verifies every candidate pair once (a < b).

    Plan: two narrow passes build the indexes, one equi-join shuffle
    on the segment key, distinct pair set, then a verify join pulling
    the two texts by doc_id.
    """
    n_seg = EDIT_K + 1
    docs = table_wide(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("L")
    )
    docs = docs.localCheckpoint(eager=True)  # feeds both indexes + verify

    slot = F.col("slot")
    # even partition of a length-`lcol` string: slot i (0-based) has
    # length base+1 for i < rem else base, starting at
    # i*base + min(i, rem) + 1  (1-based)
    def _seg_len(lcol):
        base, rem = lcol / F.lit(n_seg), lcol % F.lit(n_seg)
        return F.floor(base).cast("int") + F.when(
            slot < rem, 1
        ).otherwise(0)

    def _seg_start(lcol):
        base, rem = F.floor(lcol / F.lit(n_seg)).cast("int"), lcol % F.lit(
            n_seg
        )
        return slot * base + F.least(slot, rem.cast("int")) + 1

    seg_index = (
        docs.select(
            "doc_id",
            "text",
            "L",
            F.explode(F.sequence(F.lit(0), F.lit(n_seg - 1))).alias(
                "slot"
            ),
        )
        .select(
            "doc_id",
            "L",
            slot.alias("slot"),
            F.expr(
                "substring(text, "
                f"slot * (L div {n_seg}) + least(slot, L % {n_seg}) + 1, "
                f"(L div {n_seg}) + CASE WHEN slot < L % {n_seg} "
                "THEN 1 ELSE 0 END)"
            ).alias("seg"),
        )
        .filter(F.length("seg") > 0)
    )
    probe_index = (
        docs.select(
            "doc_id",
            "text",
            F.col("L").alias("M"),
            F.explode(
                F.sequence(
                    F.greatest(F.col("L") - EDIT_K, F.lit(1)),
                    F.col("L"),
                )
            ).alias("tl"),  # hypothetical shorter length
        )
        .select(
            "doc_id",
            "text",
            "M",
            "tl",
            F.explode(F.sequence(F.lit(0), F.lit(n_seg - 1))).alias(
                "slot"
            ),
        )
        .select(
            "doc_id",
            "tl",
            "slot",
            _seg_len(F.col("tl")).alias("sl"),
            _seg_start(F.col("tl")).alias("sp"),
            "text",
            "M",
        )
        .filter(F.col("sl") > 0)
        .select(
            "doc_id",
            "tl",
            "slot",
            "sl",
            F.explode(
                F.when(
                    F.greatest(F.col("sp") - EDIT_K, F.lit(1))
                    <= F.least(
                        F.col("sp") + EDIT_K,
                        F.col("M") - F.col("sl") + 1,
                    ),
                    F.sequence(
                        F.greatest(F.col("sp") - EDIT_K, F.lit(1)),
                        F.least(
                            F.col("sp") + EDIT_K,
                            F.col("M") - F.col("sl") + 1,
                        ),
                    ),
                ).otherwise(F.array().cast("array<int>"))
            ).alias("start"),
            "text",
        )
        .select(
            F.col("doc_id").alias("probe_id"),
            "tl",
            "slot",
            F.expr("substring(text, start, sl)").alias("sub"),
        )
    )
    # r10 (guide §2.3 — narrow the join key): the candidate join
    # carried raw substrings as its equality key; probing measured
    # ~4 s for 2.87 M probe rows against the 35 k-segment build side,
    # dominated by string-key hashing/compares, for 707 surviving
    # pairs. Both sides now key on xxhash64 of the substring
    # ((int, bigint, long) keys — no string crosses the join). Equal
    # substrings hash equal, so the candidate set stays a SUPERSET of
    # PassJoin's (completeness preserved); a hash collision can only
    # ADD a candidate, and the exact levenshtein + length verify
    # below decides membership, so the output set is identical.
    seg_k = seg_index.select(
        "doc_id", "L", "slot", F.xxhash64("seg").alias("kh")
    )
    probe_k = probe_index.select(
        "probe_id", "tl", "slot", F.xxhash64("sub").alias("kh")
    )
    cands = (
        seg_k.join(
            probe_k,
            (seg_k.slot == probe_k.slot)
            & (seg_k.L == probe_k.tl)
            & (seg_k.kh == probe_k.kh)
            & (seg_k.doc_id != probe_k.probe_id),
        )
        .select(
            F.least(seg_k.doc_id, F.col("probe_id")).alias("doc_a"),
            F.greatest(seg_k.doc_id, F.col("probe_id")).alias(
                "doc_b"
            ),
        )
        .distinct()
    )
    # Pin the verify stage's parallelism (r10, guide §2.5 — the
    # _pairs_within_buckets discipline): the candidate frame is tiny
    # in BYTES (two longs per pair), so AQE coalesces the distinct's
    # output to ~1 partition — and the levenshtein verify above it is
    # enormous per ROW (O(|a|·|b|) DP cells). Measured on the 10×
    # scaling corpus: the verify serialized onto one core and the
    # query ran 184 s at BOTH 8 and 32 cores; the round-robin
    # repartition moves only the compact pair rows.
    cands = cands.repartition(
        spark.sparkContext.defaultParallelism
    )
    ta = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"),
        F.col("L").alias("la"),
    )
    tb = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"),
        F.col("L").alias("lb"),
    )
    return (
        cands.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.abs(F.col("la") - F.col("lb")) <= EDIT_K)
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("text_a", "text_b").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= EDIT_K)
    )


SIMHASH_HAMMING_K = 1  # pair search radius over the 16-bit signature


def _simhash_pairs_sql() -> str:
    sig = _simhash_sql()
    return f"""
    WITH sig AS ({sig})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAMMING_K}
    """


@register("dedup_simhash_hamming_pairs", oracle=_simhash_pairs_sql())
def dedup_simhash_hamming_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Verified SimHash near-duplicate PAIRS at Hamming distance ≤ 1 —
    the operator that completes the simhash family: signature →
    candidate → exact-verified pair (the same closure minhash has in
    `dedup_minhash_lsh`).

    The oracle is the quadratic Hamming filter. The engine uses the
    EXACT single-flip neighbour join — candidates by construction,
    not probabilistically: every doc emits its signature plus the 16
    one-bit-flip variants (17 constant keys/doc); two signatures are
    within Hamming 1 iff one's variant set hits the other's base, so
    one equi-join on the 16-bit key finds every qualifying pair and
    nothing needs a distance scan. A ``bit_count(sig_a ^ sig_b)``
    verify recomputes the emitted distance (and collapses the
    double-match of distance-1 pairs via DISTINCT on the ordered
    pair).

    Scale: fan-out is a CONSTANT 17 rows/doc (vs the banded scheme's
    data-dependent bucket sizes); the join key space is the signature
    domain, so candidate volume concentrates exactly on true
    near-duplicate mass. Generalizes to radius K by flipping up to K
    bits (``ΣC(16,i)`` keys) — the standard multi-probe trade-off.
    """
    sig = dedup_simhash_signature(spark, sf_dir).localCheckpoint(
        eager=True
    )  # one corpus pass feeds probe + base sides
    variants = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.col("simhash"),
                *[
                    F.col("simhash").bitwiseXOR(F.lit(1 << j))
                    for j in range(SIMHASH_BITS)
                ],
            )
        ).alias("probe"),
    )
    cand = (
        variants.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.probe") == F.col("b.simhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    both = (
        cand.join(sig.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("simhash", "sig_a")
        .join(sig.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("simhash", "sig_b")
    )
    return both.select(
        "doc_a",
        "doc_b",
        F.bit_count(
            F.col("sig_a").bitwiseXOR(F.col("sig_b"))
        ).cast("int").alias("hamming"),
    ).filter(F.col("hamming") <= SIMHASH_HAMMING_K)


# --- LSH band-tuning curve -------------------------------------------
# 16 portable (md5-prefix) minhashes over df-capped word-3-gram
# shingles, banded three ways (4×4, 8×2, 16×1). Ground truth and the
# minhash universe are BOTH the df-capped shingle sets, so the curve
# is a closed, engine-exact measurement: candidate counts, precision
# and recall are integers DuckDB re-derives bit-for-bit.
LSH_CURVE_HASHES = 16
LSH_CURVE_CONFIGS = ((4, 4), (8, 2), (16, 1))  # (n_bands, rows_per_band)


# One md5 yields FOUR independent 32-bit minhash lanes (8 hex chars
# each), and fixed-length lowercase hex compares lexicographically
# exactly as it does numerically — so the signature needs 4 md5 calls
# and 16 substrings per shingle row, and the MINs run on strings with
# no hex→int parse anywhere (the parse was 8 instr/substr expression
# nodes per lane; at bench scale it dominated the operator).
def _curve_hash_sql(seed: int, lane: int) -> str:
    return f"substr(md5('{seed}:' || g), {1 + 8 * lane}, 8)"


def _shingle_sig_cte() -> str:
    """Shared WITH-body prefix of the two LSH-measurement oracles:
    df-capped word-3-gram shingle sets (kept), per-doc set sizes,
    pairwise intersection counts, and the 16-lane portable minhash
    signature. One definition — both operators measure the SAME
    universe by construction."""
    mins = ", ".join(
        f"MIN({_curve_hash_sql(s // 4, s % 4)}) AS h{s}"
        for s in range(LSH_CURVE_HASHES)
    )
    return f"""base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh0 AS (
      SELECT doc_id,
             unnest(list_distinct({_word_ngrams_sql('w')})) AS g
      FROM base
    ), dfok AS (
      SELECT g FROM sh0 GROUP BY g HAVING COUNT(*) <= {MAX_SHINGLE_DF}
    ), kept AS (
      SELECT s.doc_id, s.g FROM sh0 s JOIN dfok USING (g)
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
      FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id, {mins} FROM kept GROUP BY doc_id
    )"""


def _shingle_sig_frames(spark: SparkSession, sf_dir: str):
    """(kept, sizes, inter, sig) — the engine-side twin of
    :func:`_shingle_sig_cte`, shared by the band-tuning curve and the
    estimator calibration. ``kept`` is localCheckpointed (three
    consumers); ``sig`` is the 16 string-lane minhash frame (4 md5
    columns sliced into fixed-length hex lanes — see
    :func:`_curve_hash_sql`)."""
    docs = table_wide(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            _word_ngrams(F.split(F.col("text"), " ", -1))
        ).alias("g"),
    )
    # the df-cap join consumes ``sh`` on BOTH sides (dfok derives
    # from it), so without a checkpoint the interpreted shingle
    # explode ran twice per materialization; the lazy checkpoint
    # makes it run once (r9 — a window-count restatement was tried
    # and measured 3-4× WORSE: WindowExec sorts the full shingle
    # frame by key where the hash aggregate + join does not).
    sh = sh.localCheckpoint(eager=False)
    dfok = (
        sh.groupBy("g")
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= MAX_SHINGLE_DF)
        .select("g")
    )
    # SHUFFLE_HASH hint (r10, guide §3.1): dfok is corpus-derived
    # (every distinct sub-cap shingle), but the planner's post-
    # aggregate size estimate made it a BROADCAST build — measured on
    # the 10× amplified scaling corpus the build reached 8.7 GiB and
    # the query DIED on the 8 GiB broadcast cap. Both sides are
    # corpus-sized at scale, so the scale-correct shape is a shuffled
    # join on ``g``; the df cap itself bounds per-key rows, so the
    # hinted hash build cannot see a hot key.
    kept = sh.join(dfok.hint("SHUFFLE_HASH"), "g").localCheckpoint(
        eager=False
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        _pairs_within_buckets(
            kept,
            "doc_id",
            ["g"],
            max_bucket=MAX_SHINGLE_DF,
            distinct=False,
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    hashed = kept.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{s}:"), F.col("g"))).alias(f"m{s}")
            for s in range(LSH_CURVE_HASHES // 4)
        ],
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                F.substring(F.col(f"m{s // 4}"), 1 + 8 * (s % 4), 8)
            ).alias(f"h{s}")
            for s in range(LSH_CURVE_HASHES)
        ]
    )
    return kept, sizes, inter, sig


def _lsh_curve_sql() -> str:
    band_selects = []
    for nb, rpb in LSH_CURVE_CONFIGS:
        for band in range(nb):
            cols = ", ".join(
                f"CAST(h{band * rpb + j} AS VARCHAR)"
                for j in range(rpb)
            )
            band_selects.append(
                f"SELECT {nb} AS nb, doc_id, {band} AS band,"
                f" concat_ws(',', {cols}) AS key FROM sig"
            )
    bands = " UNION ALL ".join(band_selects)
    values = ", ".join(f"({nb}, {rpb})" for nb, rpb in LSH_CURVE_CONFIGS)
    return f"""
    WITH {_shingle_sig_cte()}, truth AS (
      SELECT i.da, i.db
      FROM inter i
      JOIN sizes sa ON i.da = sa.doc_id
      JOIN sizes sb ON i.db = sb.doc_id
      WHERE 5 * i.c >= 4 * (sa.sz + sb.sz - i.c)
    ), bands AS (
      {bands}
    ), okb AS (
      SELECT nb, band, key FROM bands GROUP BY 1, 2, 3
      HAVING COUNT(DISTINCT doc_id)
             BETWEEN 2 AND {MAX_BUCKET_SIZE}
    ), bb AS (
      SELECT b.nb, b.band, b.key, b.doc_id
      FROM bands b JOIN okb o
        ON b.nb = o.nb AND b.band = o.band AND b.key = o.key
    ), cand AS (
      SELECT DISTINCT a.nb, a.doc_id AS da, b.doc_id AS db
      FROM bb a JOIN bb b
        ON a.nb = b.nb AND a.band = b.band AND a.key = b.key
       AND a.doc_id < b.doc_id
    ), nc AS (
      SELECT nb, COUNT(*) AS n_candidates FROM cand GROUP BY nb
    ), tc AS (
      SELECT c.nb, COUNT(*) AS n_true_candidates
      FROM cand c JOIN truth t ON c.da = t.da AND c.db = t.db
      GROUP BY c.nb
    ), nt AS (
      SELECT COUNT(*) AS n_true FROM truth
    )
    SELECT CAST(v.nb AS INTEGER) AS n_bands,
           CAST(v.rpb AS INTEGER) AS rows_per_band,
           CAST(COALESCE(nc.n_candidates, 0) AS BIGINT) AS n_candidates,
           CAST(COALESCE(tc.n_true_candidates, 0) AS BIGINT)
             AS n_true_candidates,
           CAST(nt.n_true AS BIGINT) AS n_true_pairs,
           CAST(CASE WHEN COALESCE(nc.n_candidates, 0) = 0 THEN 0
                ELSE COALESCE(tc.n_true_candidates, 0) * 1000000
                     // nc.n_candidates END AS BIGINT) AS precision_q6,
           CAST(CASE WHEN nt.n_true = 0 THEN 0
                ELSE COALESCE(tc.n_true_candidates, 0) * 1000000
                     // nt.n_true END AS BIGINT) AS recall_q6
    FROM (VALUES {values}) v(nb, rpb)
    LEFT JOIN nc ON v.nb = nc.nb
    LEFT JOIN tc ON v.nb = tc.nb, nt
    """


@register("dedup_lsh_band_tuning_curve", oracle=_lsh_curve_sql())
def dedup_lsh_band_tuning_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Precision/recall of MinHash-LSH candidate generation across
    band configurations — the S-curve measurement behind every
    banding choice (more bands ⇒ higher recall, lower precision; the
    16×1 point is the recall ceiling of a 16-hash signature, 4×4 the
    precision end). One row per config with integer q6 metrics.

    Closed measurement contract: the minhash universe AND the ground
    truth are both the df-capped (≤ MAX_SHINGLE_DF) word-3-gram sets
    — stop-shingle removal before MinHash, with the cap an explicit
    model parameter as in :func:`dedup_ngram_jaccard` — and the
    minhashes are the portable md5-prefix integers of
    ``'{{seed}}:' || shingle``, so candidate sets, truth sets
    (``5·|∩| ≥ 4·(|a|+|b|−|∩|)`` — the Jaccard ≥ 0.8 test with no
    floats), and both ratios are engine-exact.

    Plan: one shingle explode → df filter (shuffle on shingle, reused
    by the truth-side intersection counts via the one-shuffle bucket
    pair expansion of :func:`_pairs_within_buckets`) → one 16-column
    min-hash aggregate keyed on doc → per-config band explode and
    capped bucket expansion. Signatures are computed ONCE; each curve
    point reuses them — the curve costs one corpus pass plus three
    band shuffles over signature rows (16 ints/doc), never a second
    pass over text.
    """
    kept, sizes, inter, sig = _shingle_sig_frames(spark, sf_dir)
    sig = sig.localCheckpoint(eager=False)  # 28 band keys read it
    truth = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb")
            ),
            "doc_b",
        )
        .filter(
            5 * F.col("c")
            >= 4 * (F.col("sa") + F.col("sb") - F.col("c"))
        )
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    # ALL 28 band memberships (4+8+16 across the three configs)
    # explode from the signature row in one pass and share ONE
    # (nb, band, key) bucket shuffle + in-row pair expansion — the
    # per-config loop paid three shuffles and three repartitions for
    # identically-shaped work (stage count, not data, dominated it)
    entries = []
    for nb, rpb in LSH_CURVE_CONFIGS:
        for band in range(nb):
            key = F.concat_ws(
                ",",
                *[
                    F.col(f"h{band * rpb + j}")
                    for j in range(rpb)
                ],
            )
            entries.append(
                F.struct(
                    F.lit(nb).alias("nb"),
                    F.lit(band).alias("band"),
                    key.alias("key"),
                )
            )
    btab = sig.select(
        "doc_id", F.explode(F.array(*entries)).alias("bk")
    ).select("doc_id", "bk.nb", "bk.band", "bk.key")
    grouped = (
        btab.groupBy("nb", "band", "key")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(
            (F.size("ids") >= 2) & (F.size("ids") <= MAX_BUCKET_SIZE)
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cand = (
        grouped.select(
            "nb",
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ids"),
                                i + 2,
                                F.greatest(
                                    F.size("ids") - (i + 1), F.lit(0)
                                ),
                            ),
                            lambda y: F.struct(
                                x.alias("doc_a"), y.alias("doc_b")
                            ),
                        ),
                    )
                )
            ).alias("p"),
        )
        .select("nb", "p.doc_a", "p.doc_b")
        .distinct()
    )
    nc = cand.groupBy("nb").agg(F.count("*").alias("n_candidates"))
    tc = (
        cand.join(truth, ["doc_a", "doc_b"])
        .groupBy("nb")
        .agg(F.count("*").alias("n_true_candidates"))
    )
    nt = truth.agg(F.count("*").alias("n_true_pairs"))
    configs = spark.createDataFrame(
        list(LSH_CURVE_CONFIGS), "nb int, rows_per_band int"
    )
    return (
        configs.join(F.broadcast(nc), "nb", "left")
        .join(F.broadcast(tc), "nb", "left")
        .crossJoin(F.broadcast(nt))
        .selectExpr(
            "nb AS n_bands",
            "rows_per_band",
            "CAST(COALESCE(n_candidates, 0) AS BIGINT) AS n_candidates",
            "CAST(COALESCE(n_true_candidates, 0) AS BIGINT)"
            " AS n_true_candidates",
            "CAST(n_true_pairs AS BIGINT) AS n_true_pairs",
            "CAST(CASE WHEN COALESCE(n_candidates, 0) = 0 THEN 0"
            " ELSE COALESCE(n_true_candidates, 0) * 1000000"
            " div n_candidates END AS BIGINT) AS precision_q6",
            "CAST(CASE WHEN n_true_pairs = 0 THEN 0"
            " ELSE COALESCE(n_true_candidates, 0) * 1000000"
            " div n_true_pairs END AS BIGINT) AS recall_q6",
        )
        .orderBy("n_bands")
    )


@register(
    "dedup_cluster_size_histogram",
    oracle="""
    WITH grouped AS (
      SELECT md5(lower(trim(text))) AS fingerprint,
             COUNT(*) AS sz
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT COUNT(*) AS n FROM documents
    )
    SELECT CAST(g.sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(g.sz * COUNT(*) AS BIGINT) AS n_docs,
           CAST(g.sz * COUNT(*) * 1000000 // t.n AS BIGINT)
             AS docs_share_q6
    FROM grouped g, tot t GROUP BY g.sz, t.n
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster size distribution over the exact-dedup
    fingerprint (same normalization as :func:`dedup_exact`) — the
    one-page duplication report every corpus audit starts from:
    cluster_size 1 is unique mass, the tail is template/boilerplate
    mass, and ``Σ n_docs`` telescopes to the corpus (test-pinned
    against dedup_exact itself).

    Plan: the dedup_exact shuffle (hash agg on fingerprint) followed
    by a |distinct sizes|-row re-aggregate and a one-row total
    broadcast — strictly cheaper than dedup_exact's own output at
    every scale; no sort, no window.
    """
    docs = table_wide(spark, sf_dir, "documents")
    grouped = (
        docs.select(
            F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(F.count("*").alias("sz"))
    )
    tot = docs.agg(F.count("*").alias("n"))
    return (
        grouped.groupBy("sz")
        .agg(F.count("*").alias("n_clusters"))
        .crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(sz AS BIGINT) AS cluster_size",
            "CAST(n_clusters AS BIGINT) AS n_clusters",
            "CAST(sz * n_clusters AS BIGINT) AS n_docs",
            "CAST(sz * n_clusters * 1000000 div n AS BIGINT)"
            " AS docs_share_q6",
        )
    )


def _minhash_calibration_sql() -> str:
    matches = " + ".join(
        f"CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END"
        for s in range(LSH_CURVE_HASHES)
    )
    return f"""
    WITH {_shingle_sig_cte()}, scored AS (
      SELECT i.c * 1000000 // (za.sz + zb.sz - i.c) AS exact_q6,
             ({matches}) * 1000000 // {LSH_CURVE_HASHES} AS est_q6
      FROM inter i
      JOIN sizes za ON i.da = za.doc_id
      JOIN sizes zb ON i.db = zb.doc_id
      JOIN sig sa ON i.da = sa.doc_id
      JOIN sig sb ON i.db = sb.doc_id
    )
    SELECT CAST(exact_q6 // 100000 AS INTEGER) AS jaccard_decile,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(abs(est_q6 - exact_q6)) // COUNT(*) AS BIGINT)
             AS mean_abs_err_q6,
           CAST(SUM(est_q6) // COUNT(*) AS BIGINT) AS mean_est_q6,
           CAST(SUM(exact_q6) // COUNT(*) AS BIGINT) AS mean_exact_q6
    FROM scored GROUP BY 1
    """


@register(
    "dedup_minhash_estimate_calibration",
    oracle=_minhash_calibration_sql(),
)
def dedup_minhash_estimate_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Calibration of the 16-lane MinHash Jaccard ESTIMATOR against
    exact Jaccard, bucketed by exact-Jaccard decile — the measurement
    that tells you whether your signature width is adequate before
    you trust the band curve built on it (E[matches/16] = J; the
    per-decile mean absolute error ≈ √(J(1−J)/16) is the binomial
    noise this report makes visible). Pairs = every df-capped-
    shingle-sharing pair (the same closed universe as
    :func:`dedup_lsh_band_tuning_curve`); estimate = matching lanes
    · 1e6 div 16; exact = |∩|·1e6 div |∪|; all integers on both
    engines (lanes compare as fixed-length hex strings).

    Plan: the shared shingle pass + ONE signature aggregate, then the
    candidate-pair frame joins sizes and signatures on doc_id (four
    keyed joins of pair rows against doc-keyed frames — pair-volume
    bound, Σ df² as everywhere in this family) and collapses to ≤ 11
    decile rows. Nothing wider than the pair frame moves.
    """
    kept, sizes, inter, sig = _shingle_sig_frames(spark, sf_dir)
    sig = sig.localCheckpoint(eager=False)  # joined twice (a/b side)
    sig_a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(LSH_CURVE_HASHES)],
    )
    sig_b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(LSH_CURVE_HASHES)],
    )
    matches = " + ".join(
        f"CASE WHEN a{s} = b{s} THEN 1 ELSE 0 END"
        for s in range(LSH_CURVE_HASHES)
    )
    scored = (
        inter.join(
            sizes.select(
                F.col("doc_id").alias("doc_a"), F.col("sz").alias("za")
            ),
            "doc_a",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("doc_b"), F.col("sz").alias("zb")
            ),
            "doc_b",
        )
        .join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .selectExpr(
            "c * 1000000 div (za + zb - c) AS exact_q6",
            f"({matches}) * 1000000 div {LSH_CURVE_HASHES} AS est_q6",
        )
    )
    return scored.groupBy(
        F.expr("CAST(exact_q6 div 100000 AS INT)").alias(
            "jaccard_decile"
        )
    ).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.expr(
            "CAST(SUM(abs(est_q6 - exact_q6)) div COUNT(*) AS BIGINT)"
        ).alias("mean_abs_err_q6"),
        F.expr("CAST(SUM(est_q6) div COUNT(*) AS BIGINT)").alias(
            "mean_est_q6"
        ),
        F.expr("CAST(SUM(exact_q6) div COUNT(*) AS BIGINT)").alias(
            "mean_exact_q6"
        ),
    )


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct({_word_ngrams_sql('w')}) AS toks
      FROM base
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             ROUND(len(list_intersect(a.toks, b.toks))::DOUBLE
                   / len(list_distinct(a.toks || b.toks)), 6) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))::DOUBLE
            / len(list_distinct(a.toks || b.toks)) >= 0.6
    ), tagged AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b,
             {micro_units_sql("p.jaccard")} AS j_q6
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(j_q6) AS BIGINT) AS sum_jaccard_q6
    FROM tagged GROUP BY 1, 2
    """,
)
def dedup_cross_source_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-duplicate FLOW MATRIX between sources — the corpus
    forensics a mixing/licensing review runs: every verified
    word-3-gram Jaccard near-dup pair (the ``dedup_ngram_jaccard``
    engine, reused wholesale — prefix-filtered candidates, capped
    buckets, exact Arrow verification) is tagged with its two
    documents' sources (pair canonically ordered), then aggregated to
    per-(source, source) pair counts and summed q6 similarity. On
    this corpus 24 of 25 near-dup pairs CROSS sources — exactly the
    signal that tells a pipeline its duplicates come from
    inter-source syndication rather than within-source reposts, and
    therefore that per-source dedup would miss almost all of them.

    Plan: the pair frame is the audited near-dup machinery; the
    source tags are two broadcast-size joins back to the (doc_id,
    source) projection; the matrix aggregate is ≤|sources|² groups,
    map-side combined.
    """
    docs = table_wide(spark, sf_dir, "documents")
    pairs = dedup_ngram_jaccard(spark, sf_dir)
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("_sa"),
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("_sb"),
            ),
            "doc_b",
        )
        .select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            micro_units(F.col("jaccard")).alias("j_q6"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum("j_q6").cast("long").alias("sum_jaccard_q6"),
    )


# Content-defined chunking: a chunk boundary closes after word i when
# the md5 of the 3-word window ending at i starts with this prefix —
# P(boundary) = 1/16, expected chunk ≈ 16 words. Content-defined (not
# fixed-size) boundaries are what makes chunk dedup INSERTION-STABLE:
# editing one word reshuffles every fixed-size chunk after it, but
# only the ≤3 windows overlapping the edit here.
CDC_BOUNDARY_PREFIX = "0"
CDC_WINDOW = 3


@register(
    "dedup_cdc_chunks",
    oracle=f"""
    WITH words AS (
      SELECT doc_id, u.pos - 1 AS pos, u.w
      FROM (SELECT doc_id, string_split(text, ' ') AS ws
            FROM documents) d,
           LATERAL (SELECT unnest(generate_series(1, len(ws))) AS pos,
                           unnest(ws) AS w) u
    ), flagged AS (
      SELECT doc_id, pos, w,
             CASE WHEN pos >= {CDC_WINDOW - 1}
                  AND substr(md5(
                        LAG(w, 2) OVER dw || ' ' ||
                        LAG(w, 1) OVER dw || ' ' || w), 1, 1)
                      = '{CDC_BOUNDARY_PREFIX}'
                  THEN 1 ELSE 0 END AS b
      FROM words
      WINDOW dw AS (PARTITION BY doc_id ORDER BY pos)
    ), chunked AS (
      SELECT doc_id, pos, w,
             COALESCE(SUM(b) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS chunk_id
      FROM flagged
    ), chunks AS (
      SELECT doc_id, chunk_id,
             md5(string_agg(w, ' ' ORDER BY pos)) AS fp,
             length(string_agg(w, ' ' ORDER BY pos)) AS chars
      FROM chunked GROUP BY doc_id, chunk_id
    ), per_fp AS (
      SELECT fp, COUNT(*) AS cnt, MIN(chars) AS chars
      FROM chunks GROUP BY fp
    )
    SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_unique_chunks,
           CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT) AS dup_copies,
           CAST(COALESCE(SUM((cnt - 1) * chars), 0) AS BIGINT)
             AS dup_chars
    FROM per_fp
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup census — the STORAGE-dedup
    pattern (LBFS/restic/borg style) restated on token streams: a
    rolling content hash places chunk boundaries (md5 of the 3-word
    window; P=1/16 per position → ~16-word chunks), every chunk is
    fingerprinted, and the census reports how many chunk COPIES a
    chunk-store would never have to keep twice. Against doc-level
    dedup this catches PARTIAL overlap (boilerplate headers, quoted
    paragraphs) that whole-doc fingerprints miss, and unlike
    fixed-size chunking it is insertion-stable — an edit disturbs
    only the windows overlapping it.

    Plan: ONE doc-keyed shuffle carries the whole chunking (the
    sessionization gaps-and-islands shape on token position: lag
    window for the rolling hash, prefix-sum window for chunk ids —
    both share the (doc_id, pos) sort), then chunk texts assemble in
    the same aggregate and only (fp, chars) — never chunk text —
    enters the corpus-wide fingerprint shuffle. At 100 TB both
    shuffles are linear in tokens/chunks with map-side combine; no
    pairwise anything.
    """
    docs = table_wide(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ", -1)).alias("pos", "w"),
    )
    dw = W.partitionBy("doc_id").orderBy("pos")
    shingle = F.concat_ws(
        " ", F.lag("w", 2).over(dw), F.lag("w", 1).over(dw), F.col("w")
    )
    flagged = words.select(
        "doc_id",
        "pos",
        "w",
        F.when(
            (F.col("pos") >= CDC_WINDOW - 1)
            & F.md5(shingle).startswith(CDC_BOUNDARY_PREFIX),
            1,
        )
        .otherwise(0)
        .alias("b"),
    )
    chunked = flagged.select(
        "doc_id",
        "pos",
        "w",
        F.coalesce(
            F.sum("b").over(dw.rowsBetween(W.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("chunk_id"),
    )
    chunk_text = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))),
            lambda s: s["w"],
        ),
        " ",
    )
    chunks = chunked.groupBy("doc_id", "chunk_id").agg(
        F.md5(chunk_text).alias("fp"),
        F.length(chunk_text).alias("chars"),
    )
    per_fp = chunks.groupBy("fp").agg(
        F.count("*").alias("cnt"), F.min("chars").alias("chars")
    )
    return per_fp.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_chunks"),
        F.count("*").cast("long").alias("n_unique_chunks"),
        F.coalesce(F.sum(F.col("cnt") - 1), F.lit(0))
        .cast("long")
        .alias("dup_copies"),
        F.coalesce(F.sum((F.col("cnt") - 1) * F.col("chars")), F.lit(0))
        .cast("long")
        .alias("dup_chars"),
    )
