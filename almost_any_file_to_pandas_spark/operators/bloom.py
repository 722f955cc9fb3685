"""Bloom-filter benchmark decontamination — the constant-memory
prefilter for contamination checks at corpus scale (reference scope:
none — extension surface).

:func:`~almost_any_file_to_pandas_spark.operators.textstats.
text_contamination_ngram` joins corpus shingles against benchmark
shingles directly. That is exact, but the benchmark side must be
broadcast as a hash relation of full shingle strings. The production
pattern at 100 TB replaces it with a **Bloom filter**: the benchmark's
shingle set compresses to a fixed ``BLOOM_BITS``-bit array (128 KiB
here) that ships to every executor once; corpus shingles probe it with
k hashes and only the (rare) candidates proceed to the exact join.
False positives cost a little wasted verification; false negatives are
impossible — which is exactly the hash-checkable property below.

Stage shapes:
- **Build** (bounded): benchmark shingles → k hash positions JVM-side
  (``xxhash64``) → distinct positions → driver collect (≤ BLOOM_BITS
  values — constant in corpus size, like a quantizer codebook) →
  packed numpy bitset, captured by the probe UDF's closure (~128 KiB
  serialized once per executor).
- **Probe** (narrow): corpus shingles → the same k positions JVM-side
  → one Arrow-batched pandas UDF doing fully vectorized bit tests —
  no Python-side hashing, no shuffle until the per-doc aggregate.
- **Property**: exact contaminated docs MUST all be Bloom candidates
  (no false negatives). The emitted boolean states it; the oracle
  (which can compute the exact side in SQL) pins it TRUE.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.operators.textstats import (
    CONTAM_BENCH_MOD,
    CONTAM_NGRAM,
)
from almost_any_file_to_pandas_spark.plans import register, table, table_wide

BLOOM_BITS = 1 << 20  # 128 KiB bitset
BLOOM_K = 3  # hash probes per shingle


def _positions(col, bits: int = BLOOM_BITS):
    """k xxhash64 bit positions for a shingle, as k separate columns
    (separate columns, not an array, so the probe UDF stays fully
    vectorized)."""
    return [
        F.pmod(
            F.xxhash64(F.concat(col, F.lit(f"#{i}"))), F.lit(bits)
        ).alias(f"p{i}")
        for i in range(BLOOM_K)
    ]


def _shingles(docs: DataFrame) -> DataFrame:
    from almost_any_file_to_pandas_spark.operators.dedup import _word_ngrams

    toks = F.split(F.col("text"), " ", -1)
    return docs.select(
        "doc_id", F.explode(_word_ngrams(toks, CONTAM_NGRAM)).alias("s")
    )


def build_bloom_bits(
    bench_shingles: DataFrame, nbits: int = BLOOM_BITS
) -> np.ndarray:
    """Packed uint8 bitset of the benchmark shingle set. The collect
    is bounded by the bitset's distinct positions regardless of corpus
    size — an index-build step, not a data-path materialization."""
    pos_rows = (
        bench_shingles.select(
            F.explode(F.array(*_positions(F.col("s"), nbits))).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = np.zeros(nbits // 8, dtype=np.uint8)
    a = np.array([r["p"] for r in pos_rows], dtype=np.int64)
    if len(a):
        np.bitwise_or.at(bits, a >> 3, (1 << (a & 7)).astype(np.uint8))
    return bits


def _make_probe(bits: np.ndarray):
    @F.pandas_udf("boolean")
    def probe(p0: pd.Series, p1: pd.Series, p2: pd.Series) -> pd.Series:
        def hit(p: pd.Series) -> np.ndarray:
            a = p.to_numpy(dtype=np.int64)
            return (bits[a >> 3] >> (a & 7)) & 1

        return pd.Series((hit(p0) & hit(p1) & hit(p2)).astype(bool))

    return probe


@register(
    "text_contamination_bloom",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - {CONTAM_NGRAM - 1}, 0) + 1),
               i -> array_to_string(w[i:i+{CONTAM_NGRAM - 1}], ' ')))) AS s
      FROM base
    ), bench AS (
      SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % {CONTAM_BENCH_MOD} = 0
    )
    SELECT COUNT(DISTINCT t.doc_id) AS n_exact_contaminated,
           TRUE AS bloom_superset
    FROM sh t JOIN bench b ON t.s = b.s AND t.doc_id <> b.bench_id
    """,
)
def text_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination, property-checked: one row
    with the exact contaminated-doc count (oracle recomputes it in
    SQL) and the engine's claim that every exact hit was also a Bloom
    candidate — a false negative would flip the boolean and turn the
    driver's hash gate red."""
    docs = table_wide(spark, sf_dir, "documents")
    # The shingle explosion is an interpreted higher-order expression
    # (CPU-heavy, no codegen) and BOTH frames are consumed more than
    # once (corpus: bloom probe + exact join; benchmark: bitset build
    # + verification join). localCheckpoint materializes each ONCE so
    # the lambda runs one time per row instead of twice — the same
    # share-the-expensive-lineage discipline as the minhash verify
    # stage. At 100 TB the corpus-side checkpoint trades local-disk
    # spill for recompute; with the explosion costing multiple
    # interpreter cycles per token, materialize-once wins whenever
    # shuffle disk is provisioned for the shuffle the join does anyway.
    sh = _shingles(docs).localCheckpoint(eager=True)
    # Build from a scan filtered BEFORE shingle explosion: the index
    # job touches 1/CONTAM_BENCH_MOD of the corpus, not a post-explode
    # filter over all of it (pushdown would get there too; stating it
    # keeps the build O(benchmark) by construction).
    bench = _shingles(
        docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    ).localCheckpoint(eager=True)

    bits = build_bloom_bits(bench)
    probe = _make_probe(bits)
    flagged = sh.select(
        "doc_id", "s", *_positions(F.col("s"))
    ).withColumn("bloom_hit", probe(F.col("p0"), F.col("p1"), F.col("p2")))
    candidates = (
        flagged.filter(F.col("bloom_hit"))
        .select("doc_id")
        .distinct()
    )

    bench_keyed = bench.select(F.col("doc_id").alias("bench_id"), "s")
    exact_docs = (
        sh.join(F.broadcast(bench_keyed), "s")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .select("doc_id")
        .distinct()
    )
    n_exact = exact_docs.agg(
        F.count("*").alias("n_exact_contaminated")
    )
    missed = exact_docs.join(candidates, "doc_id", "left_anti").agg(
        F.count("*").alias("_n_missed")
    )
    return n_exact.crossJoin(missed).select(
        "n_exact_contaminated",
        (F.col("_n_missed") == 0).alias("bloom_superset"),
    )


# bitset sizes for the sizing curve: 8 KiB / 128 KiB / 2 MiB
BLOOM_SIZE_CURVE_BITS = (1 << 16, 1 << 20, 1 << 24)


@register(
    "text_bloom_size_curve",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(w) - {CONTAM_NGRAM - 1}, 0) + 1),
               i -> array_to_string(w[i:i+{CONTAM_NGRAM - 1}], ' ')))) AS s
      FROM base
    ), bench AS (
      SELECT doc_id AS bench_id, s FROM sh
      WHERE doc_id % {CONTAM_BENCH_MOD} = 0
    ), exact AS (
      SELECT COUNT(DISTINCT t.doc_id) AS n_exact_contaminated
      FROM sh t JOIN bench b ON t.s = b.s AND t.doc_id <> b.bench_id
    )
    SELECT CAST(m.bloom_bits AS BIGINT) AS bloom_bits,
           e.n_exact_contaminated,
           TRUE AS bloom_superset,
           TRUE AS fpr_within_bound
    FROM (VALUES {', '.join(f'({v})' for v in BLOOM_SIZE_CURVE_BITS)})
         m(bloom_bits), exact e
    """,
)
def text_bloom_size_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-bitset SIZING curve — the sketch-memory knob priced like
    the HLL rsd curve: for each candidate bitset size (8 KiB / 128 KiB
    / 2 MiB), one row with the exact contaminated-doc count (the
    oracle recomputes it in SQL), the no-false-negative claim, and the
    claim that the measured shingle-level false-positive rate is
    within 2× the design bound (1 − e^(−kn/m))^k for k={BLOOM_K}
    hashes, n benchmark shingles, m bits. An undersized filter
    passes too — its bound just predicts a high FPR; what the boolean
    catches is a filter whose hashing is broken or biased, which
    overshoots the bound at ANY size.

    Plan (r9 optimization, guide §4.1/§2.3): shingles explode ONCE
    (localCheckpoint, shared); each size builds its bounded bitset
    (≤ m distinct positions collected — index-build class), then ALL
    THREE sizes probe in ONE corpus pass: the k raw xxhash64 values
    are computed once JVM-side, a single Arrow UDF masks them against
    all three bitsets at once (the sizes are powers of two, so the
    position is ``hash & (m−1)``, bit-identical to ``pmod``), and one
    fused aggregate produces every per-size statistic — n_fp per
    size, the shared non-member denominator, and the per-size count
    of exact-contaminated docs with a hit (so ``n_missed = n_exact −
    n_hit``). The loop's 2 corpus passes PER SIZE (probe+stats, then
    probe+distinct+anti-join) collapse from 6 to 1. At 100 TB the
    curve tells you the cheapest m whose verification-join traffic
    (FPR × corpus shingles) fits the budget — measured, not assumed.
    """
    import math

    docs = table_wide(spark, sf_dir, "documents")
    sh = _shingles(docs).localCheckpoint(eager=True)
    bench = _shingles(
        docs.filter(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
    ).localCheckpoint(eager=True)

    bench_keyed = bench.select(F.col("doc_id").alias("bench_id"), "s")
    exact_docs = (
        sh.join(F.broadcast(bench_keyed), "s")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .select("doc_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_exact = exact_docs.count()  # bounded scalar, reused per size
    # membership set for the FPR denominator: bench docs are part of
    # the corpus, so the bench shingle set IS the member set (a
    # corpus-side semi-join would recompute the same frame the
    # expensive way); loop-invariant — materialized once
    member = bench.select("s").distinct().localCheckpoint(eager=True)
    n_bench = member.count()

    all_bits = [build_bloom_bits(bench, m) for m in BLOOM_SIZE_CURVE_BITS]
    masks = [m - 1 for m in BLOOM_SIZE_CURVE_BITS]

    def _probe_all(
        h0: pd.Series, h1: pd.Series, h2: pd.Series
    ) -> pd.DataFrame:
        hs = [h.to_numpy(dtype=np.int64) for h in (h0, h1, h2)]

        def hit(bits: np.ndarray, mask: int) -> np.ndarray:
            out = np.ones(len(hs[0]), dtype=bool)
            for h in hs:
                a = h & mask
                out &= ((bits[a >> 3] >> (a & 7)) & 1).astype(bool)
            return out

        return pd.DataFrame(
            {
                f"hit{j}": hit(all_bits[j], masks[j])
                for j in range(len(all_bits))
            }
        )

    probe_all = F.pandas_udf(
        _probe_all,
        "hit0 boolean, hit1 boolean, hit2 boolean",
    )
    hashes = [
        F.xxhash64(F.concat(F.col("s"), F.lit(f"#{i}"))).alias(f"h{i}")
        for i in range(BLOOM_K)
    ]
    flagged = sh.select("doc_id", "s", *hashes).withColumn(
        "hits", probe_all(F.col("h0"), F.col("h1"), F.col("h2"))
    )
    exact_marked = exact_docs.withColumn("_e", F.lit(1))
    stats = (
        flagged.join(
            F.broadcast(member.withColumn("_m", F.lit(1))), "s", "left"
        )
        .join(F.broadcast(exact_marked), "doc_id", "left")
        .agg(
            F.count_if(F.col("_m").isNull()).alias("n_nonmember"),
            *[
                F.count_if(
                    F.col("hits")[f"hit{j}"] & F.col("_m").isNull()
                ).alias(f"n_fp{j}")
                for j in range(len(all_bits))
            ],
            *[
                F.countDistinct(
                    F.when(
                        F.col("hits")[f"hit{j}"]
                        & F.col("_e").isNotNull(),
                        F.col("doc_id"),
                    )
                ).alias(f"n_hit_exact{j}")
                for j in range(len(all_bits))
            ],
        )
        .first()
    )

    rows = []
    for j, m in enumerate(BLOOM_SIZE_CURVE_BITS):
        n_missed = n_exact - stats[f"n_hit_exact{j}"]
        design = (1.0 - math.exp(-BLOOM_K * n_bench / m)) ** BLOOM_K
        nn = stats["n_nonmember"]
        fpr = stats[f"n_fp{j}"] / nn if nn else 0.0
        # r6 ADVICE hardening: the oracle pins this boolean TRUE, so a
        # correct filter must not be falsifiable by honest sampling
        # noise — on top of the 2× design margin, allow the binomial
        # 3σ band plus a small-sample absolute slack (10/n). A filter
        # with broken/biased hashing overshoots by orders of
        # magnitude, which this still catches; a tiny non-member pool
        # (degenerate corpora) can no longer trip it.
        slack = (
            3.0 * math.sqrt(design * (1.0 - design) / nn) + 10.0 / nn
            if nn
            else 0.0
        )
        rows.append(
            (
                m,
                n_exact,
                n_missed == 0,
                fpr <= 2.0 * design + slack + 1e-12,
            )
        )
    return spark.createDataFrame(
        rows,
        "bloom_bits long, n_exact_contaminated long,"
        " bloom_superset boolean, fpr_within_bound boolean",
    )
