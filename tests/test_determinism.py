"""Determinism battery — the hash-gate contract, asserted directly.

The driver's correctness gate compares an order-insensitive value
hash against DuckDB; that only works if a query's VALUES are
independent of physical execution. These tests run representative
queries under deliberately different parallelism (shuffle partitions,
input partitioning) and demand bit-identical fingerprints — catching
any accumulation-order float sum, partition-dependent sample, or
nondeterministic tie-break that a single-configuration run can't see.

One representative per risk class:
- float aggregation (decimal/integer-quantized sums): linalg profile,
  centroid means
- iterative algorithms: connected components, PageRank floor
- hash-derived sampling/ranking: stratified sample, negative samples
- window tie-breaks: sessionization, top-k
- Arrow-batched Python kernels: minhash LSH, PCA gram fold
"""

from __future__ import annotations

import re

import pytest

SF_DIR = "/root/testdata/sf0.001"

QUERIES_UNDER_TEST = [
    "emb_dimension_profile",
    "sim_centroid_by_label",
    "connected_components_alternating",
    "graph_pagerank_floor",
    "text_stratified_sample",
    "feat_negative_samples",
    "events_sessionization",
    "sim_bruteforce_topk",
    "dedup_minhash_lsh",
    "emb_pca_power_floor",
    # round-4 additions: double-window rerank, inverted-index
    # multiplicity scoring, rank fusion over a full outer join
    "sim_matryoshka_prefix_floor",
    "dedup_containment",
    "retrieval_hybrid_rrf_topk",
    # round-5 additions: fused IVFPQ local-cut (lexsort tie
    # discipline), window-carried attribution
    "sim_ivfpq_topk",
    "events_attribution_last_touch",
    # TPC-H shape completion: the three whose output passes through a
    # LIMIT cut or a broadcast scalar threshold (the value classes a
    # partitioning change could disturb); the plain group-bys
    # (q7/q8/q9/q12/q20) are covered by the oracle sweep
    "q2_min_cost_supplier",
    "q11_important_parts",
    "q21_waiting_suppliers",
    # weighted histogram-refinement descent (driver-state loop)
    "orders_pareto_concentration",
    # PassJoin segment/probe equi-join candidate scheme
    "dedup_edit_distance_pairs",
    # bounded-domain skyline (broadcast min-threshold semi-join) and
    # the CUSUM argmax LIMIT cut — the value classes a partitioning
    # change could disturb
    "part_skyline_frontier",
    "orders_cusum_changepoint",
    # two-level sweep (hour offsets + synthetic seed points) and the
    # reference-period broadcast cut
    "events_concurrency_profile",
    "events_value_drift_chi2",
    # per-round argmax picks + data-derived edge threshold
    "graph_label_propagation",
    # rank-picked median slope over the pairwise frame
    "orders_theilsen_trend_by_segment",
    # decile rank cut + EXCEPT subtraction
    "customer_decile_churn",
    # two-level session merge (per-day windows + boundary chain)
    "events_sessionization_incremental",
    # two-level bucketed rank pick over the pairwise-diff census and
    # the census median cut + lag chain — the rank-pick value classes
    "orders_hodges_lehmann_shift",
    "orders_runs_test_daily",
    # distributed-prefix-sum rank cut and RANGE-frame credit split
    "customer_abc_classification",
    "events_attribution_linear",
    # supremum argmax over the value census (filter-to-max + MIN) and
    # the data-derived edge threshold feeding fixed-round peels
    "orders_ks_priority_shift",
    "graph_kcore_trajectory",
    # rank-picked in-bucket kNN edges + reciprocal join
    "sim_mutual_knn_pairs",
    # round-7: postings-join phrase top-k (LIMIT-cut value class)
    "retrieval_phrase_index_topk",
    # collected domain-sized chain + driver bigint value iteration
    "events_attribution_removal",
    # per-user sequential token-bucket kernel (applyInPandas)
    "events_rate_limit_audit",
    # sixth-session additions with partition-sensitive value classes:
    # LIMIT cuts (BM25 top-k, link-prediction top-k), rank-window
    # curve points, bucket-expansion + integer-threshold truth sets,
    # RANGE-frame credit split, distributed prefix-sum shard cut
    "retrieval_bm25_rational_topk",
    "sim_ivf_nprobe_recall_curve",
    # learned-quantizer curve: deterministic Lloyd's (integer-q12
    # distances, DECIMAL means) must be partitioning-independent too
    "sim_ivf_kmeans_nprobe_curve",
    # ... and so must the served top-k over the same index (in-probe
    # rank-window cut, ties to the smaller vec_id)
    "sim_ivf_kmeans_topk",
    # SQ8: global per-dim min/max + rank-window cut value classes
    "sim_sq8_topk",
    # IVFSQ8 + threshold sweep: probe-rank cuts and broadcast-scalar
    # share denominators must not depend on input partitioning
    "sim_ivfsq8_recall",
    "text_quality_threshold_curve",
    # global-watermark lateness: the banded prefix max must equal the
    # sequential running max under any input partitioning
    "events_watermark_tradeoff_curve",
    # hash-order rank cut (WindowGroupLimit path)
    "pipeline_stratified_quota_sample",
    # cohort join-back + per-cohort cumulative walk
    "customer_cohort_ltv_curve",
    # shared-window multi-width funnel levels
    "events_funnel_window_curve",
    # deterministic SemDeDup: Lloyd's + top-2 probe + kernel pairs
    "dedup_semantic_clusters_det",
    # bloom sizing: deterministic xxhash counts + driver-assembled rows
    "text_bloom_size_curve",
    # shared lag/lead multi-gap session sweep
    "events_session_gap_curve",
    # near-dup pair machinery + source-pair matrix aggregate
    "dedup_cross_source_matrix",
    # per-key count sweep with DECIMAL-widened ratios
    "events_salt_factor_curve",
    # positioned shingles + broadcast bench-set join
    "text_contamination_span_extent",
    # frequency-rank cut over the vocab frame
    "text_vocab_coverage_curve",
    # global LIMIT cut on the phrase-match ranking
    "retrieval_phrase_match_topk",
    # data-derived edge threshold feeding the degree histogram
    "graph_degree_distribution",
    "dedup_lsh_band_tuning_curve",
    "graph_jaccard_link_prediction",
    "events_attribution_time_decay",
    "mm_shard_manifest",
    # round-8 additions with partition-sensitive value classes:
    # exact order statistic at an integer rank (conformal), LIMIT-cut
    # rankings (collocation lift, kNN vote windows), and the
    # integer-lattice jackknife (loo quantize -> integer bar ->
    # decimal squares must be partitioning-independent)
    "orders_conformal_naive_interval",
    "text_term_lift_topk",
    "sim_knn_loo_label_accuracy",
    "orders_jackknife_mean_ci",
    # round-8 codec closures: integer-exact decode sums must be
    # identical under any partitioning of the asset scan (sub-byte
    # bit unpack, the G.711 table expansion, and the RLE8 opcode
    # walk are per-asset pure functions; the census aggregates are
    # integer sums)
    "mm_png_subbyte_decode_census",
    "mm_wav_g711_decode_census",
    "mm_bmp_rle8_decode_census",
    # round-8 second session: incremental label composition must land
    # on identical component histograms under any partitioning; the
    # compaction cumsum window and the permutation replicate fold are
    # integer-exact; the seasonal means divide exact-int sums in
    # double only at the final FLOOR
    "graph_cc_incremental_batch",
    "pipeline_file_compaction_plan",
    "events_permutation_test",
    "orders_seasonal_decompose_additive",
    # round-9 additions with partition-sensitive value classes: exact
    # ceil-rank order statistics on the value census (QTE), the
    # ROW_NUMBER percentile picks over hash-randomized replicate means
    # (bootstrap), and the census-walk LEAD gap pricing (EMD)
    "events_ab_quantile_effects",
    "orders_bootstrap_mean_ci",
    "orders_value_emd_drift",
    # round-9 distribution censuses: the two-phase distributed global
    # rank (range-partition boundaries move with parallelism — the
    # rank fold must not) and the dense-spine lag self-join
    "customer_spend_gini_lorenz",
    "orders_acf_daily_counts",
    # round-9 association batch: LIMIT-cut rankings over the rule and
    # authority frames (lift/score ties broken by full key)
    "orders_brand_basket_rules",
    "graph_hits_authority_counts",
    # signed-median rank pick over the probe frame + top-k cut
    "events_heavy_hitters_countsketch",
    # LZW dictionary walk is a per-asset pure function; the census
    # is an integer sum (the codec-closure risk class)
    "mm_gif_decode_census",
    # ceil-rank order statistic on the per-brand value census
    "part_newsvendor_stock_level",
    # TIFF strip walk (IFD parse + early-change LZW) is per-asset
    # pure; census integer sums
    "mm_tiff_decode_census",
    # per-occurrence q6 logprob terms folded per doc (model joins
    # must not depend on partitioning)
    "text_bigram_perplexity_filter",
    # per-part dyadic window folds (row_number + lag discipline)
    "part_croston_forecast",
    # global LIMIT cut on the QL ranking
    "retrieval_query_likelihood_topk",
    # Arrow gram fold partials must sum identically under any
    # partitioning (the PCA-gram risk class, traced to PR)
    "emb_effective_rank_pr",
    # ICO directory walk + PNG members, per-asset pure
    "mm_ico_decode_census",
    # frequency-rank window head + quantized OLS folds
    "text_zipf_slope_fit",
]


def fingerprint(df) -> tuple:
    """Order-insensitive value fingerprint, same protocol as the
    driver: columns sorted by name, rows sorted by stringified
    values."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import frame_fingerprint

    rows = [tuple(r) for r in df.collect()]
    digest, n, cols = frame_fingerprint(df.columns, rows)
    return digest, n, tuple(cols)


# ---------------------------------------------------------------------------
# Fragile-value-class invariants (r03 gate lesson): local-PASS does not
# predict driver-PASS for value classes whose canonical byte form can
# legitimately differ across engine versions. These greps pin the
# repo-wide bans so the next fragile output is caught at commit time,
# not by the driver.
# ---------------------------------------------------------------------------

# timestamp-typed columns of the events table (and their aggregates) —
# a rendered timestamp hashes differently across engines whenever the
# source parquet precision or the engine's fractional-second formatting
# differs; registered queries must emit INTEGER epoch micros instead
_TS_COLS = r"(?:[a-z]\d?\.)?(?:matched_ts|last_seen|last_ts|max_ts|r_ts|ts)"
_TS_VARCHAR_RE = re.compile(
    rf"CAST\(\s*(?:MIN\(|MAX\(|LAG\(|LEAD\(|FIRST\(|LAST\()?\s*{_TS_COLS}"
    rf"\s*\)?\s+AS\s+VARCHAR\s*\)",
    re.IGNORECASE,
)

# ROUND(x, n) over a non-IEEE-exact or iteration-order-sensitive
# double: ln/log/exp are correctly rounded in NEITHER engine (libm vs
# JVM differ by ulps on the same input), and stddev/var aggregate
# summation is partition-order-sensitive — so the value under the
# ROUND is not even bit-identical across engines before the rounding
# rule applies. Quantize an exactly-derived value to an integer
# (floor(x·10^k + 0.5) AS BIGINT) instead. sqrt is exempt: IEEE-754
# requires it correctly rounded, so sqrt of a deterministic double is
# bit-identical everywhere (the cosine family relies on this).
_ROUND_TRANSCENDENTAL_RE = re.compile(
    r"ROUND\([^;]{0,200}?(?:stddev|var_pop|var_samp|ln\(|log\(|exp\()",
    re.IGNORECASE,
)


def test_no_timestamp_varchar_casts_in_oracles():
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    bad = {
        name: _TS_VARCHAR_RE.search(sql).group(0)
        for name, sql in plans.ORACLES.items()
        if _TS_VARCHAR_RE.search(sql)
    }
    assert not bad, f"timestamp->VARCHAR casts in oracles: {bad}"


def test_no_rounded_transcendentals_in_oracles():
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    bad = {
        name: _ROUND_TRANSCENDENTAL_RE.search(sql).group(0)[:60]
        for name, sql in plans.ORACLES.items()
        if _ROUND_TRANSCENDENTAL_RE.search(sql)
    }
    assert not bad, f"ROUND over transcendental in oracles: {bad}"


# ROUND over an aggregate sum/count/avg (decimal→double casts of sums,
# float-division ratios): the value under the ROUND depends on a
# division or a widening cast whose last-ulp byte form is engine-
# sensitive, and Spark's HALF_UP-over-exact-BigDecimal vs DuckDB's
# multiply-based rounding can split on representational ties. The
# house recipe is an all-integer quantization instead:
# ``(x·10^k) div y`` (DECIMAL(38,0)/HUGEINT-widened products), or
# exact integer cents ``FLOOR(dec·100 + 0.5)``.
#
# Explicit exemptions (each must be driver-proven green):
# - the cosine/Jaccard similarity families (args contain list_reduce/
#   list_zip/list_intersect): ROUND(…,6) over IEEE-exact dot/sqrt
#   arithmetic, green in every driver gate run since r01
# - sim_centroid_by_label: converted to all-integer q12 in round 7
#   (rotation window) — exemption retired
# - emb_label_margin_audit: inline exact centroid recipe
#   (DECIMAL(30,15) sum — order-independent — cast once to double,
#   one IEEE-exact division, ROUND 12); the margins built ON the
#   centroids are quantized to q6 integers before any further
#   aggregation, which is what this invariant exists to check
_ROUND_AGG_EXEMPT = {
    "emb_label_margin_audit",
    # deterministic-Lloyd centroid means: DECIMAL(30,15) sums are
    # order-independent and exact; divide-by-count + ROUND 12 is the
    # proven margin-audit recipe, not a float-aggregate ratio
    "sim_ivf_kmeans_nprobe_curve",
    "sim_ivf_kmeans_topk",  # the curve's chain, at IVF_NPROBE
    "sim_ivf_kmeans_bucket_balance",
    "dedup_semantic_clusters_det",
    "customer_rfm_kmeans_segments",  # same Lloyd centroid-mean chain
    "customer_rfm_kmeans_elbow_curve",  # same Lloyd chain, 3 k arms
}


def _round_call_args(sql: str):
    """Balanced-paren extraction of every ROUND(...) argument list."""
    for m in re.finditer(r"ROUND\s*\(", sql, re.IGNORECASE):
        i, depth, start = m.end(), 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        yield sql[start : i - 1]


def test_no_rounded_aggregate_ratios_in_oracles():
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    bad = {}
    for name, sql in plans.ORACLES.items():
        if name in _ROUND_AGG_EXEMPT:
            continue
        for arg in _round_call_args(sql):
            low = arg.lower()
            if (
                "list_reduce" in low
                or "list_zip" in low
                or "list_intersect" in low
            ):
                continue  # cosine/Jaccard families (IEEE-exact)
            if re.search(r"\b(sum|count|avg)\s*\(", low):
                bad.setdefault(name, []).append(
                    " ".join(arg.split())[:70]
                )
    assert not bad, (
        "ROUND over aggregate division/sum in oracles (use the"
        f" all-integer _q6 / cents recipes instead): {bad}"
    )


def test_no_timestamp_to_string_casts_in_spark_outputs(spark):
    """Analyzer-level twin of the oracle grep: build every registered
    events-family DataFrame and assert no ts-named column is cast to
    string anywhere in its analyzed plan, and no TimestampType column
    reaches an output schema."""
    import re as _re

    from pyspark.sql.types import TimestampNTZType, TimestampType

    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    cast_re = _re.compile(
        r"cast\((?:matched_ts|last_seen|last_ts|max_ts|r_ts|ts)#\d+ as string\)"
    )
    bad_casts, bad_types = {}, {}
    for name, fn in plans.QUERIES.items():
        if "events" not in name:
            continue
        df = fn(spark, SF_DIR)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        m = cast_re.search(analyzed)
        if m:
            bad_casts[name] = m.group(0)
        ts_out = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (TimestampType, TimestampNTZType))
        ]
        if ts_out:
            bad_types[name] = ts_out
    assert not bad_casts, f"ts->string casts in analyzed plans: {bad_casts}"
    assert not bad_types, f"timestamp-typed output columns: {bad_types}"


@pytest.mark.parametrize("name", QUERIES_UNDER_TEST)
def test_query_value_set_is_partitioning_independent(spark, name):
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    fn = plans.QUERIES[name]

    spark.conf.set("spark.sql.shuffle.partitions", "32")
    base = fingerprint(fn(spark, SF_DIR))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = fingerprint(fn(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert base == alt, (
        f"{name}: value fingerprint changed with shuffle partitioning"
    )
