"""Degenerate-corpus battery: every table EMPTY, and every table with
a SINGLE (referentially dangling) row.

At 100 TB these shapes are routine, not exotic: a fully-filtered
partition, a brand-new tenant, a backfill day with one record. Every
operator must agree with the oracle on them — no uncaught
``collect()[0]``, no KMeans fit on zero points, no div-by-zero when a
feature is constant, no NULL-vs-0 drift between engines.

The full registry is swept by ``tools/check_oracle.py`` over
``tools/make_degenerate_testdata.py``'s output (round-5 session 5:
35 failures found, 29 fixed — the six survivors are frozen gate-slot
queries whose oracles cannot change until the driver gate re-runs);
this battery pins the FIXED set plus family representatives so the
repairs cannot regress silently.
"""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, "/root/repo/tools")

SRC_SF = "/root/testdata/sf0.001"

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Queries repaired by the degenerate sweep (empty and/or singleton),
# plus a spread of always-green family representatives.
BATTERY = [
    # repaired: crashes
    "orders_pareto_concentration",
    "text_bpe_train_floor",
    "feat_price_minmax_scale",
    "feat_price_drift_bins",
    "orders_spearman_daily",
    # repaired: NULL-vs-0 / row-presence semantics
    "feat_price_winsorize_census",
    "referential_integrity_audit",
    "events_weekly_autocorr",
    "orders_kendall_tau_daily",
    "orders_hodges_lehmann_shift",
    "revenue_rollup_hierarchy",
    "pipeline_zorder_layout",
    "events_attribution_removal",
    "dedup_minhash_calibration",
    "emb_covariance_block",
    "sim_matryoshka_prefix_floor",
    "lineitem_profile_approx_floor",
    "corpus_data_contract",
    # round-9 degenerate repairs: empty-cohort EMD, p_e=1 kappa
    "orders_value_emd_drift",
    "text_langid_agreement_kappa",
    # always-green representatives (one per family)
    "q1_pricing_summary",
    "dedup_exact",
    "events_sessionization",
    "text_token_count",
    "orders_ks_priority_shift",
    "events_rate_limit_audit",
    # round-8 repairs: zero-variance / single-group denominators found
    # by this sweep over the new experimentation family (theta, the
    # leave-one-out mean, and the adjusted lift all NULL-guard now)
    "events_cuped_adjustment",
    "events_cuped_adjusted_lift",
    "orders_jackknife_mean_ci",
    # round-8 always-green additions (one per new family)
    "events_did_estimator",
    "orders_conformal_naive_interval",
    "privacy_t_closeness_census",
    "text_langid_eval_census",
    "lineitem_column_profile_approx",
    # round-8 second session: checkpoint spines and broadcast scalar
    # totals must agree with the oracle on empty/dangling corpora
    # (empty curves, NULL-observed permutation, sub-13-month empty
    # decomposition, edge-less CC, zero-source advisor)
    "text_heaps_vocab_growth",
    "events_permutation_test",
    "pipeline_file_compaction_plan",
    "orders_seasonal_decompose_additive",
    "graph_cc_incremental_batch",
    "events_props_schema_census",
    "pipeline_repeat_epochs_advisor",
    "mm_wav_ms_adpcm_decode_census",
    # a census with a string key: the decode kernel's empty batch
    # must still carry the declared string column
    "mm_wav_g711_decode_census",
    # round-9 continuation: all-zero-spend Gini (guarded s0=0),
    # pair-less ACF, empty basket/HITS frames, single-token Yule
    # guards
    "customer_spend_gini_lorenz",
    "orders_acf_daily_counts",
    "orders_brand_basket_rules",
    "graph_hits_authority_counts",
    "text_yule_k_census",
    # sub-24-month corpora emit 0 rows on both engines (the n>=2m
    # guard); the CS lattice collapses to tiny frames
    "orders_holt_winters_seasonal",
    "events_heavy_hitters_countsketch",
    # entropy guards (k<2 → 0), empty newsvendor census → 0 rows
    "events_type_entropy_census",
    "part_newsvendor_stock_level",
    # empty corpus → 0 rows; single-doc scores still well-defined
    "text_bigram_perplexity_filter",
    # empty orders → empty spine → 0 spectrum rows
    "orders_weekday_spectrum",
    # single/no demand events → excluded → 0 rows
    "part_croston_forecast",
    # empty/singleton streams score nobody (1-row zero census)
    "events_bot_regularity_census",
    # empty customer table → 0 histogram cells
    "privacy_dp_noisy_histogram",
    # single-year / empty corpora yield no index row
    "orders_price_index_fisher",
    # no query-term occurrences → empty cf frame → 0 rows
    "retrieval_query_likelihood_topk",
    # n<2 / zero-frobenius embedding corpora guard to pr=0
    "emb_effective_rank_pr",
    # no transitions → H=0, branching 1e6 on both engines
    "events_markov_entropy_rate",
    # k<2 / zero-variance vocab guards to 0
    "text_zipf_slope_fit",
    # empty stream → 0 days, decision none
    "events_sprt_click_rate_walk",
    # zero-user corpus → zero sums, mean guard
    "privacy_dp_clipped_mean",
    # empty corpus → no centroids; one vector → no neighbor but itself
    "sim_ivf_kmeans_topk",
    # the recall harness's zero-denominator branch (n_exact = 0: recall
    # 0, vacuously-met floor) and the list-balance twins on no/one list
    "sim_sq8_recall",
    "sim_ivfsq8_recall",
    "sim_ivf_nprobe_recall_curve",
    "sim_ivf_kmeans_nprobe_curve",
    "sim_ivf_bucket_balance",
    "sim_ivf_kmeans_bucket_balance",
    "sim_ivf_recall_floor",
    "sim_ivfpq_recall_floor",
    # the rest of the experiment kernel's rows (moment fold, period
    # split, per-user totals, cohort pivot) on no/one event
    "events_anomaly_zscore",
    "events_ab_cohort_compare",
    "events_anomaly_threshold_curve",
    "events_ab_sample_size_chebyshev",
    "events_uplift_by_band",
    "events_ab_quantile_effects",
    "events_ab_power_mde",
    "events_ab_srm_check",
]

# Rows-only repaired queries (no oracle): crash-freedom is the pin.
ROWS_ONLY_BATTERY = [
    "dedup_semantic_clusters",
    "sim_pq_topk",
    "sim_pq_recall",
    "sim_pq_reconstruction",
    "sim_ivfpq_topk",
    "sim_ivf_recall",
]


@pytest.fixture(scope="module")
def degenerate_dirs(tmp_path_factory):
    # one builder (tools/make_degenerate_testdata.py), not a copy of
    # its slice-and-write loop — table-list or schema fixes there
    # reach this fixture automatically
    from make_degenerate_testdata import build

    root = tmp_path_factory.mktemp("degenerate")
    build(SRC_SF, root)
    return {"empty": str(root / "empty"), "single": str(root / "single")}


def _compare(spark, sf_dir, name):
    import duckdb

    from check_oracle import frame_fingerprint

    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    sdf = plans.QUERIES[name](spark, sf_dir)
    s_fp = frame_fingerprint(
        sdf.columns, [tuple(r) for r in sdf.collect()]
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS"
            f" SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(plans.ORACLES[name])
    cols = [d[0] for d in cur.description]
    d_fp = frame_fingerprint(cols, cur.fetchall())
    assert s_fp == d_fp, f"{name} diverges on degenerate corpus"


@pytest.mark.parametrize("variant", ["empty", "single"])
def test_degenerate_corpus_matches_oracle(spark, degenerate_dirs, variant):
    for name in BATTERY:
        _compare(spark, degenerate_dirs[variant], name)


@pytest.mark.parametrize("variant", ["empty", "single"])
def test_degenerate_corpus_rows_only_no_crash(
    spark, degenerate_dirs, variant
):
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    for name in ROWS_ONLY_BATTERY:
        # must run to completion; empty corpus must yield zero rows
        rows = plans.QUERIES[name](
            spark, degenerate_dirs[variant]
        ).collect()
        if variant == "empty":
            assert rows == [], name
