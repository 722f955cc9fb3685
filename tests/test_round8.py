"""Round-8 regression + plan tests.

Covers the r7 ADVICE fixes (RFM datediff overflow under ANSI mode,
the exact-Shapley >8-channel guard) and the r7 verdict #3 approx
profile/advisor twins (Expand-free HLL plans, tolerance booleans).
"""

from __future__ import annotations

import datetime

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _queries():
    import __spark_entry__ as entrymod

    return entrymod.queries()


@pytest.fixture()
def long_span_orders_dir(spark, tmp_path):
    """Orders spanning 2405 days (the standard TPC-H 1992-01-01 →
    1998-08-02 span): max recency r_days >= 2148 overflows a 32-bit
    r_days * 1000000 under Spark-4 ANSI mode — the r7 ADVICE medium
    finding. 60 customers, deterministic dates/prices."""
    base = datetime.date(1992, 1, 1)
    rows = []
    for ok in range(300):
        cust = ok % 60 + 1
        # customer 1 orders ONLY on day 0 -> recency = full 2405 days
        day = 0 if cust == 1 else (ok * 97) % 2405
        rows.append(
            (
                ok,
                cust,
                base + datetime.timedelta(days=day),
                1000.0 + (ok % 37) * 13.25,
            )
        )
    # one order pinned at the span end so gmax is exactly day 2405
    rows.append((999, 60, base + datetime.timedelta(days=2405), 500.0))
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    return str(tmp_path)


def test_rfm_kmeans_survives_tpch_date_span(spark, long_span_orders_dir):
    """r7 ADVICE (medium): r_days * 1000000 on IntegerType datediff
    throws ARITHMETIC_OVERFLOW once max recency >= 2148 days. The
    widened BIGINT feature build must survive the full 2405-day
    TPC-H span on both the segments and elbow-curve queries."""
    qs = _queries()
    seg = qs["customer_rfm_kmeans_segments"](spark, long_span_orders_dir)
    rows = seg.collect()
    assert rows and sum(r.n_customers for r in rows) == 60
    elbow = qs["customer_rfm_kmeans_elbow_curve"](
        spark, long_span_orders_dir
    )
    erows = elbow.collect()
    assert {r.k for r in erows} == {2, 4, 8}
    assert all(r.n_points == 60 for r in erows)


@pytest.fixture()
def many_channel_events_dir(spark, tmp_path):
    """Events with 9 distinct non-purchase channel types plus
    converting purchases — past the exact-Shapley 8-channel cap."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 13):
        for i in range(9):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(minutes=eid),
                    u,
                    f"ch{i}",
                    1.0,
                    None,
                )
            )
            eid += 1
        rows.append(
            (
                eid,
                base + datetime.timedelta(minutes=eid),
                u,
                "purchase",
                9.0,
                None,
            )
        )
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_shapley_guards_channel_domain_cap(spark, many_channel_events_dir):
    """r7 ADVICE: past 8 channels the factorial CASE (no ELSE arm)
    would NULL every shapley_q6 silently while the 2^n lattice blows
    up. The guard must raise loudly instead."""
    qs = _queries()
    with pytest.raises(ValueError, match="channel domain at 8"):
        qs["events_attribution_shapley"](spark, many_channel_events_dir)


def test_shapley_still_runs_at_cap_minus(spark):
    """The guard must not fire on the real domain (~4 channels)."""
    qs = _queries()
    rows = qs["events_attribution_shapley"](spark, SF_DIR).collect()
    assert rows and all(r.shapley_q6 is not None for r in rows)


def test_profile_approx_frame_no_expand_one_scan(spark):
    """r7 verdict #3: the production approx profile must be ONE scan
    + ONE hash aggregate with NO multi-distinct Expand (the exact
    profile's only data-proportional term)."""
    from almost_any_file_to_pandas_spark.plans import table
    from almost_any_file_to_pandas_spark.plans.relational import (
        column_profile_approx_frame,
    )

    df = column_profile_approx_frame(table(spark, SF_DIR, "lineitem"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan


def test_profile_approx_registered_row_within_tol(spark):
    """The registered verification row pins every column's HLL
    estimate within tolerance of exact, and carries the exact
    count/null/min/max columns of the drop-in profile."""
    qs = _queries()
    rows = qs["lineitem_column_profile_approx"](spark, SF_DIR).collect()
    assert len(rows) == 5
    assert all(r.ndv_within_tol for r in rows)
    exact = {
        r.col: r
        for r in qs["lineitem_column_profile"](spark, SF_DIR).collect()
    }
    for r in rows:
        e = exact[r.col]
        assert (r.n_rows, r.n_nulls) == (e.n_rows, e.n_nulls)
        assert (r.min_value, r.max_value) == (e.min_value, e.max_value)


def test_encoding_advisor_approx_single_anchor_expand(spark):
    """The approx advisor's HLL sketches ride the SAME hash aggregate
    as the run sums (no Expand there); the only Expand in the plan is
    the exact-NDV verification anchor — exactly one."""
    qs = _queries()
    df = qs["lineitem_encoding_advisor_approx"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert "CartesianProduct" not in plan
    rows = df.collect()
    assert all(r.ndv_within_tol for r in rows)
    exact = {
        r.column_name: r.encoding
        for r in qs["lineitem_encoding_advisor"](spark, SF_DIR).collect()
    }
    for r in rows:
        assert r.encoding == exact[r.column_name]


def test_png_rgb_roundtrip_all_filters():
    """r7 verdict #4: the bpp-3 generalization must reconstruct the
    exact RGB gradient through every spec filter (synth_png_rgb
    forward-filters row y with type y % 5, so h >= 5 covers all
    five), and the remaining Pillow gate (palette / alpha / 16-bit)
    must still raise."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        PNG_SIGNATURE,
        decode_png,
        synth_png,
        synth_png_rgb,
    )

    for w, h in [(1, 1), (3, 2), (6, 7), (16, 8)]:
        blob = synth_png_rgb(w, h)
        dw, dh, px = decode_png(blob)
        assert (dw, dh) == (w, h)
        expect = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in ((x + y) % 256, (2 * x + y) % 256, (x + 3 * y) % 256)
        )
        assert px == expect, f"{w}x{h}"
    # grayscale path unchanged by the generalization
    _, _, gpx = decode_png(synth_png(4, 3))
    assert list(gpx) == [(x + y) % 256 for y in range(3) for x in range(4)]

    import zlib

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    # every byte-aligned baseline color type is implemented by the
    # end of round 8; the honest gate is sub-byte bit depths (packed
    # scanlines) and 16-bit color — pinned in the gate-matrix test


def test_png_rgb_census_matches_closed_form(spark):
    """The registered RGB census equals the oracle's closed-form
    channel sums at test SF (the gate pins it at sf0.01 too)."""
    qs = _queries()
    rows = qs["mm_png_rgb_decode_census"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        w, h = r.width, r.height
        sx, sy = w * (w - 1) // 2, h * (h - 1) // 2
        assert r.sum_r == r.n_images * (h * sx + w * sy)
        assert r.sum_g == r.n_images * (2 * h * sx + w * sy)
        assert r.sum_b == r.n_images * (h * sx + 3 * w * sy)


@pytest.fixture()
def cuped_perfect_corr_dir(spark, tmp_path):
    """Events where each user's post-period sum is EXACTLY twice the
    pre-period sum: theta = 2, corr^2 = 1 (full variance reduction).
    Period boundary = integer midpoint of the epoch-us range, so pre
    events sit in hour 0 and post events in hour 48 (midpoint: 24h).
    """
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for u in range(1, 41):
        pre = float(u)  # pre-period sum = u
        rows.append((eid, base, u, "view", pre, None))
        eid += 1
        # post-period sum = 2u, split over two events
        for frac in (0.5, 1.5):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=48),
                    u,
                    "click",
                    u * frac,
                    None,
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_cuped_perfect_correlation(spark, cuped_perfect_corr_dir):
    """Y = 2X exactly -> theta_q6 = 2e6, variance_reduction_q6 = 1e6."""
    qs = _queries()
    row = qs["events_cuped_adjustment"](
        spark, cuped_perfect_corr_dir
    ).collect()[0]
    assert row.n_users == 40
    assert row.theta_q6 == 2_000_000
    assert row.variance_reduction_q6 == 1_000_000


@pytest.fixture()
def did_hand_lift_dir(spark, tmp_path):
    """Hand DiD: control (even user_id) means 10 -> 12 (+2 trend);
    treatment (odd) means 10 -> 15 (+5). DiD = +3 exactly."""
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(1, 21):
        treated = u % 2 == 1
        rows.append((eid, base, u, "view", 10.0, None))
        eid += 1
        post_v = 15.0 if treated else 12.0
        rows.append(
            (
                eid,
                base + datetime.timedelta(hours=48),
                u,
                "view",
                post_v,
                None,
            )
        )
        eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_did_hand_lift(spark, did_hand_lift_dir):
    qs = _queries()
    row = qs["events_did_estimator"](spark, did_hand_lift_dir).collect()[0]
    assert row.mean_a_pre_q6 == 10_000_000
    assert row.mean_a_post_q6 == 12_000_000
    assert row.mean_b_pre_q6 == 10_000_000
    assert row.mean_b_post_q6 == 15_000_000
    assert row.did_q6 == 3_000_000


def test_jackknife_zero_variance_when_groups_identical(spark, tmp_path):
    """Every month identical (same n, same values) -> all leave-one-out
    means equal -> jackknife SE exactly 0 and CI collapses to the mean.
    """
    import datetime as dt

    rows = []
    ok = 0
    for m in range(1, 7):
        for i in range(10):
            rows.append(
                (ok, 1, dt.date(2024, m, 1 + i), 100.0 + i)
            )
            ok += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate date,"
        " o_totalprice double",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "orders.parquet")
    )
    qs = _queries()
    row = qs["orders_jackknife_mean_ci"](spark, str(tmp_path)).collect()[0]
    assert row.n_groups == 6
    assert row.jk_se_q6 == 0
    assert row.ci_lo_q6 == row.mean_q6 == row.ci_hi_q6 == 104_500_000


def test_group_kfold_partitions_users(spark):
    """Folds must partition the user set exactly (no user in two
    folds, none dropped) and cover all events."""
    from almost_any_file_to_pandas_spark.plans import table

    qs = _queries()
    rows = qs["feat_group_kfold_census"](spark, SF_DIR).collect()
    ev = table(spark, SF_DIR, "events")
    n_users = ev.select("user_id").distinct().count()
    n_events = ev.count()
    assert sum(r.n_users for r in rows) == n_users
    assert sum(r.n_events for r in rows) == n_events
    assert len(rows) <= 5 and len({r.fold for r in rows}) == len(rows)


def test_conformal_interval_calibrated_on_testdata(spark):
    """Split-conformal coverage on exchangeable halves must land near
    the nominal 90% (deterministic data -> deterministic value; the
    slack band guards against day-parity drift, not randomness)."""
    qs = _queries()
    row = qs["orders_conformal_naive_interval"](spark, SF_DIR).collect()[0]
    assert row.n_calib > 0 and row.n_eval > 0
    assert row.q90_resid_cents >= 0
    assert 800_000 <= row.coverage_q6 <= 1_000_000


def test_uplift_band_hand_effect(spark, tmp_path):
    """Hand uplift: every treated (odd) user purchases post-period,
    no control user does -> uplift_q6 = 1e6 in every populated band;
    dyadic banding splits the 3-event and 33-event user groups."""
    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    for u in range(1, 21):
        pre_events = 3 if u <= 10 else 33
        for i in range(pre_events):
            rows.append(
                (eid, base + datetime.timedelta(minutes=i), u, "view",
                 1.0, None)
            )
            eid += 1
        if u % 2 == 1:  # treated users convert post-period
            rows.append(
                (eid, base + datetime.timedelta(hours=48), u,
                 "purchase", 9.0, None)
            )
            eid += 1
        else:  # controls stay active post-period but never convert
            rows.append(
                (eid, base + datetime.timedelta(hours=48), u, "view",
                 1.0, None)
            )
            eid += 1
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    qs = _queries()
    out = {
        r.band: r
        for r in qs["events_uplift_by_band"](spark, str(tmp_path)).collect()
    }
    assert len(out) == 2  # 3 events -> band 2; 33 events -> band 6
    for r in out.values():
        assert r.n_treat == 5 and r.n_ctrl == 5
        assert r.conv_treat == 5 and r.conv_ctrl == 0
        assert r.uplift_q6 == 1_000_000


def test_cuped_adjusted_lift_removes_pre_period_imbalance(
    spark, cuped_perfect_corr_dir
):
    """On the Y = 2X corpus, theta = 2 makes the adjusted means of
    both cohorts collapse to 2*xbar exactly -> adjusted lift = 0,
    even though the RAW post-period means differ by cohort (odd vs
    even user_id have different pre sums)."""
    qs = _queries()
    row = qs["events_cuped_adjusted_lift"](
        spark, cuped_perfect_corr_dir
    ).collect()[0]
    assert row.n_ctrl == 20 and row.n_treat == 20
    assert row.adj_lift_q6 == 0
    assert row.adj_mean_ctrl_q6 == row.adj_mean_treat_q6
    # the raw (unadjusted) cohort means DO differ on this corpus —
    # the adjustment is what removed the gap
    did = qs["events_did_estimator"](
        spark, cuped_perfect_corr_dir
    ).collect()[0]
    assert did.mean_b_post_q6 != did.mean_a_post_q6


def test_tscv_folds_march_forward_without_leakage(spark):
    """Rolling-origin folds: train cutoffs strictly increase, test
    blocks are disjoint, and every fold's training set grows."""
    qs = _queries()
    rows = sorted(
        qs["orders_tscv_fold_census"](spark, SF_DIR).collect(),
        key=lambda r: r.fold,
    )
    assert [r.fold for r in rows] == [1, 2, 3, 4]
    cutoffs = [r.train_end_mkey for r in rows]
    assert cutoffs == sorted(cutoffs) and len(set(cutoffs)) == 4
    from almost_any_file_to_pandas_spark.operators.temporal import (
        TSCV_TEST_MONTHS,
    )

    for a, b in zip(cutoffs, cutoffs[1:]):
        assert b - a == TSCV_TEST_MONTHS  # disjoint adjacent blocks
    n_trains = [r.n_train for r in rows]
    assert n_trains == sorted(n_trains)
    assert all(r.n_test > 0 for r in rows)


def test_t_closeness_monotone_in_threshold(spark):
    """Raising t can only shrink the exceeding set; shares bounded."""
    qs = _queries()
    rows = sorted(
        qs["privacy_t_closeness_census"](spark, SF_DIR).collect(),
        key=lambda r: r.t_q6,
    )
    assert [r.t_q6 for r in rows] == [100_000, 200_000, 350_000]
    totals = {r.n_groups_total for r in rows}
    assert len(totals) == 1
    exceeding = [r.n_groups_exceeding for r in rows]
    assert exceeding == sorted(exceeding, reverse=True)
    for r in rows:
        assert 0 <= r.risk_share_q6 <= 1_000_000
        assert r.n_groups_exceeding <= r.n_groups_total


def test_knn_loo_accuracy_bounds_and_panel_size(spark):
    from almost_any_file_to_pandas_spark.operators.similarity import (
        LOO_N_PROBES,
    )

    qs = _queries()
    rows = qs["sim_knn_loo_label_accuracy"](spark, SF_DIR).collect()
    assert sum(r.n_probes for r in rows) == LOO_N_PROBES
    for r in rows:
        assert 0 <= r.accuracy_q6 <= 1_000_000
        assert r.n_correct <= r.n_probes


def test_png_palette_roundtrip_and_remaining_gate():
    """Palette PNG: the index plane de-filters at bpp 1 through all
    five filters (h >= 5) and PLTE expansion reproduces the exact
    (7j, 11j, 13j) gradient; missing PLTE raises ValueError; illegal
    IHDR combinations raise ValueError (no gate remains)."""
    import struct
    import zlib

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        PLTE_ENTRIES,
        PNG_SIGNATURE,
        decode_png,
        synth_png_palette,
    )

    for w, h in [(1, 1), (4, 3), (6, 7), (16, 8)]:
        dw, dh, px = decode_png(synth_png_palette(w, h))
        assert (dw, dh) == (w, h)
        expect = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                7 * ((x + y) % PLTE_ENTRIES),
                11 * ((x + y) % PLTE_ENTRIES),
                13 * ((x + y) % PLTE_ENTRIES),
            )
        )
        assert px == expect, f"{w}x{h}"

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    # palette header without a PLTE chunk -> loud ValueError
    ihdr_p = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    raw = b"\x00\x00\x00" + b"\x00\x00\x00"
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png(
            PNG_SIGNATURE
            + chunk(b"IHDR", ihdr_p)
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
    # no gate remains on PNG: the decoder covers the entire legal
    # ISO/IEC 15948 IHDR matrix; an unsupported header is an ILLEGAL
    # header and is rejected loudly with ValueError
    illegal = [(2, 2), (4, 2), (16, 3), (3, 0), (8, 5), (4, 6), (2, 4)]
    for depth, ctype_v in illegal:
        ihdr = struct.pack(">IIBBBBB", 2, 2, depth, ctype_v, 0, 0, 0)
        with _pytest.raises(ValueError, match="legal"):
            decode_png(
                PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IEND", b"")
            )


def test_png_rgba_and_adam7_roundtrip():
    """RGBA (bpp 4) and Adam7-interlaced grayscale reconstruct the
    exact gradients across edge dims (1x1, single row/column, dims
    hitting every pass-emptiness case)."""
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_png,
        synth_png_gray_adam7,
        synth_png_rgba,
    )

    for w, h in [(1, 1), (2, 1), (1, 2), (3, 2), (5, 7), (9, 5), (16, 8)]:
        _, _, px = decode_png(synth_png_rgba(w, h))
        expect = bytes(
            v
            for y in range(h)
            for x in range(w)
            for v in (
                (x + y) % 256,
                (2 * x + y) % 256,
                (x + 3 * y) % 256,
                (255 - (x + y)) % 256,
            )
        )
        assert px == expect, f"rgba {w}x{h}"
        _, _, gpx = decode_png(synth_png_gray_adam7(w, h))
        assert gpx == bytes(
            (x + y) % 256 for y in range(h) for x in range(w)
        ), f"adam7 {w}x{h}"


def test_png_gray16_roundtrip():
    """16-bit grayscale: bpp-2 de-filtering through all five filters
    reconstructs the exact big-endian (x+y)*257 ramp."""
    import struct

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_png,
        synth_png_gray16,
    )

    for w, h in [(1, 1), (5, 6), (16, 8)]:
        dw, dh, px = decode_png(synth_png_gray16(w, h))
        assert (dw, dh) == (w, h)
        vals = struct.unpack(f">{w * h}H", px)
        assert list(vals) == [
            (x + y) * 257 for y in range(h) for x in range(w)
        ]


def test_png_subbyte_roundtrip_all_depths():
    """Sub-byte PNG (depths 1/2/4): packed-byte de-filtering (bpp 1)
    through all five filters plus MSB-first bit unpack reconstructs
    the exact (x+y) mod 2^d ramp across edge dims — including widths
    that leave a partial trailing byte."""
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_png,
        synth_png_gray_subbyte,
    )

    for depth in (1, 2, 4):
        for w, h in [(1, 1), (2, 1), (1, 2), (3, 2), (7, 5), (9, 1),
                     (16, 8)]:
            dw, dh, px = decode_png(synth_png_gray_subbyte(w, h, depth))
            assert (dw, dh) == (w, h)
            assert px == bytes(
                (x + y) % (1 << depth)
                for y in range(h)
                for x in range(w)
            ), f"depth {depth} {w}x{h}"


def test_png_subbyte_palette_and_adam7():
    """The sub-byte combination arms: a depth-2 PALETTE image (bit
    unpack feeding PLTE expansion) and a depth-4 Adam7-INTERLACED
    image (each pass bit-packs its own scanlines independently)."""
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        _ADAM7_PASSES,
        _png_forward_filter,
        _png_wrap,
        decode_png,
    )

    w, h, per = 9, 6, 4  # depth-2 palette: 4 indices per packed byte
    rows = []
    for y in range(h):
        packed = bytearray((w * 2 + 7) // 8)
        for x in range(w):
            packed[x // per] |= ((x + y) % 4) << (8 - 2 * (x % per + 1))
        rows.append(bytes(packed))
    plte = bytes(v for j in range(4) for v in (7 * j, 11 * j, 13 * j))
    blob = _png_wrap(
        (w, h, 2, 3, 0, 0, 0), _png_forward_filter(rows, 1), plte=plte
    )
    _, _, px = decode_png(blob)
    assert px == bytes(
        v
        for y in range(h)
        for x in range(w)
        for v in (7 * ((x + y) % 4), 11 * ((x + y) % 4), 13 * ((x + y) % 4))
    )

    for w, h in [(1, 1), (3, 2), (5, 7), (16, 8)]:
        enc = b""
        for x0, y0, dx, dy in _ADAM7_PASSES:
            if w <= x0 or h <= y0:
                continue
            xs = list(range(x0, w, dx))
            rows = []
            for y in range(y0, h, dy):
                packed = bytearray((len(xs) * 4 + 7) // 8)
                for i, x in enumerate(xs):
                    packed[i // 2] |= ((x + y) % 16) << (8 - 4 * (i % 2 + 1))
                rows.append(bytes(packed))
            enc += _png_forward_filter(rows, 1)
        _, _, px = decode_png(_png_wrap((w, h, 4, 0, 0, 0, 1), enc))
        assert px == bytes(
            (x + y) % 16 for y in range(h) for x in range(w)
        ), f"adam7 depth-4 {w}x{h}"


def test_png_16bit_color_roundtrip():
    """16-bit color types (2/4/6): bpp 6/4/8 de-filtering through all
    five filters reconstructs the exact big-endian sample ramps."""
    import struct

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        _png_forward_filter,
        _png_wrap,
        decode_png,
        synth_png_rgb16,
    )

    for w, h in [(1, 1), (2, 7), (5, 6), (16, 8)]:
        dw, dh, px = decode_png(synth_png_rgb16(w, h))
        assert (dw, dh) == (w, h)
        vals = struct.unpack(f">{w * h * 3}H", px)
        assert list(vals) == [
            v
            for y in range(h)
            for x in range(w)
            for v in ((x + y) * 257, (2 * x + y) * 257, (x + 3 * y) * 257)
        ]

    for ctype_v, ch in ((4, 2), (6, 4)):  # gray+alpha / RGBA at 16-bit
        w, h = 6, 7
        rows = [
            b"".join(
                struct.pack(
                    f">{ch}H",
                    *[((k + 1) * x + y) * 257 % 65536 for k in range(ch)],
                )
                for x in range(w)
            )
            for y in range(h)
        ]
        blob = _png_wrap(
            (w, h, 16, ctype_v, 0, 0, 0),
            _png_forward_filter(rows, 2 * ch),
        )
        _, _, px = decode_png(blob)
        vals = struct.unpack(f">{w * h * ch}H", px)
        assert list(vals) == [
            ((k + 1) * x + y) * 257 % 65536
            for y in range(h)
            for x in range(w)
            for k in range(ch)
        ], f"16-bit color type {ctype_v}"


def test_wav_g711_roundtrip_and_remaining_gate():
    """G.711 WAV: µ-law and A-law code bytes expand through the spec
    segment tables (checked against hand-computed landmark values),
    frames/channels parse from the container, and the remaining
    non-PCM gate (IEEE-float, ADPCM) still raises."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        _ALAW_TABLE,
        _ULAW_TABLE,
        decode_wav,
        synth_wav_g711,
    )

    # spec landmarks: µ-law 0xFF -> 0 (complement 0x00), 0x7F -> -0
    # magnitude class, 0x00 -> -8031·4+... = the max-magnitude code
    assert _ULAW_TABLE[0xFF] == 0
    assert _ULAW_TABLE[0x00] == -32124
    assert _ULAW_TABLE[0x80] == 32124
    assert max(_ULAW_TABLE) == 32124 and min(_ULAW_TABLE) == -32124
    # A-law landmarks: 0x55 toggles to 0x00 -> +8; 0xD5 -> -8 class
    assert _ALAW_TABLE[0x55] == 8
    assert _ALAW_TABLE[0xD5] == -8
    assert max(_ALAW_TABLE) == 32256 and min(_ALAW_TABLE) == -32256
    # symmetry: code with sign bit flipped negates the sample
    for c in range(128):
        assert _ULAW_TABLE[c] == -_ULAW_TABLE[c ^ 0x80]
        assert _ALAW_TABLE[c ^ 0x55 ^ 0x55] == -_ALAW_TABLE[c ^ 0x80]

    for law, tbl in (("ulaw", _ULAW_TABLE), ("alaw", _ALAW_TABLE)):
        for ch, nf in [(1, 8), (2, 96), (1, 256), (2, 13)]:
            rate, dch, dnf, ssq = decode_wav(synth_wav_g711(ch, nf, law))
            assert (rate, dch, dnf) == (8000, ch, nf)
            assert ssq == ch * sum(
                tbl[i % 256] ** 2 for i in range(nf)
            ), (law, ch, nf)

    # IEEE-float WAV (format 3) decodes for real: the integer ramp
    # is exactly representable in float32, so the energy matches the
    # PCM closed form; MP3-in-WAV (format 0x55) stays honestly gated
    # (IMA ADPCM 0x11 and MS-ADPCM 2 became real arms later in
    # round 8)
    from almost_any_file_to_pandas_spark.operators.multimodal import (
        synth_wav_float,
    )

    for ch, nf in [(1, 8), (2, 40), (1, 17)]:
        rate, dch, dnf, ssq = decode_wav(synth_wav_float(8000, ch, nf))
        assert (rate, dch, dnf) == (8000, ch, nf)
        assert ssq == ch * sum(((i % 17) - 8) ** 2 for i in range(nf))

    fmt = struct.pack("<HHIIHH", 0x55, 1, 8000, 4000, 1, 4)
    blob = (
        struct.pack("<4sI4s", b"RIFF", 36 + 8, b"WAVE")
        + struct.pack("<4sI", b"fmt ", len(fmt))
        + fmt
        + struct.pack("<4sI", b"data", 8)
        + b"\x00" * 8
    )
    with _pytest.raises(NotImplementedError):
        decode_wav(blob)


def test_bmp_rle8_roundtrip_delta_and_malformed():
    """BI_RLE8 BMP: the synth's run/absolute/EOL/EOF streams decode
    to the exact two-family gradient across edge dims; a hand fixture
    pins the DELTA escape (skipped cells stay 0); malformed streams
    raise ValueError."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_bmp_rle8,
        synth_bmp_rle8,
    )

    for w, h in [(1, 1), (2, 1), (1, 2), (3, 2), (5, 7), (16, 8), (9, 3)]:
        dw, dh, px = decode_bmp_rle8(synth_bmp_rle8(w, h))
        assert (dw, dh) == (w, h)
        expect = bytes(
            ((y % 7) + 1) if y % 2 == 0 else (x + y) % 13
            for y in range(h)
            for x in range(w)
        )
        assert px == expect, f"{w}x{h}"

    def wrap(enc: bytes, w: int, h: int) -> bytes:
        palette = b"".join(
            struct.pack("<BBBB", j, j, j, 0) for j in range(256)
        )
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 8, 1, len(enc), 0, 0, 256, 0
        )
        off = 14 + len(info) + len(palette)
        return (
            struct.pack("<2sIHHI", b"BM", off + len(enc), 0, 0, off)
            + info
            + palette
            + enc
        )

    # delta escape: run 2×5 at (0,0) of bottom row, delta (+1,+1),
    # then run 1×9 — cells crossed by the delta stay 0
    enc = bytes((2, 5, 0, 2, 1, 1, 1, 9, 0, 0, 0, 1))
    _, _, px = decode_bmp_rle8(wrap(enc, 4, 2))
    # bottom stored row = image row 1: [5, 5, 0, 0];
    # after delta y=1 -> image row 0, x=3: [0, 0, 0, 9]
    assert px == bytes([0, 0, 0, 9, 5, 5, 0, 0])

    # malformed: run overflowing the row, and a missing EOF
    with _pytest.raises(ValueError, match="overflow"):
        decode_bmp_rle8(wrap(bytes((9, 1, 0, 1)), 4, 2))
    with _pytest.raises(ValueError, match="end-of-bitmap"):
        decode_bmp_rle8(wrap(bytes((2, 1, 0, 0)), 4, 2))


def test_bmp_rle4_roundtrip_delta_and_malformed():
    """BI_RLE4 BMP: the synth's nibble-run/absolute/EOL/EOF streams
    decode to the exact two-family gradient across edge dims; hand
    fixtures pin the hi/lo alternation phase on ODD run counts, the
    absolute-mode word alignment, and the DELTA escape; malformed
    streams raise ValueError."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_bmp_rle4,
        synth_bmp_rle4,
    )

    for w, h in [(1, 1), (2, 1), (1, 2), (3, 2), (5, 7), (16, 8), (9, 3)]:
        dw, dh, px = decode_bmp_rle4(synth_bmp_rle4(w, h))
        assert (dw, dh) == (w, h)
        expect = bytes(
            ((((y % 5) + 1) if x % 2 == 0 else (y % 3)) if y % 2 == 0
             else (x + y) % 11)
            for y in range(h)
            for x in range(w)
        )
        assert px == expect, f"{w}x{h}"

    def wrap(enc: bytes, w: int, h: int) -> bytes:
        palette = b"".join(
            struct.pack("<BBBB", j * 17, j * 17, j * 17, 0)
            for j in range(16)
        )
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 4, 2, len(enc), 0, 0, 16, 0
        )
        off = 14 + len(info) + len(palette)
        return (
            struct.pack("<2sIHHI", b"BM", off + len(enc), 0, 0, off)
            + info
            + palette
            + enc
        )

    # odd-count encoded run: 3 pixels of byte 0x12 alternate 1,2,1
    enc = bytes((3, 0x12, 0, 0, 0, 1))
    _, _, px = decode_bmp_rle4(wrap(enc, 3, 1))
    assert px == bytes([1, 2, 1])

    # absolute mode, odd pixel count: 5 nibbles pack into 3 bytes —
    # an ODD payload, so one pad byte word-aligns it — then a run
    # must resume cleanly after the pad
    enc = bytes((0, 5, 0xAB, 0xCD, 0xE0, 0x00, 1, 0xF0, 0, 0, 0, 1))
    _, _, px = decode_bmp_rle4(wrap(enc, 6, 1))
    assert px == bytes([0xA, 0xB, 0xC, 0xD, 0xE, 0xF])

    # delta escape: run 2 of 0x53 at bottom row, delta (+1,+1), then
    # run 1 of 0x90 — cells crossed by the delta stay 0
    enc = bytes((2, 0x53, 0, 2, 1, 1, 1, 0x90, 0, 0, 0, 1))
    _, _, px = decode_bmp_rle4(wrap(enc, 4, 2))
    # bottom stored row = image row 1: [5, 3, 0, 0];
    # after delta y=1 -> image row 0, x=3: [0, 0, 0, 9]
    assert px == bytes([0, 0, 0, 9, 5, 3, 0, 0])

    with _pytest.raises(ValueError, match="overflow"):
        decode_bmp_rle4(wrap(bytes((9, 0x11, 0, 1)), 4, 2))
    with _pytest.raises(ValueError, match="end-of-bitmap"):
        decode_bmp_rle4(wrap(bytes((2, 0x11, 0, 0)), 4, 2))


def test_bmp_bitfields_roundtrip_and_errors():
    """BI_BITFIELDS BMP: both depths round-trip the 5/6/5-bit
    gradients; a hand 2x1 RGB565 fixture pins the mask/shift
    arithmetic byte-for-byte; zero/overlapping masks, wrong depth,
    and truncation raise ValueError; decode_image reports BF16/BF32
    as real and gates only the embed-JPEG/PNG methods."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        decode_bmp_bitfields,
        decode_image,
        synth_bmp_bitfields,
    )

    for bpp in (16, 32):
        for w, h in [(1, 1), (2, 1), (1, 2), (3, 2), (5, 7), (16, 8)]:
            dw, dh, db, (r, g, b) = decode_bmp_bitfields(
                synth_bmp_bitfields(w, h, bpp)
            )
            assert (dw, dh, db) == (w, h, bpp)
            assert r == [(x + y) % 32 for y in range(h) for x in range(w)]
            assert g == [
                (2 * x + y) % 64 for y in range(h) for x in range(w)
            ]
            assert b == [
                (x + 2 * y) % 32 for y in range(h) for x in range(w)
            ]
            assert decode_image(synth_bmp_bitfields(w, h, bpp)) == (
                w,
                h,
                f"BF{bpp}",
            )

    def wrap565(pix_words, w, h, masks=(0xF800, 0x07E0, 0x001F), bpp=16):
        stride = (w * (bpp // 8) + 3) & ~3
        rows = bytearray()
        for j in range(h):
            row = b"".join(
                struct.pack("<H", v)
                for v in pix_words[(h - 1 - j) * w : (h - j) * w]
            )
            rows += row + b"\x00" * (stride - len(row))
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, bpp, 3, len(rows), 0, 0, 0, 0
        )
        mask_blk = struct.pack("<III", *masks)
        off = 14 + len(info) + len(mask_blk)
        return (
            struct.pack("<2sIHHI", b"BM", off + len(rows), 0, 0, off)
            + info
            + mask_blk
            + bytes(rows)
        )

    # hand fixture: 0xF800 -> r=31, 0x07E0 -> g=63 in RGB565
    _, _, _, (r, g, b) = decode_bmp_bitfields(
        wrap565([0xF800, 0x07E0], 2, 1)
    )
    assert (r, g, b) == ([31, 0], [0, 63], [0, 0])

    with _pytest.raises(ValueError, match="zero"):
        decode_bmp_bitfields(
            wrap565([0], 1, 1, masks=(0xF800, 0x07E0, 0))
        )
    with _pytest.raises(ValueError, match="overlap"):
        decode_bmp_bitfields(
            wrap565([0], 1, 1, masks=(0xFF00, 0x0FF0, 0x001F))
        )
    with _pytest.raises(ValueError, match="16/32"):
        bad = bytearray(synth_bmp_bitfields(2, 1, 16))
        struct.pack_into("<H", bad, 28, 8)
        decode_bmp_bitfields(bytes(bad))
    with _pytest.raises(ValueError, match="truncated"):
        decode_bmp_bitfields(synth_bmp_bitfields(8, 8, 32)[:-16])

    # r9: BI_JPEG (method 4) is now a SUPPORTED pass-through arm
    # (operators.jpeg closed the gate); decode_image reports metadata
    bad = bytearray(synth_bmp_bitfields(2, 1, 16))
    struct.pack_into("<I", bad, 30, 4)  # BI_JPEG
    assert decode_image(bytes(bad)) == (2, 1, "JPEG")
    # an out-of-spec method number still gates loudly
    struct.pack_into("<I", bad, 30, 9)
    with _pytest.raises(NotImplementedError, match="method 9"):
        decode_image(bytes(bad))


def test_wav_ima_adpcm_roundtrip_clamps_and_malformed():
    """IMA ADPCM WAV: the synth's two-block streams decode to the
    exact step-table recurrence for both channel counts and all four
    block sizes; hand cases pin the TRUNCATING shift-sum difference
    (step 7, code 1 -> diff 1, not the fused form's 2), the int16 and
    index clamps, and the stereo 4-byte-group interleave; ragged or
    inconsistent streams raise ValueError; decode_wav dispatches the
    format-0x11 arm and gates only the library-bound codecs."""
    import struct

    import pytest as _pytest

    from almost_any_file_to_pandas_spark.operators.multimodal import (
        _ima_step,
        decode_wav,
        decode_wav_ima_adpcm,
        synth_wav_ima_adpcm,
    )

    # truncating shift-sum: step index 0 (step 7), code 1 ->
    # diff = 7>>3 + 7>>2 = 0 + 1 = 1; the fused ((2*1+1)*7)>>3 = 2
    assert _ima_step(0, 0, 1) == (1, 0)
    # int16 clamp both ways at the table top (step 32767)
    assert _ima_step(32000, 88, 7)[0] == 32767
    assert _ima_step(-32000, 88, 15)[0] == -32768
    # index clamp at both rails
    assert _ima_step(0, 0, 0)[1] == 0  # adj -1 clamps at 0
    assert _ima_step(0, 88, 7)[1] == 88  # adj +8 clamps at 88

    for doc in (0, 1, 2, 3, 5, 10, 17):
        ch = 1 + (doc % 2)
        spb = 8 * ((doc % 4) + 1) + 1
        rate, dch, chans = decode_wav_ima_adpcm(
            synth_wav_ima_adpcm(doc, ch, spb)
        )
        assert (rate, dch) == (8000, ch)
        assert all(len(c) == 2 * spb for c in chans)
        # replay the recurrence independently
        for c in range(ch):
            out = []
            for b in range(2):
                pred = ((doc + 11 * b + 5 * c) % 29 - 14) * 100
                idx = (doc + 7 * b + 3 * c) % 89
                out.append(pred)
                for k in range(spb - 1):
                    pred, idx = _ima_step(
                        pred, idx, (doc + 13 * b + 3 * c + 5 * k) % 16
                    )
                    out.append(pred)
            assert chans[c] == out

    # stereo interleave: zero nibbles everywhere, distinct headers —
    # channel 0's samples must all derive from ITS header
    blob = bytearray(synth_wav_ima_adpcm(4, 2, 9))
    rate, dch, chans = decode_wav_ima_adpcm(bytes(blob))
    assert dch == 2 and chans[0] != chans[1]

    # ragged data: truncate one byte off the data chunk
    whole = synth_wav_ima_adpcm(3, 1, 9)
    bad = bytearray(whole[:-1])
    struct.pack_into("<I", bad, len(bad) - len(whole) + 44 - 4 - 3, 0)
    with _pytest.raises(ValueError):
        decode_wav_ima_adpcm(bytes(whole[:-4]))

    # inconsistent block align vs samples-per-block
    bad = bytearray(whole)
    off = bad.find(b"fmt ") + 8
    struct.pack_into("<H", bad, off + 12, 99)  # block_align
    with _pytest.raises(ValueError, match="block align"):
        decode_wav_ima_adpcm(bytes(bad))

    # decode_wav dispatch + the remaining honest gate (MP3-in-WAV)
    r, c, nf, ssq = decode_wav(whole)
    assert (r, c, nf) == (8000, 1, 18) and ssq > 0
    bad = bytearray(whole)
    struct.pack_into("<H", bad, off, 0x55)  # MP3-in-WAV format tag
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))
