"""Adversarial data-shape tests: skew, oversized rows, empty tables.

The determinism battery varies PARTITIONING on fixed data; these vary
the DATA SHAPE on fixed code — the other axis a 100 TB corpus
exercises that the clean synthetic testdata never does:

- **skew**: one user owning half the event stream (the hot-key shape
  salting/AQE exist for) through the sessionizer, the skew profile
  and the salted aggregate, gate-compared against DuckDB;
- **oversized rows**: a ~1 MB single document through the shingle /
  minhash / budget kernels (per-row memory, Arrow batch limits);
- **empty tables**: zero-row inputs through one representative of
  each family — the contract is no exception and engine/oracle
  agreement on the (often NULL-bearing) aggregate row.
"""

from __future__ import annotations

import datetime

import pytest


def test_hot_key_shapes_match_oracle(gate_compare, skewed_events_dir):
    for q in (
        "events_sessionization",
        "events_sessionization_incremental",
        "events_key_skew_profile",
        "events_salted_agg",
        "events_bot_user_census",
        "events_hourly_quantiles_by_type",
        "events_sliding_distinct_exact",
        "events_user_balance_reflect",
        "events_user_rolling_median7",
        "graph_kcore_trajectory",
        "events_attribution_removal",
        "events_rate_limit_audit",
        # round-9: hot-key shapes through the census rank walk (QTE),
        # the exact integer chi-square (SRM), and the moment fold (MDE)
        "events_ab_quantile_effects",
        "events_ab_srm_check",
        "events_ab_power_mde",
    ):
        gate_compare(skewed_events_dir, q)


@pytest.fixture()
def megadoc_dir(spark, tmp_path):
    """One ~1 MB document (150k tokens) plus normal docs — per-row
    kernel memory and Arrow batch behavior."""
    big = " ".join(f"tok{i % 5000}" for i in range(150_000))
    rows = [
        (1, big, "en", "web", len(big)),
        (2, "the quick brown fox jumps over the lazy dog", "en", "web", 44),
        (3, "the quick brown fox jumps over the lazy dog", "en", "wiki", 44),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_megadoc_through_text_kernels(spark, gate_compare, megadoc_dir):
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    # oracle-compared where the oracle stays cheap on a megadoc
    for q in ("text_token_count", "text_token_budget_trim", "dedup_exact"):
        gate_compare(megadoc_dir, q)
    # engine-only smoke for the heavy kernels (the DuckDB side of the
    # shingle oracles is quadratic-ish on a 150k-token doc)
    out = plans.QUERIES["dedup_minhash_lsh"](spark, megadoc_dir).collect()
    assert [(r["doc_a"], r["doc_b"]) for r in out] == [(2, 3)]


@pytest.fixture()
def empty_dir(spark, tmp_path):
    spark.createDataFrame(
        [],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    spark.createDataFrame(
        [],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    spark.createDataFrame(
        [], "vec_id long, embedding array<double>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return str(tmp_path)


def test_empty_tables_never_raise(spark, gate_compare, empty_dir):
    """Zero-row inputs through one representative per family: the
    engine must plan and execute (no exception); row counts are
    whatever the aggregate shape implies, compared against the oracle
    where the oracle also runs."""
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    for q in (
        "events_sessionization",
        "events_sessionization_incremental",
        "events_user_erasure_audit",
        "text_token_count",
        "dedup_exact",
        "text_token_budget_trim",
        "events_stream_dedup_batch",
    ):
        rows = plans.QUERIES[q](spark, empty_dir).collect()
        assert rows is not None  # executed without raising
    # gate-level agreement on an aggregate census over nothing
    gate_compare(empty_dir, "events_user_erasure_audit")


@pytest.fixture()
def funnel_boundary_dir(spark, tmp_path):
    """Hand-built event streams hitting every boundary of the
    24h-window funnel: same-timestamp chains, exactly-at-deadline
    steps, one-microsecond-past misses, wrong-order steps, and the
    case where only the LATEST view's window completes the chain
    (a first-view implementation returns 2, the spec says 3)."""
    base = datetime.datetime(2024, 3, 1)
    us = datetime.timedelta(microseconds=1)
    h = datetime.timedelta(hours=1)
    rows, eid = [], 0

    def ev(u, t, typ):
        nonlocal eid
        rows.append((eid, t, u, typ, 1.0, None))
        eid += 1

    # u1: whole chain on one timestamp -> 3
    ev(1, base, "view"); ev(1, base, "click"); ev(1, base, "purchase")
    # u2: click and purchase exactly AT the deadline -> 3
    ev(2, base, "view"); ev(2, base + 24 * h, "click")
    ev(2, base + 24 * h, "purchase")
    # u3: click one microsecond past the deadline -> 1
    ev(3, base, "view"); ev(3, base + 24 * h + us, "click")
    ev(3, base + 25 * h, "purchase")
    # u4: steps present but in reverse order -> 1
    ev(4, base, "purchase"); ev(4, base + h, "click")
    ev(4, base + 2 * h, "view")
    # u5: no click between view and purchase -> 1
    ev(5, base, "view"); ev(5, base + h, "purchase")
    # u6: purchase one microsecond past the only window -> 2
    ev(6, base, "view"); ev(6, base + h, "click")
    ev(6, base + 24 * h + us, "purchase")
    # u7: only the LATER view's window covers the purchase -> 3
    ev(7, base, "view"); ev(7, base + 2 * h, "view")
    ev(7, base + 3 * h, "click"); ev(7, base + 25 * h, "purchase")
    # u8: no view at all -> 0
    ev(8, base, "click"); ev(8, base + us, "purchase")
    # u9: a too-late second click must not extend the deadline -> 2
    ev(9, base, "view"); ev(9, base + 12 * h, "click")
    ev(9, base + 30 * h, "click")
    ev(9, base + 30 * h + us, "purchase")

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_window_funnel_boundaries(
    spark, gate_compare, funnel_boundary_dir
):
    """The greedy one-pass window implementation must equal the
    existential-join oracle on every boundary, AND both must equal
    the hand-derived levels."""
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    gate_compare(funnel_boundary_dir, "events_funnel_within_window")
    got = {
        r.user_id: r.funnel_level
        for r in plans.QUERIES["events_funnel_within_window"](
            spark, funnel_boundary_dir
        ).collect()
    }
    assert got == {1: 3, 2: 3, 3: 1, 4: 1, 5: 1, 6: 2, 7: 3, 8: 0, 9: 2}


@pytest.fixture()
def editdist_boundary_dir(spark, tmp_path):
    """Documents with KNOWN pairwise edit distances around the
    PassJoin K=6 boundary: an exact duplicate (0), exactly-K edits
    scattered across segments (must be found), K+1 edits (must be
    excluded), and a long tail-insertion beyond the length band."""
    base = (
        "the quick brown fox jumps over the lazy dog while the band "
        "plays on and the crowd cheers loudly tonight"
    )
    k6 = list(base)
    for pos in (3, 20, 40, 60, 80, 100):  # 6 substitutions, spread out
        k6[pos] = "#"
    k7 = list(k6)
    k7[50] = "@"  # 7th edit
    rows = [
        (1, base, "en", "s1", len(base)),
        (2, base, "en", "s1", len(base)),          # distance 0 to 1
        (3, "".join(k6), "en", "s1", len(base)),   # distance 6 to 1/2
        (4, "".join(k7), "en", "s1", len(base)),   # distance 7 to 1/2
        (5, base + " encore!", "en", "s1", len(base) + 8),  # +8 tail
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    return str(tmp_path)


def test_passjoin_edit_distance_boundaries(
    spark, gate_compare, editdist_boundary_dir
):
    """PassJoin must equal the full pairwise oracle on the crafted
    boundary corpus AND produce the hand-derived pair set."""
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    gate_compare(editdist_boundary_dir, "dedup_edit_distance_pairs")
    got = {
        (r.doc_a, r.doc_b): r.edit_distance
        for r in plans.QUERIES["dedup_edit_distance_pairs"](
            spark, editdist_boundary_dir
        ).collect()
    }
    # 1-2 identical; 3 at distance 6 from both; 4 at 7 from 1/2
    # (excluded) but ONE edit from 3 (found); 5 at 8 insertions
    # (excluded, also outside the length band)
    assert got == {(1, 2): 0, (1, 3): 6, (2, 3): 6, (3, 4): 1}


@pytest.fixture()
def wallet_boundary_dir(spark, tmp_path):
    """Event streams where the zero floor of the prepaid-wallet
    recurrence ``B_t = max(0, B_{t-1} + delta_t)`` BINDS — repeatedly,
    at the first event, never, and under same-timestamp ties — the
    shapes where the Skorokhod reflection identity and a buggy plain
    running sum diverge. Expected values come from a literal
    sequential fold executed inside the test."""
    base = datetime.datetime(2024, 5, 1)
    m = datetime.timedelta(minutes=1)
    rows, eid = [], 0

    def ev(u, t, typ, val):
        nonlocal eid
        rows.append((eid, t, u, typ, val, None))
        eid += 1

    # u1: floor binds mid-stream (1000 -> floor -> 500)
    ev(1, base, "purchase", 10.0)
    ev(1, base + m, "error", 25.0)
    ev(1, base + 2 * m, "purchase", 5.0)
    # u2: debit-first (floor binds at the very first event)
    ev(2, base, "error", 3.0)
    ev(2, base + m, "purchase", 7.5)
    ev(2, base + 2 * m, "error", 2.0)
    # u3: floor binds repeatedly, interleaved with recoveries
    for i, (typ, val) in enumerate(
        [("purchase", 1.0), ("error", 5.0), ("purchase", 2.0),
         ("error", 1.0), ("purchase", 3.0), ("error", 9.0),
         ("purchase", 0.4)]
    ):
        ev(3, base + i * m, typ, val)
    # u4: all debits — balance pinned at 0 throughout
    ev(4, base, "error", 1.0)
    ev(4, base + m, "error", 2.0)
    # u5: floor never binds — reflection must reduce to the plain sum
    ev(5, base, "purchase", 8.0)
    ev(5, base + m, "error", 3.0)
    ev(5, base + 2 * m, "purchase", 1.0)
    # u6: same-timestamp ties — order decided by event_id, and the
    # outcome DEPENDS on it (debit-then-credit floors, reverse not)
    ev(6, base, "error", 4.0)
    ev(6, base, "purchase", 4.0)
    # non-move event types must be invisible to the wallet
    ev(1, base + m, "view", 999.0)
    ev(4, base, "click", 999.0)

    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    moves = [
        (r[2], r[0], r[4], r[3])
        for r in rows
        if r[3] in ("purchase", "error")
    ]
    return str(tmp_path), moves


def test_wallet_reflection_equals_sequential_fold(
    spark, gate_compare, wallet_boundary_dir
):
    """The windowed reflection identity must equal the literal
    per-user sequential fold AND the SQL oracle on every floor
    boundary."""
    from almost_any_file_to_pandas_spark import plans

    sf_dir, moves = wallet_boundary_dir
    expected = {}
    for u in sorted({m[0] for m in moves}):
        bal = peak = debits = n = 0
        for _, _, val, typ in sorted(
            (m for m in moves if m[0] == u), key=lambda m: m[1]
        ):
            delta = int(val * 100 + 0.5)
            if typ == "error":
                delta, debits = -delta, debits + 1
            bal = max(0, bal + delta)
            peak = max(peak, bal)
            n += 1
        expected[u] = (n, debits, peak, bal)
    plans.load_all()
    got = {
        r.user_id: (
            r.n_moves, r.n_debits, r.peak_balance_cents,
            r.final_balance_cents,
        )
        for r in plans.QUERIES["events_user_balance_reflect"](
            spark, sf_dir
        ).collect()
    }
    assert got == expected
    assert expected[1] == (3, 1, 1000, 500)   # floor bound mid-stream
    assert expected[4] == (2, 2, 0, 0)        # pinned at zero
    gate_compare(sf_dir, "events_user_balance_reflect")


@pytest.fixture()
def skyline_parts_dir(spark, tmp_path):
    """Parts engineered so a NON-frontier part shares a frontier
    point's exact price at a smaller size — the shape a degenerate
    join condition (price-only matching) gets wrong, which a
    same-lineage unaliased self-join once compiled to."""
    rows = [
        # (key, name, brand, type, size, price)
        (1, "a", "B1", "T", 10, 5.00),   # dominated by key 2 (equal
        # price, bigger size) but shares its min price
        (2, "b", "B1", "T", 20, 5.00),   # frontier
        (3, "c", "B1", "T", 20, 7.00),   # dominated by key 2
        (4, "d", "B1", "T", 30, 9.00),   # frontier (largest size)
        (5, "e", "B1", "T", 5, 5.00),    # dominated by key 2
        (6, "f", "B1", "T", 5, 4.00),    # frontier (undercuts all
        # larger sizes)
        (7, "g", "B1", "T", 30, 9.00),   # frontier (equal point
        # twin of key 4 — ties never dominate each other)
    ]
    df = spark.createDataFrame(
        rows,
        "p_partkey long, p_name string, p_brand string,"
        " p_type string, p_size int, p_retailprice double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    return str(tmp_path)


def test_skyline_price_collision_across_sizes(
    spark, gate_compare, skyline_parts_dir
):
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    got = {
        r["p_partkey"]
        for r in plans.QUERIES["part_skyline_frontier"](
            spark, skyline_parts_dir
        ).collect()
    }
    assert got == {2, 4, 6, 7}
    gate_compare(skyline_parts_dir, "part_skyline_frontier")
