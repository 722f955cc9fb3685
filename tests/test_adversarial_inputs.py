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
  agreement on the (often NULL-bearing) aggregate row;
- **residues**: doubles on decimal(25,6) rounding ties through the
  sessionizer, q1, the tumbling window and a whole-cents sum, values
  outside the exact-sum domain (1e13, NaN; also on a session handed
  in with ANSI off), hostile whitespace through the
  ``_occurrences`` stopword scan, cumulative token sums landing
  exactly on the budget line, and a corrupt embedding corpus through
  the hygiene report;
- **long paths**: a fuzzy-match graph that is one long path through
  entity clustering (component labels must cross every hop).
"""

from __future__ import annotations

import datetime
import random

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


def _events_dir(spark, tmp_path, values, extra=()):
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, "view", v, None)
        for i, v in enumerate(values)
    ]
    # second user: one big gap to exercise multi-session grouping too
    rows += [
        (100, base, 2, "view", values[0], None),
        (101, base + datetime.timedelta(hours=9), 2, "view", values[-1], None),
    ]
    rows += list(extra)
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_sessionization_value_decimal_ties(spark, gate_compare, tmp_path):
    """``value`` doubles at/near decimal(25,6) rounding boundaries
    through the sessionization value path. These all agree across
    engines: the nearest double to each literal is strictly off the
    6dp tie, so both engines round the same way. (The exact-tie class
    is pinned by the shortest-repr test below.)"""
    sf = _events_dir(
        spark,
        tmp_path,
        [
            1.0000005,          # shortest-repr tie, small magnitude
            2.0000015,
            -1.0000005,
            0.0000005,
            7.00000049999999,   # just under the tie
            7.00000050000001,   # just over the tie
            0.1 + 0.2,          # classic non-representable sum
            185.22,             # the driver generator's 2dp class
        ],
    )
    gate_compare(sf, "events_sessionization")


def test_sessionization_shortest_repr_tie_now_hardened(
    spark, gate_compare, tmp_path
):
    """Through a double→DECIMAL(25,6) value path this exact input
    diverges: Spark casts via Java's SHORTEST decimal repr
    (BigDecimal.valueOf → Double.toString), so a double whose shortest
    repr is an exact 7-digit tie (123456789.0000005) rounds HALF_UP to
    …000001, while DuckDB rounds the exact binary value
    (…00000049999…) DOWN to …000000. The per-row FLOOR(value·1e6+0.5)
    BIGINT sums on BOTH engines compute the identical IEEE product
    before any rounding, so the input hash-matches."""
    sf = _events_dir(spark, tmp_path, [123456789.0000005, 185.22])
    gate_compare(sf, "events_sessionization")


def _raises_on_both_engines(spark, sf_dir, table, name, match="CAST_OVERFLOW"):
    """Query ``name`` over ``sf_dir``'s ``table`` raises an error
    matching ``match`` in Spark and a ConversionException in its
    DuckDB oracle."""
    import duckdb

    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    with pytest.raises(Exception, match=match):
        plans.QUERIES[name](spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM"
        f" read_parquet('{sf_dir}/{table}.parquet/*.parquet')"
    )
    with pytest.raises(duckdb.ConversionException):
        con.execute(plans.ORACLES[name]).fetchall()


@pytest.mark.parametrize("bad", [1e13, float("nan")], ids=["1e13", "nan"])
def test_sessionization_raises_outside_the_micro_unit_domain(
    spark, tmp_path, bad
):
    """A value of 1e13 is 1e19 micro-units, past 2^63, and NaN has
    none: the per-row BIGINT cast raises on both engines instead of
    summing to 2^63 - 1 or 0 (what Spark's ``floor(double)`` returns
    under ANSI)."""
    sf = _events_dir(spark, tmp_path, [bad, 185.22])
    _raises_on_both_engines(spark, sf, "events", "events_sessionization")


@pytest.mark.parametrize("bad", [1e17, float("nan")], ids=["1e17", "nan"])
def test_per_row_cents_raise_outside_bigint(spark, tmp_path, bad):
    """A purchase of 1e17 is 1e19 cents, past 2^63, and NaN has none:
    the per-row cents cast raises on both engines. Spark's
    ``floor(double)`` returned 2^63 - 1 and 0 where DuckDB raised."""
    base = datetime.datetime(2024, 1, 1)
    buys = [
        (500 + i, base + datetime.timedelta(minutes=i), 5, "purchase", v,
         None)
        for i, v in enumerate((185.22, bad))
    ]
    sf = _events_dir(spark, tmp_path, [185.22], extra=buys)
    _raises_on_both_engines(spark, sf, "events", "events_user_rolling_median7")


def _lineitem_dir(spark, tmp_path, values):
    """A lineitem corpus holding the q1 columns, with ``values`` as
    both quantity and price (no discount, no tax) in one group."""
    ship = datetime.datetime(1998, 1, 1)
    rows = [
        ("N", "O", v, v, 0.0, 0.0, ship) for v in values
    ] + [("A", "F", 17.0, 185.22, 0.05, 0.08, ship)]
    spark.createDataFrame(
        rows,
        "l_returnflag string, l_linestatus string, l_quantity double,"
        " l_extendedprice double, l_discount double, l_tax double,"
        " l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    return str(tmp_path)


def test_q1_shortest_repr_tie_matches_oracle(spark, gate_compare, tmp_path):
    """The tie from the sessionization test, through q1's money sums:
    a per-row DECIMAL(25,6) cast gives …000001 in Spark and …000000 in
    DuckDB; the shared micro-unit sum gives …000001 on both."""
    from almost_any_file_to_pandas_spark import plans

    sf = _lineitem_dir(spark, tmp_path, [123456789.0000005, 185.22])
    gate_compare(sf, "q1_pricing_summary")
    row = (
        plans.QUERIES["q1_pricing_summary"](spark, sf)
        .filter("l_returnflag = 'N'")
        .first()
    )
    assert row["sum_base_price"] == 123456974.220001


def test_q1_raises_outside_the_micro_unit_domain(spark, tmp_path):
    """A lineitem row of 1e13 is past the exact-sum domain
    (|x| < 9.2e12): q1 raises rather than return a sum."""
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    sf = _lineitem_dir(spark, tmp_path, [1e13])
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        plans.QUERIES["q1_pricing_summary"](spark, sf).collect()


def test_engine_conf_pins_ansi_so_micro_units_raise(spark, tmp_path):
    """A session handed in with ANSI off: the registry's wrapper turns
    ANSI back on, so the micro-unit cast still raises on 1e13 instead
    of saturating to 2^63 - 1."""
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    sf = _events_dir(spark, tmp_path, [1e13, 185.22])
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="CAST_OVERFLOW"):
            plans.QUERIES["events_sessionization"](spark, sf).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


@pytest.mark.parametrize(
    "name",
    [
        "events_tumbling_window",
        # the experiment kernel: moment fold (Σv²), per-user pre/post
        # and total micro-units
        "events_anomaly_zscore",
        "events_ab_cohort_compare",
        "events_anomaly_threshold_curve",
        "events_ab_sample_size_chebyshev",
        "events_cuped_adjustment",
        "events_cuped_adjusted_lift",
        "events_permutation_test",
        "events_ab_power_mde",
        "events_bot_user_census",
    ],
)
def test_shortest_repr_tie_and_wide_values_match_oracle(
    spark, gate_compare, tmp_path, name
):
    """The q1 tie (123456789.0000005) and values far past the repo
    corpora's (max 560.21) through every per-row value path. A per-row
    DECIMAL(25,6) or DECIMAL(18,6) cast gives …000001 in Spark and
    …000000 in DuckDB, and DuckDB's DECIMAL(18,6) square overflows
    from |x| ≈ 3037 on (5000.25 here); the shared micro-unit sums and
    sums of squares agree. A third user's three clicks, a day apart
    and ending where the other users start, move the period midpoint
    so the tie lands in the CUPED rows' post-period sums against a
    0.5-unit pre-period sum, where θ resolves a single micro-unit. A
    fourth user's ten events 0.5 s apart sit between the bot census'
    volume floor (50) and the other bot screens' floors (5)."""
    base = datetime.datetime(2024, 1, 1)
    clicks = [
        (200 + d, base + datetime.timedelta(days=d - 2), 3, "click", v, None)
        for d, v in enumerate((0.25, 0.25, 185.22))
    ]
    burst = [
        (300 + i, base + datetime.timedelta(seconds=i / 2), 4, "view",
         1.5, None)
        for i in range(10)
    ]
    sf = _events_dir(
        spark,
        tmp_path,
        [123456789.0000005, 5000.25, 185.22],
        extra=clicks + burst,
    )
    gate_compare(sf, name)


def test_cents_shortest_repr_ties_match_oracle(spark, gate_compare, tmp_path):
    """The same tie class through a whole-cents sum. Each value's
    IEEE product with 1e6 is exactly n + 0.5 with n even, so a per-row
    DECIMAL(25,6) cast rounds it up in Spark (HALF_UP on the shortest
    repr) and down in DuckDB (half-even). The hour-0 cell sums
    2·123456789.0000005 + 123456789.0049985: 3 micro-units apart, across
    a half-cent, so the two engines' cents differed by one. The shared
    micro-unit sum and ``micro_cents`` agree."""
    sf = _events_dir(spark, tmp_path, [123456789.0000005, 123456789.0049985])
    gate_compare(sf, "events_seasonality_profile")


def test_micro_cents_floors_toward_negative_infinity(spark):
    """Cents of a micro-unit sum are ⌊(s + 5000) / 10000⌋, as
    ``FLOOR(SUM(x) * 100 + 0.5)`` was: a group summing to −0.016 is
    −2 cents on both engines (a truncating division gives −1). A sum
    past 2^53 micro-units stays exact (DuckDB's DECIMAL division
    would go through DOUBLE)."""
    from decimal import Decimal

    import duckdb
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.plans import (
        micro_cents,
        micro_cents_sql,
        micro_sum,
        micro_sum_sql,
    )

    rows = [(1, -0.01), (1, -0.006), (2, -0.015), (3, 0.015)]
    want = {1: -2, 2: -1, 3: 2}
    got = spark.createDataFrame(rows, "g int, v double").groupBy("g").agg(
        micro_cents(micro_sum(F.col("v"))).alias("c")
    )
    assert {r["g"]: r["c"] for r in got.collect()} == want
    values = ", ".join(f"({g}, {v}::DOUBLE)" for g, v in rows)
    duck = duckdb.sql(
        f"SELECT g, {micro_cents_sql(micro_sum_sql('v'))}"
        f" FROM (VALUES {values}) t(g, v) GROUP BY g"
    ).fetchall()
    assert dict(duck) == want

    big = 123456789012345678
    spark_big = spark.range(1).select(
        micro_cents(F.lit(Decimal(big)).cast("decimal(38,0)")).alias("c")
    ).first()["c"]
    duck_big = duckdb.sql(
        f"SELECT {micro_cents_sql(f'CAST({big} AS DECIMAL(38,0))')}"
    ).fetchone()[0]
    assert spark_big == duck_big == 12345678901235


def test_q11_raises_outside_the_micro_unit_domain(spark, tmp_path):
    """q11's per-part value sums are micro-unit sums: a lineitem row of
    1e13 raises on both engines instead of summing to 2^63 - 1."""
    import duckdb

    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    tables = {
        "lineitem": (
            [(1, 1, 1e13), (2, 1, 185.22)],
            "l_partkey long, l_suppkey long, l_extendedprice double",
        ),
        "supplier": ([(1, 3)], "s_suppkey long, s_nationkey long"),
        "nation": ([(3, "NATION_3")], "n_nationkey long, n_name string"),
    }
    con = duckdb.connect()
    for name, (rows, schema) in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM"
            f" read_parquet('{path}/*.parquet')"
        )
    with pytest.raises(Exception, match="CAST_OVERFLOW"):
        plans.QUERIES["q11_important_parts"](spark, str(tmp_path)).collect()
    with pytest.raises(duckdb.ConversionException):
        con.execute(plans.ORACLES["q11_important_parts"]).fetchall()


@pytest.fixture()
def whitespace_docs_dir(spark, tmp_path):
    """Documents stressing the `_occurrences` stopword scan: runs of
    spaces (overlap semantics of replace), unicode whitespace
    (NBSP/em-space are NOT token separators — both engines must agree
    they don't match ' the '), tabs/newlines, NULL and empty text,
    stopwords at string edges, and adjacent-stopword runs where
    non-overlapping replace semantics decide the count."""
    rows = [
        (1, "the cat sat on the mat", "en", "web", 0),
        (2, "the  the   the", "en", "web", 0),         # space runs
        (3, "the cat and dog", "en", "web", 0),  # NBSP / em-space
        (4, "the\tcat\nand dog", "en", "web", 0),       # tab / newline
        (5, "", "en", "web", 0),                        # empty
        (6, None, "en", "web", 0),                      # NULL text
        (7, "a a a a a", "en", "wiki", 0),              # adjacent run
        (8, "of", "en", "wiki", 0),                     # exact stopword
        (9, " the ", "en", "wiki", 0),                  # pre-padded
        (10, "THE The tHe", "en", "wiki", 0),           # case folding
        (11, "in in of of to to and and is is it it", "en", "wiki", 0),
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


def test_occurrences_whitespace_residues(spark, whitespace_docs_dir):
    """The `_occurrences` stopword scan behind the budget rank key,
    per document: Spark's column form vs the oracle's SQL form."""
    import duckdb
    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.operators.budget import (
        _STOP_HITS_SQL,
    )
    from almost_any_file_to_pandas_spark.operators.textstats import (
        _STOPWORDS,
        _occurrences,
    )

    path = f"{whitespace_docs_dir}/documents.parquet"
    hits = sum(_occurrences(F.lower(F.col("text")), w) for w in _STOPWORDS)
    got = {
        r["doc_id"]: r["hits"]
        for r in spark.read.parquet(path)
        .select("doc_id", hits.alias("hits"))
        .collect()
    }
    want = dict(
        duckdb.sql(
            f"SELECT doc_id, {_STOP_HITS_SQL}"
            f" FROM read_parquet('{path}/*.parquet')"
        ).fetchall()
    )
    assert got == want


def test_quality_score_on_whitespace_docs(gate_compare, whitespace_docs_dir):
    """Quality ratios on the same hostile text: the empty document's
    whitespace ratio is NULL on both engines, never a division error."""
    gate_compare(whitespace_docs_dir, "text_quality_score")


def test_budget_trim_on_whitespace_docs(gate_compare, whitespace_docs_dir):
    """The full parent query on the same hostile text — NULL text must
    flow through the window and budget join without either engine
    dropping or NULL-poisoning rows differently."""
    gate_compare(whitespace_docs_dir, "text_token_budget_trim")


@pytest.fixture()
def budget_tie_docs_dir(spark, tmp_path):
    """Sources engineered so the greedy fill lands EXACTLY on the
    budget line, one token over it, and with q_key ties across the
    line (doc_id asc must break them identically).

    src_exact: totals 20 → budget 10; docs of 4+6 tokens fill to
    exactly 10 (cum==budget kept), next doc crosses.
    src_tie: every doc has the SAME q_key, so the kept set is decided
    purely by doc_id order at the line.
    src_odd: total 7 → budget ceil(7/2)=4; first doc has 4 tokens —
    cum==budget on the first row.
    """

    def doc(n_tokens, n_stop):
        # n_stop stopword tokens ('the') then filler — q_key is
        # (n_stop*1e6) div n_tokens, controllable per doc
        toks = ["the"] * n_stop + [f"w{i}" for i in range(n_tokens - n_stop)]
        return " ".join(toks)

    rows = [
        # src_exact: q_keys descending 750000, 500000, 0
        (1, doc(4, 3), "en", "src_exact", 0),
        (2, doc(6, 3), "en", "src_exact", 0),
        (3, doc(10, 0), "en", "src_exact", 0),
        # src_tie: all q_key == 500000, 5 docs × 4 tokens, total 20,
        # budget 10 → exactly docs 10,11 kept (doc_id asc)
        (10, doc(4, 2), "en", "src_tie", 0),
        (11, doc(4, 2), "en", "src_tie", 0),
        (12, doc(4, 2), "en", "src_tie", 0),
        (13, doc(4, 2), "en", "src_tie", 0),
        (14, doc(4, 2), "en", "src_tie", 0),
        # src_odd: budget 4, first doc exactly 4 tokens
        (20, doc(4, 4), "en", "src_odd", 0),
        (21, doc(3, 0), "en", "src_odd", 0),
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


def test_budget_trim_exact_budget_line(
    spark, gate_compare, budget_tie_docs_dir
):
    gate_compare(budget_tie_docs_dir, "text_token_budget_trim")

    # independent arithmetic pin, not just cross-engine agreement
    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    out = {
        r["source"]: r
        for r in plans.QUERIES["text_token_budget_trim"](
            spark, budget_tie_docs_dir
        ).collect()
    }
    assert out["src_exact"]["budget"] == 10
    assert out["src_exact"]["tokens_kept"] == 10  # cum==budget kept
    assert out["src_exact"]["n_kept"] == 2
    assert out["src_tie"]["n_kept"] == 2  # doc_id asc breaks the tie
    assert out["src_odd"]["tokens_kept"] == 4
    assert out["src_odd"]["n_kept"] == 1


_CORRUPT_EMBEDDINGS = [
    (0, [1.0, 0.0, 0.0, 0.0], "a"),
    (1, None, "a"),
    (2, [1.0, 2.0], "a"),                       # dim drift
    (3, [float("nan"), 1.0, 1.0, 1.0], "a"),
    (4, [float("inf"), 1.0, 1.0, 1.0], "a"),
    (5, [0.0, 0.0, 0.0, 0.0], "a"),             # zero norm
    (6, [1.0000005, 0.0, 0.0, 0.0], "b"),       # tie-adjacent norm
    (7, [0.5, 0.5, 0.5, 0.5], "b"),
]


def _embeddings_dir(spark, tmp_path, rows):
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return str(tmp_path)


def test_hygiene_report_on_corrupt_corpus(spark, gate_compare, tmp_path):
    """Corrupt embeddings through the REGISTERED hygiene query vs the
    oracle — NULLs, dimension drift, NaN, Inf, zero vectors, plus a
    norm whose sumsq·1e6 sits near a quantization boundary."""
    sf = _embeddings_dir(spark, tmp_path, _CORRUPT_EMBEDDINGS)
    gate_compare(sf, "embedding_hygiene_report")


def test_hygiene_report_raises_past_the_q6_domain(spark, tmp_path):
    """A finite component of 1e13 gives a norm of 1e19 q6 units, past
    2^63: the q6 cast raises on both engines. Spark's
    ``floor(double)`` returned 2^63 - 1 where DuckDB raised."""
    rows = _CORRUPT_EMBEDDINGS + [(8, [1e13, 0.0, 0.0, 0.0], "b")]
    sf = _embeddings_dir(spark, tmp_path, rows)
    _raises_on_both_engines(
        spark, sf, "embeddings", "embedding_hygiene_report"
    )


def test_effective_rank_raises_past_the_gram_quantum(spark, tmp_path):
    """A 64-dim row with one component of 1e13 squares to 1e32 q6
    units, past 2^63: ``gram_moments`` raises where its int64 cast
    wrapped the quantum to -2^63, and the PR oracle's per-row BIGINT
    cast raises too. (``gram_moments`` reads only 64-dim rows.)"""
    rows = [(0, [0.5] * 64, "a"), (1, [1e13] + [0.0] * 63, "b")]
    sf = _embeddings_dir(spark, tmp_path, rows)
    _raises_on_both_engines(
        spark, sf, "embeddings", "emb_effective_rank_pr",
        match="OverflowError: gram_moments: a quantum overflows int64",
    )


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@pytest.fixture()
def link_path_dir(spark, tmp_path):
    """23 customers and 23 suppliers whose fuzzy-match graph is ONE
    46-node path: customer k (node 2k) matches suppliers k - 1 and k
    (nodes 2k - 1 and 2k + 1) and no one else. Names are 12-letter
    windows sliding 3 letters per path step over one random string, so
    path neighbours are 6 edits apart and every other
    customer/supplier pair more than LINK_MAX_DIST; all rows share the
    nation and the 2-character block suffix."""
    from almost_any_file_to_pandas_spark.operators.linkage import (
        LINK_MAX_DIST,
    )

    n = 46
    rng = random.Random(0)
    seq = "".join(
        rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(3 * n + 9)
    )
    names = [seq[3 * p : 3 * p + 12] + "zz" for p in range(n)]
    for p in range(0, n, 2):
        for q in range(1, n, 2):
            near = _levenshtein(names[p], names[q]) <= LINK_MAX_DIST
            assert near == (abs(p - q) == 1), (p, q)
    spark.createDataFrame(
        [(k, names[2 * k], 7, 100.0 + (k * 37) % 23, "BUILDING")
         for k in range(n // 2)],
        "c_custkey long, c_name string, c_nationkey int,"
        " c_acctbal double, c_mktsegment string",
    ).coalesce(1).write.parquet(str(tmp_path / "customer.parquet"))
    spark.createDataFrame(
        [(k, names[2 * k + 1], 7, 100.5 + (k * 11) % 23)
         for k in range(n // 2)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).coalesce(1).write.parquet(str(tmp_path / "supplier.parquet"))
    return str(tmp_path)


def test_link_clusters_on_a_long_match_path(gate_compare, link_path_dir):
    """All 46 records are one entity: the cluster label must travel
    the full 45-hop path, and the golden record is elected over all of
    them."""
    gate_compare(link_path_dir, "link_entity_clusters")
    gate_compare(link_path_dir, "link_golden_records")
