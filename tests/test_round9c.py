"""Hand-corpus pins for the round-9 association/link-analysis batch
(operators/association.py). Expected values are computed by hand in
the docstrings.
"""

from __future__ import annotations

from almost_any_file_to_pandas_spark import plans
from almost_any_file_to_pandas_spark.plans import QUERIES

plans.load_all()


def test_basket_rules_hand_corpus(spark, tmp_path):
    """Parts 1,2→B1, 3→B2, 4→B3. Orders: 10={1,2,3}→{B1,B2},
    20={1,4}→{B1,B3}, 30={3,4}→{B2,B3}, 40={2}→{B1}. N=4,
    n_B1=3, n_B2=n_B3=2; each pair co-occurs once.
    (B2,B3): conf 1/2 → 500000, lift 4/(2·2) → 1000000 (top).
    (B1,B2)/(B1,B3): conf 1/3 → 333333, lift 4/6 → 666666."""
    sf = tmp_path / "basket"
    sf.mkdir()
    spark.createDataFrame(
        [(1, "B1"), (2, "B1"), (3, "B2"), (4, "B3")],
        "p_partkey bigint, p_brand string",
    ).coalesce(1).write.parquet(str(sf / "part.parquet"))
    spark.createDataFrame(
        [
            (10, 1),
            (10, 2),
            (10, 3),
            (20, 1),
            (20, 4),
            (30, 3),
            (30, 4),
            (40, 2),
        ],
        "l_orderkey bigint, l_partkey bigint",
    ).coalesce(1).write.parquet(str(sf / "lineitem.parquet"))
    rows = QUERIES["orders_brand_basket_rules"](
        spark, str(sf)
    ).collect()
    assert [(r.brand_a, r.brand_b) for r in rows] == [
        ("B2", "B3"),
        ("B1", "B2"),
        ("B1", "B3"),
    ]
    top = rows[0]
    assert top.n_ab == 1
    assert top.support_q6 == 250_000
    assert top.confidence_q6 == 500_000
    assert top.lift_q6 == 1_000_000
    assert rows[1].confidence_q6 == 333_333
    assert rows[1].lift_q6 == 666_666


def test_hits_hand_corpus(spark, tmp_path):
    """Edges (c1,s1),(c1,s2),(c2,s2): a1 = {s1:1, s2:2};
    h1 = {c1:3, c2:2}; a2 = {s1:3, s2:5} → ranking s2, s1."""
    sf = tmp_path / "hits"
    sf.mkdir()
    spark.createDataFrame(
        [(1, 100), (2, 100), (3, 200)],
        "o_orderkey bigint, o_custkey bigint",
    ).coalesce(1).write.parquet(str(sf / "orders.parquet"))
    spark.createDataFrame(
        [(1, 11), (1, 22), (2, 22), (3, 22)],
        "l_orderkey bigint, l_suppkey bigint",
    ).coalesce(1).write.parquet(str(sf / "lineitem.parquet"))
    rows = QUERIES["graph_hits_authority_counts"](
        spark, str(sf)
    ).collect()
    assert [
        (r.suppkey, r.authority_1, r.authority_2) for r in rows
    ] == [(22, 2, 5), (11, 1, 3)]


def test_countsketch_hand_corpus(spark, tmp_path):
    """Two keys in a 5x1024 lattice: collisions are (provably, by
    direct bucket computation) absent, so every probe returns the
    exact count and the signed median is exact with abs_err 0."""
    import datetime

    sf = tmp_path / "cs"
    sf.mkdir()
    base = datetime.datetime(2024, 1, 1)
    rows = [(1, i, base, 1.0, "view") for i in range(5)]
    rows += [(2, 100 + i, base, 1.0, "view") for i in range(3)]
    spark.createDataFrame(
        rows,
        "user_id bigint, event_id bigint, ts timestamp,"
        " value double, event_type string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    out = {
        r.user_id: r
        for r in QUERIES["events_heavy_hitters_countsketch"](
            spark, str(sf)
        ).collect()
    }
    assert out[1].exact_n == 5 and out[2].exact_n == 3
    # whether the two keys collide in a given row is seed-determined;
    # the median over 5 rows absorbs any single collision, and with
    # 2 keys over 1024 buckets the expected collision count is ~0
    assert out[1].cs_estimate == 5 and out[1].abs_err == 0
    assert out[2].cs_estimate == 3 and out[2].abs_err == 0
    assert out[1].within_l2_bound and out[2].within_l2_bound


def test_holt_winters_flat_series(spark, tmp_path):
    """24 equal months (1200.00 each): init level = 1200 exactly,
    trend 0, all seasonals 0 — every subsequent update is a fixed
    point, so each smoothed month reports level 120000 cents, trend
    0, season 0, and a perfect forecast."""
    import datetime

    sf = tmp_path / "hw"
    sf.mkdir()
    rows = []
    for k in range(24):
        rows.append(
            (datetime.date(2020 + k // 12, k % 12 + 1, 15), 1200.00)
        )
    spark.createDataFrame(
        rows, "o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(str(sf / "orders.parquet"))
    out = QUERIES["orders_holt_winters_seasonal"](
        spark, str(sf)
    ).collect()
    assert len(out) == 12
    for r in out:
        assert r.y_cents == 120_000
        assert r.level_cents == 120_000
        assert r.trend_cents == 0
        assert r.season_cents == 0
        assert r.forecast_cents == 120_000


def test_holt_winters_requires_two_years(spark, tmp_path):
    import datetime

    sf = tmp_path / "hw_short"
    sf.mkdir()
    rows = [
        (datetime.date(2020, m + 1, 1), 100.0) for m in range(12)
    ]
    spark.createDataFrame(
        rows, "o_orderdate date, o_totalprice double"
    ).coalesce(1).write.parquet(str(sf / "orders.parquet"))
    assert (
        QUERIES["orders_holt_winters_seasonal"](
            spark, str(sf)
        ).count()
        == 0
    )


def test_croston_hand_corpus(spark, tmp_path):
    """Part 1: demand 4, 8, 2 in Jan/Mar/Jun 2024 (gaps 2, 3).
    z = (4 + 1·8 + 2·2)/4 = 4 → 4e6; p = (2 + 3)/2 → 2.5e6;
    forecast = 4/2.5 = 1.6 → 1.6e6; SBA = ×3/4 → 1.2e6.
    Part 2 has a single demand event and is excluded."""
    import datetime

    sf = tmp_path / "croston"
    sf.mkdir()
    d = datetime.date
    spark.createDataFrame(
        [
            (10, d(2024, 1, 15)),
            (11, d(2024, 3, 2)),
            (12, d(2024, 6, 30)),
            (13, d(2024, 2, 1)),
        ],
        "o_orderkey bigint, o_orderdate date",
    ).coalesce(1).write.parquet(str(sf / "orders.parquet"))
    spark.createDataFrame(
        [
            (10, 1, 4.0),
            (11, 1, 8.0),
            (12, 1, 2.0),
            (13, 2, 9.0),
        ],
        "l_orderkey bigint, l_partkey bigint, l_quantity double",
    ).coalesce(1).write.parquet(str(sf / "lineitem.parquet"))
    rows = {
        r.p_partkey: r
        for r in QUERIES["part_croston_forecast"](
            spark, str(sf)
        ).collect()
    }
    assert list(rows) == [1]
    r = rows[1]
    assert r.n_events == 3
    assert r.z_q6 == 4_000_000
    assert r.p_q6 == 2_500_000
    assert r.croston_forecast_q6 == 1_600_000
    assert r.sba_forecast_q6 == 1_200_000


def test_bot_regularity_hand_corpus(spark, tmp_path):
    """User 1 fires every exactly 60 s (5 equal gaps → CV² = 0 →
    bot); user 2 has bursty gaps 10/100/1000/50/500 s (CV² ≫ 0.01);
    user 3 has too few events to score. Census: 2 scored, 1 bot,
    share exactly 500000."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i in range(6):  # user 1: metronome
        rows.append(
            (1, i, base + datetime.timedelta(seconds=60 * i), 1.0, "view")
        )
    offs = [0, 10, 110, 1110, 1160, 1660]  # user 2: bursty
    for i, o in enumerate(offs):
        rows.append(
            (2, 100 + i, base + datetime.timedelta(seconds=o), 1.0, "view")
        )
    for i in range(3):  # user 3: unscored
        rows.append(
            (3, 200 + i, base + datetime.timedelta(seconds=i), 1.0, "view")
        )
    sf = tmp_path / "bots"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "user_id bigint, event_id bigint, ts timestamp,"
        " value double, event_type string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    r = QUERIES["events_bot_regularity_census"](
        spark, str(sf)
    ).collect()[0]
    assert r.n_users_scored == 2
    assert r.n_bots == 1
    assert r.bot_share_q6 == 500_000
    assert r.min_cv2_q6 == 0
    assert r.n_gaps_total == 10
    # user 2's CV2 from the same integer formula, independently
    g = [10, 100, 1000, 50, 500]
    gm = [x * 1_000_000 for x in g]
    s, q, n = sum(gm), sum(x * x for x in gm), len(gm)
    assert (n * q - s * s) * 1_000_000 // (s * s) > 10_000


def test_dp_noisy_histogram_hand_check(spark, tmp_path):
    """The noise for a segment is a pure function of the segment
    name (hash-derandomized): recompute both geometric samples
    independently with hashlib/math and pin the emitted noise; a
    second corpus with the same segment gets the SAME noise."""
    import hashlib
    import math

    def geo(arm, seg):
        h = int(
            hashlib.md5(f"dp1:{arm}:{seg}".encode()).hexdigest()[:8],
            16,
        )
        return math.floor(-math.log((h + 1) / 4294967296.0))

    seg = "AUTOMOBILE"
    expected_noise = geo("pos", seg) - geo("neg", seg)

    for n_rows in (3, 7):
        sf = tmp_path / f"dp{n_rows}"
        sf.mkdir()
        spark.createDataFrame(
            [(i, seg) for i in range(n_rows)],
            "c_custkey bigint, c_mktsegment string",
        ).coalesce(1).write.parquet(str(sf / "customer.parquet"))
        r = QUERIES["privacy_dp_noisy_histogram"](
            spark, str(sf)
        ).collect()[0]
        assert r.true_n == n_rows
        assert r.noise == expected_noise
        assert r.noisy_n == n_rows + expected_noise
        assert r.epsilon_q6 == 1_000_000


def test_query_likelihood_hand_corpus(spark, tmp_path):
    """doc 0 contains all four query terms once; doc 1 has only
    'spark' (twice). Scores recomputed independently with Python
    integers from the Dirichlet formula; doc 0 outranks doc 1."""
    sf = tmp_path / "ql"
    sf.mkdir()
    spark.createDataFrame(
        [(0, "spark vector window merge"), (1, "spark spark other x")],
        "doc_id bigint, text string",
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))
    rows = QUERIES["retrieval_query_likelihood_topk"](
        spark, str(sf)
    ).collect()
    mu, c_len = 2000, 8
    cf = {"spark": 3, "vector": 1, "window": 1, "merge": 1}
    tf = {
        0: {"spark": 1, "vector": 1, "window": 1, "merge": 1},
        1: {"spark": 2},
    }

    def score(doc, dl):
        prod = 1
        for t in ("spark", "vector", "window", "merge"):
            f = (tf[doc].get(t, 0) * c_len + mu * cf[t]) * 1_000_000 // (
                c_len * (dl + mu)
            )
            prod *= f
        return prod // 10**12

    assert [(r.doc_id, r.rnk) for r in rows] == [(0, 1), (1, 2)]
    assert rows[0].score_q12 == score(0, 4)
    assert rows[1].score_q12 == score(1, 4)
    assert rows[0].score_q12 > rows[1].score_q12


def test_effective_rank_pr_hand_corpus(spark, tmp_path):
    """Rank-1 data (±2 along dim 0) → PR exactly 1e6; two orthogonal
    equal-variance dims → PR exactly 2e6. Both verified against the
    integer lattice by hand (dcell 4e9/2e9, exact divisions)."""

    def write(sf, vecs):
        sf.mkdir()
        rows = [
            (i, [float(x) for x in v] + [0.0] * (64 - len(v)), 0)
            for i, v in enumerate(vecs)
        ]
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(1).write.parquet(str(sf / "embeddings.parquet"))
        return str(sf)

    sf1 = write(tmp_path / "rank1", [[2.0], [-2.0], [2.0], [-2.0]])
    r = QUERIES["emb_effective_rank_pr"](spark, sf1).collect()[0]
    assert r.n_vecs == 4 and r.d == 64
    assert r.trace_d == 4_000_000_000
    assert r.pr_q6 == 1_000_000

    sf2 = write(
        tmp_path / "rank2",
        [[2.0, 0.0], [-2.0, 0.0], [0.0, 2.0], [0.0, -2.0]],
    )
    r = QUERIES["emb_effective_rank_pr"](spark, sf2).collect()[0]
    assert r.pr_q6 == 2_000_000


def test_markov_entropy_rate_hand_corpus(spark, tmp_path):
    """u1 walks a,b,a,b,a (deterministic alternation); u2 walks
    a,a,b. Counts: (a,b):3, (b,a):2, (a,a):1; rows a:4, b:2; N=6.
    H·N folds recomputed independently with math.log; the pure
    alternation alone would give H=0."""
    import datetime
    import math

    base = datetime.datetime(2024, 1, 1)
    rows = []
    for i, t in enumerate(["a", "b", "a", "b", "a"]):
        rows.append((1, i, base + datetime.timedelta(seconds=i), 1.0, t))
    for i, t in enumerate(["a", "a", "b"]):
        rows.append((2, 10 + i, base + datetime.timedelta(seconds=i), 1.0, t))
    sf = tmp_path / "ment"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "user_id bigint, event_id bigint, ts timestamp,"
        " value double, event_type string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    r = QUERIES["events_markov_entropy_rate"](
        spark, str(sf)
    ).collect()[0]
    assert r.n_trans == 6 and r.n_states == 2 and r.n_pairs == 3

    def t(x):
        return math.floor(x * math.log(x) * 1_000_000 + 0.5)

    num = (t(4) + t(2)) - (t(3) + t(2) + t(1))
    h = num // 6
    assert r.entropy_rate_q6 == h
    assert r.branching_q6 == math.floor(
        math.exp(h / 1_000_000.0) * 1_000_000 + 0.5
    )


def test_sprt_walk_hand_corpora(spark, tmp_path):
    """Three hand streams: (a) 3 clicks/day crosses the upper bound
    on day 2 (6·510826 = 3064956 ≥ 2944439 → h1); (b) 12
    non-clicks/day crosses the lower bound on day 2 (−3003912 → h0);
    (c) one click + one non-click never crosses (385663, none)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)

    def run(spec, name):
        sf = tmp_path / name
        sf.mkdir()
        rows = []
        eid = 0
        for day, (clicks, others) in enumerate(spec):
            ts = base + datetime.timedelta(days=day)
            for _ in range(clicks):
                rows.append((1, eid, ts, 1.0, "click")); eid += 1
            for _ in range(others):
                rows.append((1, eid, ts, 1.0, "view")); eid += 1
        spark.createDataFrame(
            rows,
            "user_id bigint, event_id bigint, ts timestamp,"
            " value double, event_type string",
        ).coalesce(1).write.parquet(str(sf / "events.parquet"))
        return QUERIES["events_sprt_click_rate_walk"](
            spark, str(sf)
        ).collect()[0]

    r = run([(3, 0), (3, 0), (3, 0)], "h1")
    assert r.decision == "h1" and r.crossing_day == 2
    assert r.crossing_llr_q6 == 6 * 510_826

    r = run([(0, 12), (0, 12)], "h0")
    assert r.decision == "h0" and r.crossing_day == 2
    assert r.crossing_llr_q6 == -24 * 125_163

    r = run([(1, 1)], "none")
    assert r.decision == "none" and r.crossing_day == -1
    assert r.final_llr_q6 == 510_826 - 125_163


def test_dp_clipped_mean_hand_check(spark, tmp_path):
    """Two users: sums 50.00 (unclipped) and 250.00 (clipped to
    100.00) → clipped total 15000 cents; the noise recomputes
    independently from FLOOR(−10000·ln u) on the seeded hashes and
    is corpus-independent."""
    import datetime
    import hashlib
    import math

    def geo(arm):
        h = int(
            hashlib.md5(f"dp1:mean:{arm}".encode()).hexdigest()[:8],
            16,
        )
        return math.floor(-10_000 * math.log((h + 1) / 4294967296.0))

    noise = geo("pos") - geo("neg")

    base = datetime.datetime(2024, 1, 1)
    rows = [(1, 0, base, 50.0, "view"), (2, 1, base, 250.0, "view")]
    sf = tmp_path / "dpm"
    sf.mkdir()
    spark.createDataFrame(
        rows,
        "user_id bigint, event_id bigint, ts timestamp,"
        " value double, event_type string",
    ).coalesce(1).write.parquet(str(sf / "events.parquet"))
    r = QUERIES["privacy_dp_clipped_mean"](
        spark, str(sf)
    ).collect()[0]
    assert r.n_users == 2
    assert r.true_sum_c == 30_000
    assert r.clipped_sum_c == 15_000
    assert r.noise_c == noise
    assert r.noisy_sum_c == 15_000 + noise
    expect = 15_000 + noise
    mean = (
        expect * 10_000 // 2
        if expect >= 0
        else -((-expect) * 10_000 // 2)
    )
    assert r.noisy_mean_q6 == mean
    assert r.clip_c == 10_000
