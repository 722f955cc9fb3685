"""Focused tests for the round-9 optimization rewrites.

Each test pins the risky internal of an optimization that changed an
operator's physical shape while keeping its output contract:

- ``events_rate_limit_audit`` moved from per-user ``applyInPandas`` to
  one ``mapInPandas`` pass over user-partitioned sorted rows — the
  risky path is a user whose rows SPLIT across Arrow batches (bucket
  state must carry over the boundary).
- ``connected_components`` moved each star's min from a groupBy+join
  to a whole-partition window and its convergence probe to a
  digest-gated exact check — pinned against a brute-force reference
  on an adversarial long-path, a star + isolated-pair graph and a
  random graph.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F


def _reference_rate_limit(rows):
    """Driver-side replay of the shared kernel over (user, us,
    event_id)-sorted rows."""
    from almost_any_file_to_pandas_spark.streaming.events import (
        _RL_CAP_MU,
        _rate_limit_rows,
    )

    out = {}
    by_user = {}
    for user, eid, us in rows:
        by_user.setdefault(user, []).append((eid, us))
    for user, evs in by_user.items():
        evs.sort(key=lambda t: (t[1], t[0]))
        dec, _, _ = _rate_limit_rows(iter(evs), _RL_CAP_MU, None)
        for eid, allowed, tok in dec:
            out[(user, eid)] = (allowed, tok)
    return out


def test_rate_limit_audit_state_carries_across_arrow_batches(
    spark, tmp_path
):
    """Force 4-row Arrow batches so nearly every user's event run is
    split across batch boundaries inside the mapInPandas pass; the
    carried (tokens, last) state must make the output identical to a
    single-batch replay of the same kernel."""
    from almost_any_file_to_pandas_spark.plans import QUERIES, load_all

    load_all()
    rows = []
    # 3 users x 40 events each, tight and loose spacings so both the
    # throttled and refilled branches execute across batch boundaries
    for user in (1, 2, 3):
        us = 1_700_000_000_000_000
        for i in range(40):
            us += (17_000_000 if i % 3 else 2_000_000_000) * user
            rows.append((user, user * 1000 + i, us))
    sf = tmp_path / "sf"
    sf.mkdir()
    ev = spark.createDataFrame(
        [(u, e, us) for (u, e, us) in rows],
        "user_id long, event_id long, us long",
    ).select(
        "user_id", "event_id", F.timestamp_micros(F.col("us")).alias("ts")
    )
    ev.write.mode("overwrite").parquet(str(sf / "events.parquet"))

    old_batch = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
    )
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        got = {
            (r["user_id"], r["event_id"]): (
                r["allowed"],
                r["tokens_milli_after"],
            )
            for r in QUERIES["events_rate_limit_audit"](
                spark, str(sf)
            ).collect()
        }
    finally:
        spark.conf.set(
            "spark.sql.execution.arrow.maxRecordsPerBatch", old_batch
        )
    assert got == _reference_rate_limit(rows)
    assert len(got) == len(rows)
    # both kernel branches actually ran
    assert any(a for (a, _) in got.values())
    assert any(not a for (a, _) in got.values())


def _random_edges(n_edges, n_nodes, seed):
    rng = random.Random(seed)
    return [
        (rng.randrange(n_nodes), rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]


@pytest.mark.parametrize(
    "edges",
    [
        # long path (adversarial for propagation, O(log n) here)
        [(i, i + 1) for i in range(0, 60)],
        # star + isolated pair + duplicate/self edges
        [(100, j) for j in range(101, 140)]
        + [(500, 501), (500, 501), (7, 7), (200, 300), (300, 400)],
        # random graph over 200 nodes, self-loops dropped
        [e for e in _random_edges(150, 200, seed=7) if e[0] != e[1]],
    ],
)
@pytest.mark.parametrize("edge_cap", [None, 0])
def test_cc_alternating_window_form_matches_bruteforce(
    spark, monkeypatch, edges, edge_cap
):
    """edge_cap=None keeps CC_DRIVER_EDGE_CAP, so these small graphs
    take the driver union-find regime; edge_cap=0 forces the
    distributed star loop. Both regimes must emit identical min-root
    labels."""
    from almost_any_file_to_pandas_spark.operators import dedup

    if edge_cap is not None:
        monkeypatch.setattr(dedup, "CC_DRIVER_EDGE_CAP", edge_cap)
    df = spark.createDataFrame(edges, "u long, v long")
    got = {
        r["u"]: r["lbl"]
        for r in dedup.connected_components(df).collect()
    }
    # brute force: min node id per connected component
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    want = {x: find(x) for x in parent}
    assert got == want
