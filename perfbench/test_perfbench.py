"""Self-tests of the benchmark's own parts: input generators, the
tolerant comparator and the event-log reader.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import math
import os
import sys
from operator import add
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import check  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402


def test_same_seed_gives_identical_inputs(tmp_path):
    for k in ("a", "b"):
        inputs.make_corpus(tmp_path / k / "corpus", 0.001, 7)
        inputs.make_ingest_set(tmp_path / k / "ingest", 7, 200)
    a = inputs.file_hashes(tmp_path / "a")
    assert len(a) == len(inputs.CORPUS_TABLES) + 6
    assert a == inputs.file_hashes(tmp_path / "b")
    inputs.make_ingest_set(tmp_path / "c", 8, 200)
    c = inputs.file_hashes(tmp_path / "c")
    other = {k: v for k, v in a.items() if k.startswith("ingest/")}
    assert all(other[f"ingest/{k}"] != v for k, v in c.items())


def test_corpus_foreign_keys_line_up():
    t = inputs.corpus_tables(0.001, 3)
    orders = set(t["orders"]["o_orderkey"].to_pylist())
    assert set(t["lineitem"]["l_orderkey"].to_pylist()) <= orders
    assert max(t["orders"]["o_custkey"].to_pylist()) < t["customer"].num_rows
    assert max(t["lineitem"]["l_partkey"].to_pylist()) < t["part"].num_rows
    assert max(t["lineitem"]["l_suppkey"].to_pylist()) < t["supplier"].num_rows


def test_every_query_has_a_verified_fingerprint():
    import json

    import run

    expected = json.loads((Path(run.BENCH_DIR) / "expected.json").read_text())
    for w in run.WORKLOADS.values():
        for name, sf in w.ops:
            entry = expected["ops"][name]
            assert entry["corpus"] == run.corpus_name(sf)
            assert entry["oracle"] == "matches the DuckDB oracle"
            assert expected["corpus"][entry["corpus"]]["sf"] == sf


def test_steal_share_of_the_ticks_between_two_readings():
    import run

    assert run.steal_share((10, 1000), (60, 1400)) == 50 / 400
    assert run.steal_share((10, 1000), (10, 1000)) == 0.0
    stolen, total = run.cpu_ticks()
    assert 0 <= stolen <= total


COLS = ["k", "name", "total", "n"]
ROWS = [
    (1, "a", 1234.5678901234, 3),
    (2, "b", -0.1, 4),
    (3, "b", 1e12 / 3, None),
    (4, None, None, 5),
]


def test_comparator_accepts_last_digit_drift():
    drifted = [
        (k, s, None if x is None else math.nextafter(x, math.inf), n)
        for k, s, x, n in ROWS
    ]
    want = check.fingerprint(COLS, ROWS)
    assert check.compare(want, check.fingerprint(COLS, list(reversed(drifted)))) == []


@pytest.mark.parametrize(
    "changed",
    [
        (2, "c", -0.1, 4),  # a string
        (2, "b", -0.1, 5),  # an int
        (2, "b", -0.1001, 4),  # a double beyond the tolerance
        (2, "b", None, 4),  # a double turned null
    ],
)
def test_comparator_rejects_a_changed_row(changed):
    rows = [changed if r[0] == 2 else r for r in ROWS]
    assert check.compare(check.fingerprint(COLS, ROWS), check.fingerprint(COLS, rows))


def test_comparator_rejects_a_missing_row():
    want = check.fingerprint(COLS, ROWS)
    assert check.compare(want, check.fingerprint(COLS, ROWS[1:]))


def test_span_is_the_union_of_intervals():
    assert eventlog.span_s([(0, 1000), (500, 1500), (3000, 3500)]) == 2.0
    assert eventlog.span_s([]) == 0.0


def test_event_log_reader_counts_jobs_stages_tasks(tmp_path, monkeypatch):
    """Two tagged jobs with known shapes: a 4-into-2 partition shuffle
    (one job, two stages, six tasks) and a 2-partition count."""
    from pyspark import SparkConf, SparkContext

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    monkeypatch.setenv("SPARK_LOCAL_DIRS", str(tmp_path / "local"))
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(sys.path))
    conf = (
        SparkConf()
        .setMaster("local[2]")
        .setAppName("perfbench-selftest")
        .set("spark.ui.enabled", "false")
        .set("spark.eventLog.enabled", "true")
        .set("spark.eventLog.dir", log_dir.as_uri())
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    sc = SparkContext(conf=conf)
    try:
        sc.setJobGroup("shuffle", "shuffle")
        pairs = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1))
        assert sorted(pairs.reduceByKey(add, 2).collect()) == [(0, 34), (1, 33), (2, 33)]
        sc.setJobGroup("count", "count")
        assert sc.parallelize(range(10), 2).count() == 10
    finally:
        sc.stop()
    stats = eventlog.read_groups(eventlog.event_log_file(log_dir))
    assert set(stats) == {"shuffle", "count"}
    shuffle, count = stats["shuffle"], stats["count"]
    assert (shuffle.jobs, shuffle.stages, shuffle.tasks) == (1, 2, 6)
    assert (count.jobs, count.stages, count.tasks) == (1, 1, 2)
    assert shuffle.shuffle_write_mb > 0 and count.shuffle_write_mb == 0
    assert shuffle.tasks_failed == count.tasks_failed == 0
    assert 0 < eventlog.span_s(shuffle.stage_intervals) < 60
