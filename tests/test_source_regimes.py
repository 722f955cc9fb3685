"""The two decode regimes of the SQLite and DBF sources
(``sources.decoded_frame``): a file at or under
``sources.DRIVER_DECODE_BYTES`` decodes on the driver, a bigger one in
range-scan tasks. Both must give the same tables; the driver one
must start no Python worker and write as one file.
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from almost_any_file_to_pandas_spark import sinks, sources
from almost_any_file_to_pandas_spark.sources.dbf import read_dbf
from almost_any_file_to_pandas_spark.sources.sqlite import read_sqlite
from tests.test_dbf_source import _make_dbf


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _tables(results) -> list:
    return [
        (r.sheet_name, r.data.schema, [tuple(x) for x in r.data.collect()])
        for r in results
    ]


def _both_regimes(spark, monkeypatch, read, path: str):
    """(driver tables, range tables, driver engines, range engines)."""
    driver = read(spark, path)
    with monkeypatch.context() as m:
        m.setattr(sources, "DRIVER_DECODE_BYTES", os.path.getsize(path) - 1)
        ranged = read(spark, path)
        ranged_tables = _tables(ranged)
    return (
        _tables(driver),
        ranged_tables,
        [r.engine for r in driver],
        [r.engine for r in ranged],
    )


@pytest.fixture()
def mixed_db(tmp_path):
    path = tmp_path / "mixed.sqlite"
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE big (v INTEGER)")
    con.executemany(
        "INSERT INTO big VALUES (?)",
        [(2**60 + 1,), (None,)] + [(i,) for i in range(6)],
    )
    con.execute(
        "CREATE TABLE typed (k INTEGER, v INTEGER, r REAL, s TEXT, b BLOB, u)"
    )
    con.executemany(
        "INSERT INTO typed VALUES (?,?,?,?,?,?)",
        [
            (1, 42, 9.5, "ada", b"\x01", "free"),
            (2, "not a number", None, None, None, 7),
            (3, 2.0, -0.5, "", b"", None),
            (4, 2.5, 1e300, "eve", None, b"x"),
        ],
    )
    con.execute("CREATE TABLE sparse (n INTEGER)")
    con.executemany(
        "INSERT INTO sparse (rowid, n) VALUES (?,?)",
        [(i * 97 + 5, i) for i in range(200)],
    )
    con.execute("DELETE FROM sparse WHERE n % 3 = 0")
    con.execute("CREATE TABLE empty_t (a INTEGER, b TEXT)")
    con.execute(
        "CREATE TABLE kv (k TEXT PRIMARY KEY, v INTEGER) WITHOUT ROWID"
    )
    con.executemany("INSERT INTO kv VALUES (?,?)", [("b", 2**62), ("a", None)])
    con.commit()
    con.close()
    return str(path)


def test_sqlite_regimes_agree(spark, mixed_db, monkeypatch):
    driver, ranged, d_eng, r_eng = _both_regimes(
        spark, monkeypatch, read_sqlite, mixed_db
    )
    assert [t[0] for t in driver] == ["big", "empty_t", "kv", "sparse", "typed"]
    assert driver == ranged
    by_name = {name: rows for name, _, rows in driver}
    assert sorted(by_name["big"], key=str) == sorted(
        [(2**60 + 1,), (None,), *((i,) for i in range(6))], key=str
    )
    assert [row[1] for row in by_name["typed"]] == [42, None, 2, None]
    assert [n for (n,) in by_name["sparse"]] == [
        i for i in range(200) if i % 3 != 0
    ]
    assert by_name["empty_t"] == []
    assert sorted(by_name["kv"]) == [("a", None), ("b", 2**62)]
    # big, sparse and typed changed regime; the empty and WITHOUT ROWID
    # tables decode on the driver under both
    assert all("; driver, " in e for e in d_eng), d_eng
    assert "≤ 1 MB)" in d_eng[0]
    assert [e.split("; ")[1].rsplit(",", 1)[0] for e in r_eng] == [
        "rowid-range parallel",
        "driver",
        "driver",
        "rowid-range parallel",
        "rowid-range parallel",
    ], r_eng
    assert r_eng[1].endswith("no rows)") and r_eng[2].endswith("WITHOUT ROWID)")


def test_dbf_regimes_agree(spark, tmp_path, monkeypatch):
    fields = [
        ("ID", "N", 19, 0),
        ("NAME", "C", 6, 0),
        ("PRICE", "N", 8, 2),
        ("ACTIVE", "L", 1, 0),
        ("BORN", "D", 8, 0),
    ]
    records = [
        [str(2**60 + 1).rjust(19), "ada   ", "   12.50", "T", "19990131"],
        [" " * 19, "bob   ", "        ", "F", "        "],
        ["3".rjust(19), "eve   ", "   -0.25", "?", "20240229"],
        ["9".rjust(19), "gone  ", "    1.00", "T", "20200101"],
    ] + [[str(i).rjust(19), "x     ", "    0.50", "Y", "20000101"] for i in range(40)]
    path = tmp_path / "table.dbf"
    path.write_bytes(_make_dbf(fields, records, deleted={3, 10, 11}))
    driver, ranged, d_eng, r_eng = _both_regimes(
        spark, monkeypatch, read_dbf, str(path)
    )
    assert driver == ranged
    ids = [row[0] for row in driver[0][2]]
    assert ids == [2**60 + 1, None, 3] + [i for i in range(40) if i not in (6, 7)]
    assert "driver" in d_eng[0] and "record-range parallel" in r_eng[0]

    empty = tmp_path / "empty.dbf"
    empty.write_bytes(_make_dbf(fields, []))
    driver, ranged, _, r_eng = _both_regimes(
        spark, monkeypatch, read_dbf, str(empty)
    )
    assert driver == ranged and driver[0][2] == []
    assert "driver, no rows" in r_eng[0]


def test_small_sqlite_decodes_on_the_driver_and_writes_one_file(
    spark, mixed_db, tmp_path, monkeypatch
):
    """Under the cut no ``MapInArrow`` is planned (no Python worker
    starts) and the table is one partition, so the sink writes one
    data file; the range regime plans the scan it replaced."""
    sparse = {r.sheet_name: r for r in read_sqlite(spark, mixed_db)}["sparse"]
    assert "MapInArrow" not in _plan(sparse.data)
    out = sinks.write(sparse.data, tmp_path / "sparse.csv", mode="overwrite")
    assert len(list((tmp_path / "sparse.csv").glob("part-*"))) == 1, out

    monkeypatch.setattr(sources, "DRIVER_DECODE_BYTES", os.path.getsize(mixed_db) - 1)
    ranged = {r.sheet_name: r for r in read_sqlite(spark, mixed_db)}
    assert "MapInArrow" in _plan(ranged["sparse"].data)


def test_corrupt_table_fails_alone_on_the_driver(spark, tmp_path):
    """A table whose pages are corrupt under an intact catalog (its
    rowid bounds still read) is one failed result; the file's healthy
    table still parses, and nothing raises."""
    path = tmp_path / "hurt.sqlite"
    con = sqlite3.connect(path)
    con.execute("PRAGMA page_size = 4096")
    con.execute("CREATE TABLE big (n INTEGER, pad TEXT)")
    con.executemany(
        "INSERT INTO big VALUES (?,?)", [(i, "x" * 100) for i in range(2000)]
    )
    con.execute("CREATE TABLE ok (n INTEGER)")
    con.executemany("INSERT INTO ok VALUES (?)", [(i,) for i in range(5)])
    con.commit()
    con.close()
    blob = bytearray(path.read_bytes())
    blob[20 * 4096 : 21 * 4096] = bytes(4096)  # page 21, a leaf mid-"big"
    path.write_bytes(bytes(blob))

    by_name = {r.sheet_name: r for r in read_sqlite(spark, str(path))}
    assert sorted(by_name) == ["big", "ok"]
    assert by_name["big"].parse_info == "Failed"
    assert "decode failed" in by_name["big"].engine
    assert by_name["ok"].parse_info == "OK"
    assert sorted(n for (n,) in by_name["ok"].data.collect()) == list(range(5))


@pytest.mark.parametrize("suffix", [".feather", ".pickle", ".npy", ".json"])
def test_small_driver_tables_hand_over_as_one_partition(
    spark, tmp_path, suffix
):
    """A 100-row Feather, pickle, npy or dict-shaped JSON file is far
    under the cut, so its driver-built table reaches Spark as one
    partition (a hand-off sized by ``defaultParallelism`` gave one
    slice per core), with its rows in order."""
    import numpy as np
    import pandas as pd

    from almost_any_file_to_pandas_spark import parse

    pdf = pd.DataFrame({"a": range(100), "b": [f"r{i}" for i in range(100)]})
    path = tmp_path / f"t{suffix}"
    if suffix == ".feather":
        pdf.to_feather(path)
    elif suffix == ".pickle":
        pdf.to_pickle(path)
    elif suffix == ".npy":
        np.save(path, np.arange(100))
    else:
        pdf.to_json(path, orient="split")
    [r] = parse(spark, str(path))
    assert r.data.rdd.getNumPartitions() == 1
    first = "row_id" if suffix == ".npy" else "a"
    assert [x[first] for x in r.data.collect()] == list(range(100))
