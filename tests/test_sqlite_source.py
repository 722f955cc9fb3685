"""SQLite source arm (sources/sqlite.py): table fan-out, affinity
typing, rowid-range parallel scan, WITHOUT ROWID fallback, and the
never-raise façade contract.
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from almost_any_file_to_pandas_spark import sources
from almost_any_file_to_pandas_spark.parse import parse
from almost_any_file_to_pandas_spark.sources.sqlite import read_sqlite
from tests.conftest import assert_range_scan_plan


@pytest.fixture()
def two_table_db(tmp_path):
    path = tmp_path / "fixture.db"
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE people (id INTEGER, name TEXT, score REAL,"
        " photo BLOB, note)"
    )
    con.executemany(
        "INSERT INTO people VALUES (?,?,?,?,?)",
        [
            (1, "ada", 9.5, b"\x01\x02", b"raw"),
            (2, "bob", None, None, None),
            (3, None, -0.5, b"", b"x"),
        ],
    )
    con.execute("CREATE TABLE empty_t (a INTEGER)")
    con.commit()
    con.close()
    return str(path)


def test_table_fan_out_and_types(spark, two_table_db, monkeypatch):
    monkeypatch.setattr(
        sources, "DRIVER_DECODE_BYTES", os.path.getsize(two_table_db) - 1
    )
    results = read_sqlite(spark, two_table_db)
    assert [r.sheet_name for r in results] == ["empty_t", "people"]
    people = next(r for r in results if r.sheet_name == "people")
    assert dict(people.data.dtypes) == {
        "id": "bigint",
        "name": "string",
        "score": "double",
        "photo": "binary",
        "note": "binary",  # untyped column → BLOB affinity
    }
    rows = {r.id: r for r in people.data.collect()}
    assert rows[1].name == "ada" and rows[1].score == 9.5
    assert rows[1].photo == bytearray(b"\x01\x02")
    assert rows[2].score is None and rows[2].photo is None
    assert rows[3].name is None and rows[3].score == -0.5
    assert people.parse_info == "OK"
    assert "rowid-range" in people.engine
    # empty table: present in the fan-out, Failed per the reference's
    # empty-data rule (main.py:99-103)
    empty = next(r for r in results if r.sheet_name == "empty_t")
    assert empty.data.count() == 0
    assert empty.parse_info == "Failed"


def test_affinity_coercion_of_smuggled_values(spark, tmp_path):
    """SQLite stores a non-numeric TEXT value in an INTEGER column
    as-is; the scan coerces what it can (integral floats, numeric
    strings stay None) instead of raising mid-task."""
    path = tmp_path / "mixed.sqlite"
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (k INTEGER, v INTEGER)")
    con.execute("INSERT INTO t VALUES (1, 42)")
    con.execute('INSERT INTO t VALUES (2, "not a number")')
    con.execute("INSERT INTO t VALUES (3, 2.0)")  # stored as int 2
    con.execute("INSERT INTO t VALUES (4, 2.5)")  # REAL in INT col
    con.commit()
    con.close()
    rows = {
        r.k: r.v
        for r in read_sqlite(spark, str(path))[0].data.collect()
    }
    assert rows == {1: 42, 2: None, 3: 2, 4: None}


def test_without_rowid_fallback(spark, tmp_path):
    path = tmp_path / "worid.sqlite3"
    con = sqlite3.connect(path)
    con.execute(
        "CREATE TABLE kv (k TEXT PRIMARY KEY, v INTEGER)"
        " WITHOUT ROWID"
    )
    con.executemany(
        "INSERT INTO kv VALUES (?,?)", [("a", 1), ("b", 2)]
    )
    con.commit()
    con.close()
    res = read_sqlite(spark, str(path))[0]
    assert "WITHOUT ROWID" in res.engine
    assert sorted((r.k, r.v) for r in res.data.collect()) == [
        ("a", 1),
        ("b", 2),
    ]


def test_range_scan_covers_sparse_rowids(spark, tmp_path, monkeypatch):
    """Deleted rows leave rowid gaps; the range union must still
    return every surviving row exactly once."""
    path = tmp_path / "sparse.db"
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (n INTEGER)")
    con.executemany(
        "INSERT INTO t (rowid, n) VALUES (?,?)",
        [(i * 97 + 5, i) for i in range(200)],
    )
    con.execute("DELETE FROM t WHERE n % 3 = 0")
    con.commit()
    con.close()
    monkeypatch.setattr(sources, "DRIVER_DECODE_BYTES", path.stat().st_size - 1)
    df = read_sqlite(spark, str(path))[0].data
    assert_range_scan_plan(df, min(64, spark.sparkContext.defaultParallelism))
    got = sorted(r.n for r in df.collect())
    assert got == [i for i in range(200) if i % 3 != 0]


def test_facade_dispatch_and_error_paths(spark, two_table_db, tmp_path):
    results = parse(spark, two_table_db)
    assert {r.sheet_name for r in results} == {"people", "empty_t"}

    not_sqlite = tmp_path / "fake.db"
    not_sqlite.write_bytes(b"definitely not a database")
    assert parse(spark, str(not_sqlite))[0].parse_info == "Failed"

    assert (
        parse(spark, str(tmp_path / "missing.sqlite"))[0].parse_info
        == "Failed"
    )

    no_tables = tmp_path / "empty.db"
    con = sqlite3.connect(no_tables)
    con.execute("CREATE TABLE tmp (x)")
    con.execute("DROP TABLE tmp")
    con.commit()
    con.close()
    assert parse(spark, str(no_tables))[0].parse_info == "Failed"


def test_int64_beside_null_stays_exact(spark, tmp_path):
    """A NULL in the same rowid range must not round an int64 above
    2**53 through float64."""
    path = tmp_path / "big.sqlite"
    con = sqlite3.connect(path)
    con.execute("CREATE TABLE t (v INTEGER)")
    con.executemany(
        "INSERT INTO t VALUES (?)",
        [(2**60 + 1,), (None,)] + [(i,) for i in range(6)],
    )
    con.commit()
    con.close()
    (res,) = read_sqlite(spark, str(path))
    assert dict(res.data.dtypes) == {"v": "bigint"}
    got = [r.v for r in res.data.collect()]
    assert sorted(got, key=str) == sorted([2**60 + 1, None, *range(6)], key=str)
