"""The two decode regimes of the sources that decode on executors,
SQLite, DBF, Avro and the corpus readers (``sources.decoded_frame``):
an input at or under ``sources.DRIVER_DECODE_BYTES`` decodes on the
driver, a bigger one in range-scan tasks. Both must give the same
tables; the driver one must start no Python worker and write as one
file.
"""

from __future__ import annotations

import os
import sqlite3

import pytest

from almost_any_file_to_pandas_spark import sinks, sources
from almost_any_file_to_pandas_spark.sources.dbf import read_dbf
from almost_any_file_to_pandas_spark.sources.sqlite import read_sqlite
from tests.test_dbf_source import _make_dbf
from tests.test_parse_formats import _mini_pdf


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


@pytest.mark.parametrize(
    "suffix", [".feather", ".pickle", ".npy", ".json", ".pdf"]
)
def test_small_driver_tables_hand_over_as_one_partition(
    spark, tmp_path, suffix
):
    """A 100-row Feather, pickle, npy or dict-shaped JSON file, or the
    3-row test PDF, is far under the cut, so its driver-built tables
    reach Spark as one partition each (a hand-off sized by
    ``defaultParallelism`` gave one slice per core), with rows in
    order."""
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
    elif suffix == ".json":
        pdf.to_json(path, orient="split")
    else:
        path.write_bytes(_mini_pdf())
    results = parse(spark, str(path))
    assert [r.data.rdd.getNumPartitions() for r in results] == [1] * len(results)
    if suffix == ".pdf":  # the concated and the unsized answer
        assert [[x["c0"] for x in r.data.collect()] for r in results] == [
            ["0", "1"],
            ["0"],
        ]
        assert [r.engine for r in results] == ["stdlib-pdftext"] * 2
        return
    [r] = results
    first = "row_id" if suffix == ".npy" else "a"
    assert [x[first] for x in r.data.collect()] == list(range(100))


_AVRO_SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "x", "type": "float"},
        {"name": "u", "type": ["null", "long", "string"]},
    ],
}


def _avro_rows(lo: int, hi: int) -> list:
    return [
        (
            2**60 + i,
            None if i % 4 == 0 else f"n{i}",
            i * 0.5,
            None if i % 3 == 0 else (i if i % 3 == 1 else f"s{i}"),
        )
        for i in range(lo, hi)
    ]


def _write_avro(path, rows, codec: str) -> None:
    from almost_any_file_to_pandas_spark.sources.avro import synth_avro

    path.write_bytes(synth_avro(_AVRO_SCHEMA, rows, codec, rows_per_block=7))


def _avro_one(tmp_path):
    from almost_any_file_to_pandas_spark.sources.avro import read_avro_frame

    path = tmp_path / "one.avro"
    _write_avro(path, _avro_rows(0, 40), "deflate")
    return lambda spark: read_avro_frame(spark, path), 40


def _avro_many(tmp_path):
    from almost_any_file_to_pandas_spark.sources.avro import read_avro_many

    _write_avro(tmp_path / "a.avro", _avro_rows(0, 20), "null")
    _write_avro(tmp_path / "b.avro", _avro_rows(20, 45), "deflate")
    return lambda spark: read_avro_many(spark, str(tmp_path / "*.avro")), 45


def _xlsx(tmp_path):
    from almost_any_file_to_pandas_spark.sources.excel import read_excel_many
    from tests.conftest import _write_minimal_xlsx

    for i in range(3):
        _write_minimal_xlsx(
            tmp_path / f"w{i}.xlsx",
            {"S1": [[f"a{i}", "1"], ["b"]], "S2": [[f"c{i}", "", "d"]]},
        )
    (tmp_path / "w9.xlsx").write_bytes(b"not a zip")
    return lambda spark: read_excel_many(spark, str(tmp_path)), 9


def _spreadsheetml(tmp_path):
    from almost_any_file_to_pandas_spark.sources.xmlss import (
        read_spreadsheetml_many,
    )

    head = (
        '<?xml version="1.0"?>'
        '<Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet" '
        'xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
    )
    for i in range(3):
        (tmp_path / f"m{i}.xml").write_text(
            head + f'<Worksheet ss:Name="W{i}"><Table>'
            f"<Row><Cell><Data>x{i}</Data></Cell><Cell><Data>1</Data></Cell></Row>"
            "<Row><Cell><Data>y</Data></Cell></Row>"
            "</Table></Worksheet></Workbook>"
        )
    (tmp_path / "m3.xml").write_text(
        head + '<Worksheet ss:Name="cut"><Table>'
        "<Row><Cell><Data>kept</Data></Cell></Row><Row><Cell><Da"
    )
    (tmp_path / "m4.xml").write_text("definitely <not xml")
    return lambda spark: read_spreadsheetml_many(spark, [str(tmp_path)]), 7


def _html(tmp_path):
    from almost_any_file_to_pandas_spark.sources.htmltab import read_html_many

    for i in range(3):
        (tmp_path / f"h{i}.html").write_text(
            f"<table><tr><td>v{i}</td><td>{i}</td></tr></table>"
            "<table><tr><td>t</td></tr><tr><td>u</td></tr></table>"
        )
    (tmp_path / "h3.html").write_bytes(b"<table><tr><td>caf\xe9</td></tr></table>")
    (tmp_path / "h4.html").write_text("no tables here")
    return lambda spark: read_html_many(spark, str(tmp_path / "*.html")), 10


def _pdf(tmp_path):
    from almost_any_file_to_pandas_spark.sources.pdf import read_pdf_many

    for i in range(3):
        (tmp_path / f"doc{i}.pdf").write_bytes(_mini_pdf())
    (tmp_path / "broken.pdf").write_bytes(b"%PDF-1.4 not really")
    return lambda spark: read_pdf_many(spark, str(tmp_path)).data, 9


_EXECUTOR_DECODED = {
    "avro-one": _avro_one,
    "avro-many": _avro_many,
    "excel-many": _xlsx,
    "spreadsheetml-many": _spreadsheetml,
    "html-many": _html,
    "pdf-many": _pdf,
}


@pytest.mark.parametrize("kind", list(_EXECUTOR_DECODED))
def test_executor_decoded_sources_agree_across_regimes(
    spark, tmp_path, monkeypatch, kind
):
    """Avro and the corpus readers decode through ``decoded_frame``:
    under the cut once on the driver, with no ``MapInArrow`` planned;
    with the cut below the input's size in one narrow ``MapInArrow``
    stage. Both give the same names, Spark types and rows, in the
    same ``collect()`` order."""
    read, n_rows = _EXECUTOR_DECODED[kind](tmp_path)
    nbytes = sum(p.stat().st_size for p in tmp_path.iterdir())
    driver = read(spark)
    assert "MapInArrow" not in _plan(driver)
    rows = [tuple(r) for r in driver.collect()]
    assert len(rows) == n_rows

    monkeypatch.setattr(sources, "DRIVER_DECODE_BYTES", nbytes - 1)
    ranged = read(spark)
    plan = _plan(ranged)
    assert "MapInArrow" in plan and "Exchange" not in plan, plan
    assert ranged.dtypes == driver.dtypes
    assert ranged.schema == driver.schema
    assert [tuple(r) for r in ranged.collect()] == rows


def test_only_decoded_frame_decodes_on_executors():
    """``sources.decoded_frame`` is the one executor-side decode path:
    outside comments, no module of ``sources/`` but ``__init__.py``
    names a Python map, an RDD scan, a Python DataSource, a by-value
    pickle or a ``binaryFile`` read."""
    import io
    import re
    import tokenize
    from pathlib import Path

    banned = re.compile(
        r"mapInArrow|mapInPandas|parallelize|dataSource\.register"
        r"|register_pickle_by_value|binaryFile"
    )
    found = []
    for path in sorted(Path(sources.__file__).parent.glob("*.py")):
        if path.name == "__init__.py":
            continue
        src = path.read_text(encoding="utf-8")
        code = "".join(
            tok.string
            for tok in tokenize.generate_tokens(io.StringIO(src).readline)
            if tok.type != tokenize.COMMENT
        )
        found += [f"{path.name}: {m.group()}" for m in banned.finditer(code)]
    assert found == []
