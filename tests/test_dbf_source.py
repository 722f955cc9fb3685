"""DBF source arm (sources/dbf.py): hand-assembled dBASE III
fixtures — typing matrix, deleted-record skip, blank numerics,
range-parallel coverage, and façade error paths.
"""

from __future__ import annotations

import os
import struct

import pytest

from almost_any_file_to_pandas_spark import sources
from almost_any_file_to_pandas_spark.parse import parse
from almost_any_file_to_pandas_spark.sources.dbf import read_dbf
from tests.conftest import assert_range_scan_plan


def _make_dbf(fields, records, deleted=()):
    """fields: [(name, type, len, dec)], records: list of lists of
    pre-padded ASCII strings."""
    record_size = 1 + sum(f[2] for f in fields)
    header_size = 32 + 32 * len(fields) + 1
    head = struct.pack(
        "<B3BIHH20x",
        0x03,
        24,
        1,
        1,
        len(records),
        header_size,
        record_size,
    )
    descr = b""
    for name, ftype, length, dec in fields:
        descr += (
            name.encode().ljust(11, b"\x00")
            + ftype.encode()
            + b"\x00" * 4
            + bytes([length, dec])
            + b"\x00" * 14
        )
    body = b""
    for i, rec in enumerate(records):
        flag = b"*" if i in deleted else b" "
        body += flag + "".join(rec).encode("ascii")
    return head + descr + b"\x0d" + body + b"\x1a"


@pytest.fixture()
def typed_dbf(tmp_path):
    fields = [
        ("ID", "N", 4, 0),
        ("NAME", "C", 6, 0),
        ("PRICE", "N", 8, 2),
        ("ACTIVE", "L", 1, 0),
        ("BORN", "D", 8, 0),
    ]
    records = [
        ["   1", "ada   ", "   12.50", "T", "19990131"],
        ["   2", "bob   ", "        ", "F", "        "],
        ["   3", "eve   ", "   -0.25", "?", "20240229"],
        ["   9", "gone  ", "    1.00", "T", "20200101"],
    ]
    path = tmp_path / "table.dbf"
    path.write_bytes(_make_dbf(fields, records, deleted={3}))
    return str(path)


def test_dbf_typing_and_deleted_skip(spark, typed_dbf, monkeypatch):
    monkeypatch.setattr(
        sources, "DRIVER_DECODE_BYTES", os.path.getsize(typed_dbf) - 1
    )
    res = read_dbf(spark, typed_dbf)[0]
    assert dict(res.data.dtypes) == {
        "ID": "bigint",
        "NAME": "string",
        "PRICE": "double",
        "ACTIVE": "boolean",
        "BORN": "date",
    }
    rows = {r.ID: r for r in res.data.collect()}
    assert sorted(rows) == [1, 2, 3]  # record 9 deleted
    assert rows[1].NAME == "ada" and rows[1].PRICE == 12.50
    assert rows[1].ACTIVE is True
    assert str(rows[1].BORN) == "1999-01-31"
    assert rows[2].PRICE is None and rows[2].BORN is None
    assert rows[3].PRICE == -0.25
    assert rows[3].ACTIVE is None  # '?' is neither true nor false
    assert str(rows[3].BORN) == "2024-02-29"
    assert res.parse_info == "OK"
    assert "record-range parallel" in res.engine


def test_dbf_many_records_all_ranges_covered(spark, tmp_path, monkeypatch):
    fields = [("N", "N", 6, 0)]
    records = [[f"{i:6d}"] for i in range(500)]
    path = tmp_path / "big.dbf"
    path.write_bytes(_make_dbf(fields, records))
    monkeypatch.setattr(sources, "DRIVER_DECODE_BYTES", path.stat().st_size - 1)
    df = read_dbf(spark, str(path))[0].data
    assert_range_scan_plan(df, min(64, spark.sparkContext.defaultParallelism))
    got = sorted(r.N for r in df.collect())
    assert got == list(range(500))


def test_dbf_float_field_without_decimals_is_bigint(spark, tmp_path):
    """An F field with 0 decimals is bigint like N: exact above 2**53,
    exponent form included; a file with no records is the empty typed
    frame."""
    fields = [("F", "F", 20, 0)]
    values = [str(2**60 + 1), "", "1.5E+03", "-7"]
    path = tmp_path / "float.dbf"
    path.write_bytes(_make_dbf(fields, [[v.rjust(20)] for v in values]))
    (res,) = read_dbf(spark, str(path))
    assert dict(res.data.dtypes) == {"F": "bigint"}
    assert sorted(res.data.collect(), key=str) == sorted(
        [(2**60 + 1,), (None,), (1500,), (-7,)], key=str
    )

    empty = tmp_path / "empty.dbf"
    empty.write_bytes(_make_dbf(fields, []))
    (res,) = read_dbf(spark, str(empty))
    assert dict(res.data.dtypes) == {"F": "bigint"}
    assert res.data.count() == 0


def test_dbf_int64_beside_blank_stays_exact(spark, tmp_path):
    """A blank numeric in the same record range must not round an
    int64 above 2**53 through float64."""
    fields = [("N", "N", 19, 0)]
    values = [str(2**60 + 1), ""] + [str(i) for i in range(6)]
    path = tmp_path / "wide.dbf"
    path.write_bytes(_make_dbf(fields, [[v.rjust(19)] for v in values]))
    (res,) = read_dbf(spark, str(path))
    assert dict(res.data.dtypes) == {"N": "bigint"}
    got = [r.N for r in res.data.collect()]
    assert sorted(got, key=str) == sorted([2**60 + 1, None, *range(6)], key=str)


def test_dbf_facade_and_error_paths(spark, typed_dbf, tmp_path):
    assert parse(spark, typed_dbf)[0].data.count() == 3

    bad = tmp_path / "bad.dbf"
    bad.write_bytes(b"\xff garbage not a dbf header here....")
    assert parse(spark, str(bad))[0].parse_info == "Failed"

    truncated = tmp_path / "short.dbf"
    truncated.write_bytes(b"\x03\x18\x01\x01")
    assert parse(spark, str(truncated))[0].parse_info == "Failed"

    # field widths contradicting the declared record size
    fields = [("A", "C", 5, 0)]
    blob = bytearray(_make_dbf(fields, [["hello"]]))
    blob[10:12] = struct.pack("<H", 99)  # corrupt record_size
    lying = tmp_path / "lying.dbf"
    lying.write_bytes(bytes(blob))
    assert parse(spark, str(lying))[0].parse_info == "Failed"
