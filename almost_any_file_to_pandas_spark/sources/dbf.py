"""dBase DBF table scan (dBASE III/IV/5 family, no memo fields) —
the fixed-width desktop database format that GIS shapefiles and
legacy business exports still ship (extension beyond the reference,
SURVEY.md §7; spiritually it is EXACTLY the reference's kind of
format: one file, one table).

Decoded where the input is, by record ranges above the cut
(``sources.decoded_frame``): DBF records are FIXED WIDTH, so the
driver reads only the 32-byte header + field descriptors and any
range of records sits at pure offset arithmetic
(``header_size + i·record_size``). A file at or under
``sources.DRIVER_DECODE_BYTES`` (1 MB) is a driver slurp: one
``_decode`` of every record, one typed Arrow batch, no Python worker.
Over the cut it is the same rowid-range pattern as the SQLite arm
(one ``_decode`` per ``sources.range_frame`` range in Python tasks),
with zero per-task catalog work.
Deleted records (``*`` flag) are skipped per spec. Shared-filesystem
requirement as with the other by-path arms.

Typing per field descriptor: C→string (right-trimmed), N/F with 0
decimals→bigint, N/F with decimals→double, L→boolean (T/t/Y/y true,
F/f/N/n false, else NULL), D→date (YYYYMMDD); blank numerics are
NULL. Unknown field types degrade to string rather than failing the
whole table.
"""

from __future__ import annotations

import functools
import struct
from pathlib import Path
from typing import List, Tuple, Union

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import arrow_batch, decoded_frame

_DBF_VERSIONS = {0x02, 0x03, 0x04, 0x05, 0x30, 0x31, 0x83, 0x8B}


class _Field:
    __slots__ = ("name", "ftype", "length", "decimals", "offset")

    def __init__(self, name, ftype, length, decimals, offset):
        self.name = name
        self.ftype = ftype
        self.length = length
        self.decimals = decimals
        self.offset = offset


def _read_layout(blob: bytes) -> Tuple[int, int, int, List[_Field]]:
    if len(blob) < 32:
        raise ValueError("not a DBF file")
    version = blob[0]
    if version not in _DBF_VERSIONS:
        raise ValueError(f"unknown DBF version 0x{version:02x}")
    n_records, header_size, record_size = struct.unpack(
        "<IHH", blob[4:12]
    )
    fields: List[_Field] = []
    pos = 32
    offset = 1  # byte 0 of each record is the deletion flag
    while pos + 32 <= header_size and blob[pos] != 0x0D:
        raw = blob[pos : pos + 32]
        name = raw[:11].split(b"\x00", 1)[0].decode(
            "ascii", "replace"
        ).strip()
        ftype = chr(raw[11])
        length = raw[16]
        decimals = raw[17]
        fields.append(_Field(name or f"f{len(fields)}", ftype, length, decimals, offset))
        offset += length
        pos += 32
    if not fields:
        raise ValueError("DBF has no field descriptors")
    if offset != record_size:
        raise ValueError(
            f"field widths sum to {offset}, record size {record_size}"
        )
    return n_records, header_size, record_size, fields


def _spark_type(f: _Field) -> T.DataType:
    if f.ftype in ("N", "F"):
        return T.LongType() if f.decimals == 0 else T.DoubleType()
    if f.ftype == "L":
        return T.BooleanType()
    if f.ftype == "D":
        return T.DateType()
    return T.StringType()


def _convert(raw: bytes, f: _Field):
    import datetime

    text = raw.decode("ascii", "replace").strip()
    if f.ftype in ("N", "F"):
        if not text:
            return None
        try:
            if f.decimals:
                return float(text)
            if f.ftype == "F" and not text.lstrip("+-").isdigit():
                return int(float(text))  # F may hold "1.5E+03"
            return int(text)
        except (ValueError, OverflowError):
            return None
    if f.ftype == "L":
        if text in ("T", "t", "Y", "y"):
            return True
        if text in ("F", "f", "N", "n"):
            return False
        return None
    if f.ftype == "D":
        if len(text) != 8 or not text.isdigit():
            return None
        try:
            return datetime.date(
                int(text[:4]), int(text[4:6]), int(text[6:8])
            )
        except ValueError:
            return None
    return raw.decode("ascii", "replace").rstrip()


def _decode(
    path: str,
    header_size: int,
    record_size: int,
    fields: List[_Field],
    schema: T.StructType,
    lo: int,
    hi: int,
):
    """Records ``lo..hi`` (inclusive, deleted ones skipped) as one
    typed Arrow batch; runs on the driver or in a range-scan task."""
    cols: List[list] = [[] for _ in fields]
    with open(path, "rb") as fh:
        fh.seek(header_size + lo * record_size)
        for _ in range(hi - lo + 1):
            rec = fh.read(record_size)
            if len(rec) < record_size:
                break
            if rec[0:1] == b"*":  # deleted record
                continue
            for col, f in zip(cols, fields):
                col.append(_convert(rec[f.offset : f.offset + f.length], f))
    return arrow_batch(cols, schema)


def read_dbf(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    p = Path(path)
    try:
        with open(p, "rb") as fh:
            head = fh.read(32)
            if len(head) < 32:
                return [ParseResult.failed(spark, str(path))]
            header_size = struct.unpack("<H", head[8:10])[0]
            fh.seek(0)
            header = fh.read(header_size)
    except OSError:
        return [ParseResult.failed(spark, str(path))]
    try:
        n_records, header_size, record_size, fields = _read_layout(
            header
        )
    except ValueError:
        return [ParseResult.failed(spark, str(path))]

    schema = T.StructType(
        [T.StructField(f.name, _spark_type(f), True) for f in fields]
    )
    abspath = str(p.absolute())
    decode = functools.partial(
        _decode, abspath, header_size, record_size, fields, schema
    )
    df, regime = decoded_frame(
        spark, p.stat().st_size, 0, n_records - 1, decode, schema, "record"
    )
    return [
        ParseResult(
            data=df,
            sheet_name="DBF table content",
            engine=f"dbf (stdlib, fixed-width; {regime})",
            file_path=abspath,
        )
    ]
