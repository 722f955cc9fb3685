"""SQLite database scan: one ParseResult per user table (the M1
sheet-fan-out analogue for the single most common "give me the data
out of this file" container after spreadsheets).

Extension beyond the reference (its ``main.py`` stops at
spreadsheet/text/columnar formats); the contract mirrors the Excel
arm (S2/F3): enumerate members on the driver, fan out, never raise —
wrong magic, zero user tables, or an unreadable file yield failed
results.

Spark design — decode where the input is, ROWID ranges above the cut
(``sources.decoded_frame``):

* the driver opens the file READ-ONLY (``mode=ro&immutable=1`` URI)
  and reads catalog metadata: ``sqlite_master`` table names,
  ``PRAGMA table_info`` column declarations, and per-table
  ``MIN(rowid)/MAX(rowid)`` bounds;
* a file at or under ``sources.DRIVER_DECODE_BYTES`` (1 MB) is a
  driver slurp: each table is one ``_decode`` call on the driver, one
  typed Arrow batch handed to the JVM, and no Python worker starts;
* over the cut each table scan runs in Python tasks over
  ``sources.range_frame``, a ``spark.range`` of rowid ranges with one
  range per partition and no repartition (so a scan is one stage):
  every task opens the SQLite file itself and runs the same
  ``_decode`` on ``WHERE rowid BETWEEN lo AND hi``. SQLite's rowid is
  the clustered btree key, so a range probe is a contiguous btree
  walk, not a table scan per task. Like the Avro/driver-side arms,
  executors re-open the path by name — a shared filesystem is
  required (document'd contract, sources/avro.py has the same one);
* ``WITHOUT ROWID`` tables have no rowid to range over — those are
  one driver ``_decode`` at any size (flagged in ``engine``), which is
  the honest shape: SQLite files are single-writer local artifacts,
  and a WITHOUT ROWID table large enough to need parallel scan should
  be exported to a splittable format first.

Typing: SQLite columns are dynamically typed; we map each column's
DECLARED affinity (sqlite.org/datatype3.html §3.1 rules) to a Spark
type — INT→bigint, TEXT/CHAR/CLOB→string, BLOB/untyped→binary,
REAL/FLOA/DOUB→double, everything else (NUMERIC)→double — and coerce
stored values per cell, with ``None`` for values a column's affinity
cannot represent (e.g. a TEXT value smuggled into an INTEGER column).
Batches are typed Arrow (``sources.arrow_batch``), so a NULL beside
an int64 above 2**53 does not round it through float64.
"""

from __future__ import annotations

import functools
import sqlite3
from pathlib import Path
from typing import List, Optional, Tuple, Union

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import (
    arrow_batch,
    arrow_frame,
    decoded_frame,
)

SQLITE_MAGIC = b"SQLite format 3\x00"

SQLITE_SUFFIXES = (".db", ".sqlite", ".sqlite3")


def _affinity_type(decl: Optional[str]) -> T.DataType:
    """SQLite §3.1 affinity rules, in rule order."""
    d = (decl or "").upper()
    if "INT" in d:
        return T.LongType()
    if "CHAR" in d or "CLOB" in d or "TEXT" in d:
        return T.StringType()
    if not d or "BLOB" in d:
        return T.BinaryType()
    # REAL/FLOA/DOUB and the NUMERIC catch-all both land on double —
    # the widest lossless target SQLite's dynamic values offer short
    # of string.
    return T.DoubleType()


def _coerce(value, dtype: T.DataType):
    if value is None:
        return None
    if isinstance(dtype, T.LongType):
        if isinstance(value, int):
            return value
        if isinstance(value, float) and value.is_integer():
            return int(value)
        return None
    if isinstance(dtype, T.DoubleType):
        if isinstance(value, (int, float)):
            return float(value)
        return None
    if isinstance(dtype, T.StringType):
        if isinstance(value, bytes):
            return None
        return str(value)
    if isinstance(dtype, T.BinaryType):
        return value if isinstance(value, bytes) else None
    return None


def _connect_ro(path: str) -> sqlite3.Connection:
    # immutable=1: no locking, no journal probing — correct for the
    # parse contract (a snapshot read of a file handed to the engine)
    # and required for read-only network filesystems.
    return sqlite3.connect(
        f"file:{path}?mode=ro&immutable=1", uri=True
    )


def _unique_names(raw: List[str]) -> List[str]:
    seen: dict = {}
    out = []
    for name in raw:
        n = name if name else "col"
        if n in seen:
            seen[n] += 1
            n = f"{n}_{seen[n]}"
        seen.setdefault(n, 0)
        out.append(n)
    return out


def _table_plan(
    con: sqlite3.Connection, tbl: str
) -> Tuple[T.StructType, List[str], Optional[Tuple[int, int]]]:
    """(spark schema, source column names, rowid bounds or None)."""
    qt = tbl.replace('"', '""')
    cols = con.execute(f'PRAGMA table_info("{qt}")').fetchall()
    src_names = [c[1] for c in cols]
    fields = [
        T.StructField(n, _affinity_type(c[2]), True)
        for n, c in zip(_unique_names(src_names), cols)
    ]
    schema = T.StructType(fields)
    try:
        # one scalar subquery per bound: each is a btree seek, where
        # MIN and MAX in one SELECT scan the whole table
        lo, hi = con.execute(
            f'SELECT (SELECT MIN(rowid) FROM "{qt}"),'
            f' (SELECT MAX(rowid) FROM "{qt}")'
        ).fetchone()
    except sqlite3.OperationalError:
        return schema, src_names, None  # WITHOUT ROWID table
    if lo is None:
        return schema, src_names, (0, -1)  # empty table
    return schema, src_names, (int(lo), int(hi))


def _batch(rows: list, schema: T.StructType):
    return arrow_batch(
        [
            [_coerce(row[i], f.dataType) for row in rows]
            for i, f in enumerate(schema.fields)
        ],
        schema,
    )


def _select(tbl: str, src_names: List[str]) -> str:
    qt = tbl.replace('"', '""')
    cols = ", ".join('"' + c.replace('"', '""') + '"' for c in src_names)
    return f'SELECT {cols} FROM "{qt}"'


def _decode(path: str, query: str, schema: T.StructType, *bounds):
    """The rows ``query`` selects (bound to ``bounds``) as one typed
    Arrow batch; runs on the driver or in a range-scan task."""
    con = _connect_ro(path)
    try:
        rows = con.execute(query, bounds).fetchall()
    finally:
        con.close()
    return _batch(rows, schema)


def read_sqlite(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    """One ParseResult per user table, catalog order by name.

    Never raises on format problems: wrong magic, no user tables, or
    a catalog read error each yield a single failed result (the S11 /
    F3 contract the Excel arm follows for missing sheets). A table
    whose driver decode fails (corrupt or cut-off pages under an
    intact catalog) is one failed result beside the healthy tables;
    over the cut such a table fails when a Spark action scans it.
    """
    p = Path(path)
    try:
        with open(p, "rb") as fh:
            if fh.read(16) != SQLITE_MAGIC:
                return [ParseResult.failed(spark, str(path))]
    except OSError:
        return [ParseResult.failed(spark, str(path))]

    abspath = str(p.absolute())
    try:
        con = _connect_ro(abspath)
        try:
            tables = [
                r[0]
                for r in con.execute(
                    "SELECT name FROM sqlite_master WHERE type='table'"
                    " AND name NOT LIKE 'sqlite_%' ORDER BY name"
                ).fetchall()
            ]
            plans = {t: _table_plan(con, t) for t in tables}
        finally:
            con.close()
    except sqlite3.Error:
        return [ParseResult.failed(spark, str(path))]

    if not tables:
        return [ParseResult.failed(spark, str(path))]

    nbytes = p.stat().st_size
    results: List[ParseResult] = []
    for tbl in tables:
        schema, src_names, bounds = plans[tbl]
        if not schema.fields:
            continue
        query = _select(tbl, src_names)
        try:
            if bounds is None:
                df = arrow_frame(spark, _decode(abspath, query, schema))
                regime = "driver, WITHOUT ROWID"
            else:
                decode = functools.partial(
                    _decode, abspath, query + " WHERE rowid BETWEEN ? AND ?", schema
                )
                df, regime = decoded_frame(
                    spark, nbytes, *bounds, decode, schema, "rowid"
                )
        except sqlite3.Error:
            # a driver decode that hits corrupt pages fails this
            # table only; the file's other tables still parse
            results.append(
                ParseResult.failed(
                    spark,
                    abspath,
                    sheet_name=tbl,
                    engine="sqlite3 (stdlib; driver decode failed)",
                )
            )
            continue
        results.append(
            ParseResult(
                data=df,
                sheet_name=tbl,
                engine=f"sqlite3 (stdlib; {regime})",
                file_path=abspath,
            )
        )
    if not results:
        return [ParseResult.failed(spark, str(path))]
    return results
