"""Excel scan (S2): sheet fan-out to per-sheet all-string DataFrames.

Reference: ``ImportExcel.work()`` (/root/reference/main.py:239-265) —
``pd.ExcelFile.sheet_names`` then ``pd.read_excel(sheet_name=s,
header=None, index_col=None, dtype=str)`` per sheet; no sheets →
single failed answer (main.py:251-253).

Spark design: the driver enumerates sheets and parses each sheet once
with the stdlib core (``excel_core``); the padded all-string grid goes
to Spark as one Arrow table (``sources.grid_frame``), the same hand-off
as the SpreadsheetML and HTML arms. A sheet part is a single deflate
stream, so one sheet's parse cannot be split anyway; what scales is
many workbooks, which ``read_excel_many`` reads with the same per-file
parser (:func:`workbook_sheets`) through ``sources.corpus_frame``: on the
driver up to ``sources.DRIVER_DECODE_BYTES`` of files, over it in
file-range tasks.

All six suffixes parse natively with stdlib code in ``excel_core``:
.xlsx (OOXML), .xlsb (BIFF12 record reader), .xls (BIFF8 records in a
CFB container), .ods/.odt/.odf (OpenDocument). Truly unreadable files
degrade to a failed result like the reference's log-and-continue path.
"""

from __future__ import annotations

import functools
from pathlib import Path
from typing import List, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import (
    corpus_frame,
    excel_core,
    expand_paths,
    grid_frame,
)

NATIVE_FORMATS = {
    ".xlsx": "xlsx",
    ".xlsb": "xlsb",  # BIFF12: zip container, binary parts (stdlib parse)
    ".xls": "xls",  # BIFF8 in a CFB compound document (stdlib parse)
    ".ods": "ods",
    ".odt": "ods",
    ".odf": "ods",
}
ZIP_XML_FORMATS = NATIVE_FORMATS  # back-compat alias


def workbook_sheets(path: str, fmt: str) -> list[tuple[str, list[list]]]:
    """``[(sheet_name, ragged rows)]`` of one workbook, in workbook
    order; cells are strings or ``None``."""
    return [
        (name, excel_core.sheet_rows(path, fmt, ref))
        for name, ref in excel_core.sheet_inventory(path, fmt)
    ]


def _string_sheets(fmt: str, path: str) -> list[tuple[str, list[list[str]]]]:
    return [
        (name, [["" if v is None else str(v) for v in row] for row in rows])
        for name, rows in workbook_sheets(path, fmt)
    ]


def read_excel(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    p = Path(path)
    suffix = p.suffix.lower()
    fmt = NATIVE_FORMATS.get(suffix)
    if fmt is None:
        # Unrecognized Excel-family suffix → try pandas (reference
        # relies on pd.ExcelFile for engine dispatch, main.py:255-259);
        # absent engine → failed result.
        try:
            import pandas as pd

            sheets = pd.read_excel(
                p, sheet_name=None, header=None, index_col=None, dtype=str
            )
        except Exception:
            return [
                ParseResult.failed(
                    spark, str(p), engine=f"pandas[{suffix}] unavailable"
                )
            ]
        out = []
        for name, frame in sheets.items():
            grid = frame.fillna("").astype(str).values.tolist()
            out.append(
                ParseResult(
                    data=grid_frame(spark, grid),
                    sheet_name=name,
                    file_path=str(p),
                    engine="pandas",
                )
            )
        return out or [ParseResult.failed(spark, str(p), engine="pandas")]

    found = workbook_sheets(str(p), fmt)
    if not found:  # no sheets → failed (main.py:251-253)
        return [ParseResult.failed(spark, str(p), engine=fmt)]

    results: List[ParseResult] = []
    for sheet_name, rows in found:
        width = excel_core.sheet_width(rows)
        result = ParseResult(
            data=grid_frame(spark, excel_core.padded(rows, width)),
            sheet_name=sheet_name,
            file_path=str(p),
            engine=f"{fmt} (stdlib) -> arrow",
        )
        results.append(result if width else result.mark_failed())
    return results


def read_excel_many(spark: SparkSession, paths, fmt: str = "xlsx") -> DataFrame:
    """Corpus-scale workbook ingestion: one DataFrame of ragged rows
    ``(source_file, sheet_name, row_idx, cells)`` over every file
    ``paths`` names (``sources.expand_paths``), each parsed by
    :func:`workbook_sheets` (``sources.corpus_frame``). Normalize width
    downstream, e.g.::

        width = df.agg(F.max(F.size("cells"))).first()[0]
        df.select(..., *[F.element_at("cells", i+1) for i in range(width)])
    """
    key = T.StructField("sheet_name", T.StringType())
    tables = functools.partial(_string_sheets, fmt)
    return corpus_frame(spark, expand_paths(paths), tables, key)[0]
