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
many workbooks, which ``read_excel_many`` reads executor-side through
a Spark 4 Python DataSource (``excel_core.ExcelCorpusDataSource``),
one partition per file. That DataSource module is registered with
cloudpickle by value, so workers need no package install.

All six suffixes parse natively with stdlib code in ``excel_core``:
.xlsx (OOXML), .xlsb (BIFF12 record reader), .xls (BIFF8 records in a
CFB container), .ods/.odt/.odf (OpenDocument). Truly unreadable files
degrade to a failed result like the reference's log-and-continue path.
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Union

from pyspark.sql import SparkSession

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import excel_core, grid_frame

NATIVE_FORMATS = {
    ".xlsx": "xlsx",
    ".xlsb": "xlsb",  # BIFF12: zip container, binary parts (stdlib parse)
    ".xls": "xls",  # BIFF8 in a CFB compound document (stdlib parse)
    ".ods": "ods",
    ".odt": "ods",
    ".odf": "ods",
}
ZIP_XML_FORMATS = NATIVE_FORMATS  # back-compat alias
_registered_sessions: set[int] = set()


def _register(spark: SparkSession) -> None:
    """Register the corpus DataSource once per session, shipping the
    stdlib-only core module by value inside the pickled class."""
    key = id(spark)
    if key in _registered_sessions:
        return
    # PySpark serializes DataSource classes with its *vendored*
    # cloudpickle — by-value registration must target that module, or
    # workers try (and fail) to import this package.
    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(excel_core)
    spark.dataSource.register(excel_core.ExcelCorpusDataSource)
    _registered_sessions.add(key)




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

    inventory = excel_core.sheet_inventory(str(p), fmt)
    if not inventory:  # no sheets → failed (main.py:251-253)
        return [ParseResult.failed(spark, str(p), engine=fmt)]

    results: List[ParseResult] = []
    for sheet_name, ref in inventory:
        rows = excel_core.sheet_rows(str(p), fmt, ref)
        width = excel_core.sheet_width(rows)
        result = ParseResult(
            data=grid_frame(spark, excel_core.padded(rows, width)),
            sheet_name=sheet_name,
            file_path=str(p),
            engine=f"{fmt} (stdlib) -> arrow",
        )
        results.append(result if width else result.mark_failed())
    return results


def read_excel_many(spark: SparkSession, paths, fmt: str = "xlsx") -> "DataFrame":
    """Corpus-scale workbook ingestion: one DataFrame over many files,
    one DataSource partition per file (parallelism = file count),
    ragged rows as (source_file, sheet_name, row_idx, cells).

    No driver pre-scan: sheet enumeration and parsing happen in the
    executor that owns the partition. Normalize downstream, e.g.::

        width = df.agg(F.max(F.size("cells"))).first()[0]
        df.select(..., *[F.element_at("cells", i+1) for i in range(width)])
    """
    import glob as _glob
    from pathlib import Path as _P

    if isinstance(paths, (str, _P)):
        expanded = sorted(_glob.glob(str(paths))) or [str(paths)]
    else:
        expanded = [str(p) for p in paths]
    _register(spark)
    return (
        spark.read.format("aaftp_excel_corpus")
        .option("paths", "\x1f".join(expanded))
        .option("fmt", fmt)
        .load()
    )
