"""Microsoft SpreadsheetML XML scan (S3/S4) with worksheet fan-out.

Reference: ``ImportXML`` (/root/reference/main.py:268-324) — lxml
parse with the ``urn:schemas-microsoft-com:office:spreadsheet``
namespace, iterate Worksheet → Table → Row → Data, skip rows that
contain zero ``<Data>`` cells (F1, main.py:320-323), and fall back in
three levels: worksheets → bare tables (sheet name "Not defined",
main.py:296-304) → failed answer.

Spark design: SpreadsheetML files are single-document XML — the
parse itself is not splittable, so structure discovery runs driver-
side with stdlib ``ElementTree``. Malformed input gets a salvage
pass (the reference's ``lxml recover=True, huge_tree=True`` contract,
main.py:276): an incremental ``XMLPullParser`` keeps every Row that
completed before the first fatal error, so a truncated or damaged
file yields its intact prefix rows instead of a failed result;
nothing salvageable → failed. Each discovered table becomes a
DataFrame via one Arrow table over the padded all-string grid
(``sources.grid_frame``); at scale the unit of parallelism is *many
files*: ``read_spreadsheetml_many`` runs the same per-file parser
(:func:`sheet_grids`) through ``sources.corpus_frame``.

Spark's own ``spark.read.format("xml")`` (native since 4.0) is not
used because rowTag-based parsing cannot express the namespace-
qualified Worksheet/Table fan-out or the empty-row skip (SURVEY §2.1
S3 note).
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Optional, Union
from xml.etree import ElementTree as ET

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import (
    corpus_frame,
    expand_paths,
    grid_frame,
)

SS_NS = "{urn:schemas-microsoft-com:office:spreadsheet}"




def table_grid(table: ET.Element) -> list[list[str]]:
    """One ``<Table>`` → padded all-string grid. Rows with zero
    ``<Data>`` cells are dropped (F1 — row numbering shifts, exactly
    as the reference's dict insert skips them, main.py:320-323)."""
    rows: list[list[str]] = []
    for row in table.iter(f"{SS_NS}Row"):
        cells = [
            (data.text or "")
            for data in row.iter(f"{SS_NS}Data")
        ]
        if cells:  # empty-row skip
            rows.append(cells)
    width = max((len(r) for r in rows), default=0)
    return [r + [""] * (width - len(r)) for r in rows]


def _salvage_tables(
    path: str,
) -> list[tuple[Optional[str], list[list[str]]]]:
    """Best-effort parse of damaged SpreadsheetML — the stdlib
    analogue of the reference's ``lxml recover=True`` (main.py:276).

    Feed an incremental ``XMLPullParser`` and keep every ``<Row>``
    that COMPLETED before the first fatal error: a truncated or
    locally-damaged file yields all intact rows instead of nothing.
    Returns [(worksheet_name_or_None, padded_grid)] with empty-row
    skip (F1) applied, same as :func:`table_grid`.
    """
    parser = ET.XMLPullParser(events=("start", "end"))
    ws_name: Optional[str] = None
    tables: list[tuple[Optional[str], list[list[str]]]] = []
    open_rows: Optional[list[list[str]]] = None
    try:
        with open(path, "rb") as f:
            while True:
                chunk = f.read(1 << 16)
                if not chunk:
                    parser.close()
                    break
                parser.feed(chunk)
                for event, el in parser.read_events():
                    if event == "start":
                        if el.tag == f"{SS_NS}Worksheet":
                            ws_name = el.get(f"{SS_NS}Name")
                        elif el.tag == f"{SS_NS}Table":
                            open_rows = []
                            tables.append((ws_name, open_rows))
                        continue
                    if el.tag == f"{SS_NS}Row" and open_rows is not None:
                        cells = [
                            (d.text or "") for d in el.iter(f"{SS_NS}Data")
                        ]
                        if cells:  # F1 empty-row skip
                            open_rows.append(cells)
                        el.clear()  # bound memory on huge damaged files
                    elif el.tag == f"{SS_NS}Table":
                        open_rows = None
                    elif el.tag == f"{SS_NS}Worksheet":
                        ws_name = None
    except ET.ParseError:
        pass  # keep whatever completed before the break
    out = []
    for name, rows in tables:
        if not rows:
            continue
        width = max(len(r) for r in rows)
        out.append((name, [r + [""] * (width - len(r)) for r in rows]))
    return out


def sheet_grids(path: str) -> tuple[list[tuple[str, list[list[str]]]], str]:
    """``([(sheet_name, padded grid)], engine)`` of one file: every
    non-empty table of every Worksheet, or the bare tables when there
    is no Worksheet (sheet name "Not defined", main.py:296-304); a
    malformed file gives its salvaged tables
    (:func:`_salvage_tables`)."""
    try:
        root = ET.parse(path).getroot()
    except ET.ParseError:
        return [
            (name or "Not defined", grid)
            for name, grid in _salvage_tables(path)
        ], "spreadsheetml (salvaged)"
    worksheets = list(root.iter(f"{SS_NS}Worksheet"))
    if worksheets:
        scoped = [
            (ws.get(f"{SS_NS}Name") or "Not defined", t)
            for ws in worksheets
            for t in ws.iter(f"{SS_NS}Table")
        ]
    else:  # level-2 fallback: bare tables (main.py:296-304)
        scoped = [("Not defined", t) for t in root.iter(f"{SS_NS}Table")]
    grids = [(name, table_grid(t)) for name, t in scoped]
    return [(name, g) for name, g in grids if g], "spreadsheetml"


def read_spreadsheetml(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    p = Path(path)
    grids, engine = sheet_grids(str(p))
    return [
        ParseResult(
            data=grid_frame(spark, grid),
            sheet_name=name,
            file_path=str(p),
            engine=engine,
        )
        for name, grid in grids
    ] or [ParseResult.failed(spark, str(p), engine="spreadsheetml")]


def _tables(path: str) -> list[tuple[str, list[list[str]]]]:
    return sheet_grids(path)[0]


def read_spreadsheetml_many(spark: SparkSession, paths) -> DataFrame:
    """Corpus-scale SpreadsheetML ingestion: many .xml files → one
    DataFrame of ragged rows (source_file, sheet_name, row_idx,
    cells), each file parsed by :func:`sheet_grids`, the parser of
    :func:`read_spreadsheetml` (``sources.corpus_frame``). Damaged
    files contribute their salvaged rows; unparseable ones none."""
    key = T.StructField("sheet_name", T.StringType())
    return corpus_frame(spark, expand_paths(paths), _tables, key)[0]


def read_xml_records(
    spark: SparkSession, paths, row_tag: str = "row"
) -> "ParseResult":
    """Generic record-oriented XML via Spark 4's NATIVE ``xml`` data
    source — the distributed path for XML that is NOT SpreadsheetML
    (the reference treats such files as salvage/failure; this is
    extension surface, documented as such).

    Unlike the SpreadsheetML grid parsers (driver- or executor-side
    ElementTree over whole files), the native source splits record
    elements across tasks, infers a typed schema, prunes unreferenced
    fields at the scan, and handles a million-file glob — the right
    engine for log/feed-style XML at corpus scale. The façade's
    ``.xml`` arm keeps the reference's SpreadsheetML-first contract;
    callers with record XML opt into this reader explicitly.

    Never raises (façade error contract): unparseable input yields a
    failed empty ParseResult.
    """
    from pyspark.errors import AnalysisException

    path_arg = (
        [str(p) for p in paths]
        if isinstance(paths, (list, tuple))
        else str(paths)
    )
    try:
        df = (
            spark.read.format("xml")
            .option("rowTag", row_tag)
            .load(path_arg)
        )
        df.schema  # force plan-time resolution into the try block
    except (AnalysisException, ValueError):
        return ParseResult(
            data=spark.createDataFrame(
                [], T.StructType([T.StructField("value", T.StringType())])
            ),
            sheet_name="Not defined",
            engine=f"spark-native xml (rowTag={row_tag})",
            file_path=str(paths),
        ).mark_failed()
    return ParseResult(
        data=df,
        sheet_name=row_tag,
        engine=f"spark-native xml (rowTag={row_tag})",
        file_path=str(paths),
    )
