"""HTML table scan with multi-table fan-out (extension surface).

The reference stops at spreadsheet formats; HTML tables are the same
"grid trapped in a document" problem for the web-scraped half of a
training corpus (reference scope: none — extension, same bucket as
the `.jsonl`/`.orc`/`.feather` arms, SURVEY.md §7). Scope mirrors
``pandas.read_html``'s core: every ``<table>`` (nested ones included,
innermost-wins cell attribution) becomes one all-string padded grid;
``colspan``/``rowspan`` expand into their covered cells; rows with
zero ``<td>``/``<th>`` cells are skipped (F1 parity); ``<script>``/
``<style>`` text never leaks into cells.

Spark design: like SpreadsheetML (xmlss.py), a single HTML document
is not splittable, so structure discovery runs driver-side on the
stdlib ``html.parser`` — which is error-tolerant BY DESIGN (no
exception on malformed markup; whatever tables complete are kept, a
built-in salvage pass). Each table becomes a DataFrame via one Arrow
table over the padded grid (``sources.grid_frame``); at corpus scale
the unit of parallelism is many files (``read_html_many``, the same
per-file parser :func:`file_tables` through ``sources.corpus_frame``,
the ``read_spreadsheetml_many`` shape).
"""

from __future__ import annotations

from html.parser import HTMLParser
from pathlib import Path
from typing import List, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import (
    corpus_frame,
    expand_paths,
    grid_frame,
)

_SKIP_TAGS = ("script", "style")
_VOID_ROW_TAGS = ("thead", "tbody", "tfoot")  # structural, transparent


class _Grid:
    """One open <table>: rows under construction + rowspan carries."""

    __slots__ = ("rows", "cells", "cell_text", "cell_span", "carries",
                 "in_row", "in_cell")

    def __init__(self) -> None:
        self.rows: list[list[str]] = []
        self.cells: list[tuple[str, int, int]] = []  # (text, cs, rs)
        self.cell_text: list[str] = []
        self.cell_span = (1, 1)
        self.carries: dict[int, tuple[int, str]] = {}  # col -> (left, txt)
        self.in_row = False
        self.in_cell = False

    def close_cell(self) -> None:
        if self.in_cell:
            cs, rs = self.cell_span
            self.cells.append(("".join(self.cell_text).strip(), cs, rs))
            self.in_cell = False

    def close_row(self) -> None:
        self.close_cell()
        if not self.in_row:
            return
        self.in_row = False
        if not self.cells and not self.carries:
            return  # F1: zero-cell row drops, numbering shifts
        final: dict[int, str] = {}
        next_carries: dict[int, tuple[int, str]] = {}
        for col, (left, txt) in self.carries.items():
            final[col] = txt
            if left > 1:
                next_carries[col] = (left - 1, txt)
        col = 0
        for txt, cs, rs in self.cells:
            while col in final:
                col += 1
            for c in range(col, col + cs):
                final[c] = txt
                if rs > 1:
                    next_carries[c] = (rs - 1, txt)
            col += cs
        self.carries = next_carries
        width = max(final) + 1
        self.rows.append([final.get(i, "") for i in range(width)])
        self.cells = []

    def finish(self) -> list[list[str]]:
        self.close_row()
        width = max((len(r) for r in self.rows), default=0)
        return [r + [""] * (width - len(r)) for r in self.rows]


def _span(attrs, name: str) -> int:
    for k, v in attrs:
        if k == name:
            try:
                return max(1, int(str(v).strip()))
            except (TypeError, ValueError):
                return 1
    return 1


class _TableExtractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.grids: list[list[list[str]]] = []
        self.stack: list[_Grid] = []
        self.skip = 0

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self.skip += 1
            return
        if tag == "table":
            self.stack.append(_Grid())
            return
        if not self.stack:
            return
        g = self.stack[-1]
        if tag == "tr":
            g.close_row()
            g.in_row = True
        elif tag in ("td", "th"):
            if not g.in_row:  # row-less cells: implicit row (salvage)
                g.in_row = True
            g.close_cell()
            g.in_cell = True
            g.cell_text = []
            g.cell_span = (_span(attrs, "colspan"), _span(attrs, "rowspan"))
        elif tag == "br" and g.in_cell:
            g.cell_text.append(" ")

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self.skip = max(0, self.skip - 1)
            return
        if not self.stack:
            return
        g = self.stack[-1]
        if tag in ("td", "th"):
            g.close_cell()
        elif tag == "tr":
            g.close_row()
        elif tag == "table":
            grid = self.stack.pop().finish()
            if grid:
                self.grids.append(grid)

    def handle_data(self, data):
        if self.skip or not self.stack:
            return
        g = self.stack[-1]
        if g.in_cell:
            g.cell_text.append(data)

    def finish(self) -> list[list[list[str]]]:
        # unclosed <table> at EOF: keep the salvaged prefix (the
        # parser's whole error model — damaged markup yields what
        # completed, like xmlss._salvage_tables)
        while self.stack:
            grid = self.stack.pop().finish()
            if grid:
                self.grids.append(grid)
        return self.grids


def extract_tables(text: str) -> list[list[list[str]]]:
    """All <table> grids in document order (nested tables emit as
    their own grids; their text does not duplicate into the outer
    cell because cell attribution is innermost-wins)."""
    p = _TableExtractor()
    p.feed(text)
    p.close()
    return p.finish()




def file_tables(path: str) -> tuple[list[list[list[str]]], str]:
    """``(grids, encoding)`` of one file: its bytes decode as UTF-8,
    else through latin-1 (a total decode), then :func:`extract_tables`."""
    raw = Path(path).read_bytes()
    try:
        text, encoding = raw.decode("utf-8"), "utf-8"
    except UnicodeDecodeError:
        text, encoding = raw.decode("latin-1"), "latin-1"
    return extract_tables(text), encoding


def read_html(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    """One ParseResult per <table>, sheet-named ``table_<i>`` (the
    Excel sheet fan-out contract, M1). No tables → failed answer;
    undecodable bytes degrade through latin-1 (total decode) first."""
    p = Path(path)
    try:
        grids, encoding = file_tables(str(p))
    except OSError:
        return [ParseResult.failed(spark, str(p), engine="html")]
    return [
        ParseResult(
            data=grid_frame(spark, grid),
            sheet_name=f"table_{i}",
            encoding=encoding,
            file_path=str(p),
            engine="html",
        )
        for i, grid in enumerate(grids)
    ] or [ParseResult.failed(spark, str(p), engine="html")]


def _tables(path: str) -> list[tuple[int, list[list[str]]]]:
    return list(enumerate(file_tables(path)[0]))


def read_html_many(spark: SparkSession, paths) -> DataFrame:
    """Corpus-scale HTML ingestion: many files → one DataFrame of
    ragged rows (source_file, table_idx, row_idx, cells), each file
    parsed by :func:`file_tables` (``sources.corpus_frame``);
    unreadable files contribute zero rows."""
    key = T.StructField("table_idx", T.IntegerType())
    return corpus_frame(spark, expand_paths(paths), _tables, key)[0]
