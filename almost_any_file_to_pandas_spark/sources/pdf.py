"""PDF table scan (S7): tabula-backed, gated on availability.

Reference: ``ImportPDF`` (/root/reference/main.py:371-412) —
``tabula.read_pdf(pages="all", header=None)`` (a Java subprocess,
throughput 2-4 pages/sec per main.py:378), then the width-conditional
split F2 (main.py:384-390): page tables whose column count matches
page 1 concat into one "PDF file content (concated)" answer (U1) with
a renumbered index (T7); mismatched-width tables land in a second
"PDF file content (unsized)" answer. ``concat=False`` keeps one
answer per page table.

tabula (and its JVM) is not installed in this environment, so the
import is gated: absent → the stdlib text-position extractor
(sources/pdftext.py — ISO 32000 content-stream parsing, zlib
FlateDecode, row/column clustering) takes over for simple
digital-born PDFs; files outside its subset degrade to a failed
result, mirroring the reference's own "unpredictable result" caveat
for PDFs (README.md:12). Either way extraction happens driver-side
(the subprocess/byte-parse boundary is inherently local) and each
extracted table is handed to Spark as an all-string grid
(``sources.grid_frame``) — the distributed path begins after
extraction, which is the same shape as the reference's pipeline.
``read_pdf_many`` runs the stdlib extractor per file through
``sources.corpus_frame``.
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Union

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import (
    corpus_frame,
    expand_paths,
    grid_frame,
)

CONCATED = "PDF file content (concated)"
UNSIZED = "PDF file content (unsized)"
BY_PAGE = "PDF file content (by page)"  # main.py:407


def _grid(frame) -> list[list[str]]:
    """A page-table frame as rows of strings, ``""`` for a missing cell."""
    return frame.fillna("").astype(str).values.tolist()


def _to_spark(spark: SparkSession, pdf_frame):
    return grid_frame(spark, _grid(pdf_frame))


def stdlib_tables(path: str) -> list:
    """The page tables the stdlib extractor finds in one file, as
    pandas frames (``pdftext.extract_page_tables``)."""
    from almost_any_file_to_pandas_spark.sources import pdftext

    return pdftext.extract_page_tables(Path(path).read_bytes())


def read_pdf(
    spark: SparkSession, path: Union[str, Path], concat: bool = True, **options
) -> List[ParseResult]:
    p = Path(path)
    engine = "tabula"
    try:
        import tabula  # noqa: F401  (requires tabula-py + a JVM)
    except ImportError:
        # tabula absent: fall back to the stdlib text-position
        # extractor (sources/pdftext.py) — ISO 32000 content-stream
        # parsing for simple digital-born PDFs; outside its subset it
        # yields no frames and the failed-answer path below fires, so
        # the never-raise contract is preserved either way.
        engine = "stdlib-pdftext"
        try:
            frames = stdlib_tables(str(p))
        except Exception:
            frames = []
        if not frames:
            return [ParseResult.failed(spark, str(p), engine=engine)]
    else:
        try:
            frames = tabula.read_pdf(str(p), pages="all", header=None)
        except Exception:
            return [ParseResult.failed(spark, str(p), engine=engine)]
        if not frames:
            return [ParseResult.failed(spark, str(p), engine=engine)]

    if not concat:
        # Reference labels every per-page answer identically
        # ("PDF file content (by page)", main.py:407) — no index.
        return [
            ParseResult(
                data=_to_spark(spark, f),
                sheet_name=BY_PAGE,
                file_path=str(p),
                engine=engine,
            )
            for f in frames
        ]

    # F2: width-conditional split keyed on page 1's width
    # (main.py:384-390); U1 concat + T7 renumber for BOTH sides
    # (reference reset_index()es valid_df AND invalid_df). The concated
    # answer is ALWAYS emitted, even when no table matches page 1's
    # width (reference appends it unconditionally; empty → Failed via
    # ParserAnswer's shape check).
    first_width = frames[0].shape[1]
    valid = [f for f in frames if f.shape[1] == first_width]
    invalid = [f for f in frames if f.shape[1] != first_width]
    results: List[ParseResult] = []
    import pandas as pd

    if valid:
        merged = pd.concat(valid, ignore_index=True, sort=False)
        merged.insert(0, "index", range(len(merged)))  # T7 renumber
        results.append(
            ParseResult(
                data=_to_spark(spark, merged),
                sheet_name=CONCATED,
                file_path=str(p),
                engine=engine,
            )
        )
    else:
        results.append(
            ParseResult.failed(
                spark, str(p), sheet_name=CONCATED, engine=engine
            )
        )
    if invalid:
        merged = pd.concat(invalid, ignore_index=True, sort=False)
        merged.insert(0, "index", range(len(merged)))  # T7 renumber
        if len(merged) > 0:
            results.append(
                ParseResult(
                    data=_to_spark(spark, merged),
                    sheet_name=UNSIZED,
                    file_path=str(p),
                    engine=engine,
                )
            )
    return results


def _tables(path: str) -> list[tuple[int, list[list[str]]]]:
    return list(enumerate(map(_grid, stdlib_tables(path))))


def read_pdf_many(spark: SparkSession, paths) -> ParseResult:
    """Many-files variant — the distributed PDF-corpus ingestion shape
    (the per-file :func:`read_pdf` exists for reference-parity answer
    lists, not throughput).

    Every file ``paths`` names (``sources.expand_paths``) runs through
    the stdlib extractor (:func:`stdlib_tables`) in
    ``sources.corpus_frame``: on the driver up to
    ``sources.DRIVER_DECODE_BYTES`` of files, over it in file-range
    tasks, with no subprocess. Output is long-form ``(source_file,
    page, row_idx, cells array<string>)`` so ragged page widths need no
    union-by-width pass; provenance per row is the distributed analogue
    of per-file ParseResult metadata. Files outside the extractor's
    subset contribute zero rows (the corpus-scale form of the
    failed-answer contract), and an argument naming no file gives an
    empty result already marked failed.
    """
    files = expand_paths(paths)
    key = T.StructField("page", T.IntegerType())
    df, regime = corpus_frame(spark, files, _tables, key)
    result = ParseResult(
        data=df,
        sheet_name="PDF corpus content",
        engine=f"stdlib-pdftext ({regime})",
        file_path=str(paths),
    )
    return result if files else result.mark_failed()
