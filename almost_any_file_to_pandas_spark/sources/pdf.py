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
extracted table is handed to Spark via ``createDataFrame`` — the
distributed path begins after extraction, which is the same shape as
the reference's pipeline.
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Union

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from almost_any_file_to_pandas_spark.result import ParseResult

CONCATED = "PDF file content (concated)"
UNSIZED = "PDF file content (unsized)"
BY_PAGE = "PDF file content (by page)"  # main.py:407




def _to_spark(spark: SparkSession, pdf_frame):
    pdf_frame = pdf_frame.fillna("").astype(str)
    pdf_frame.columns = [f"c{i}" for i in range(pdf_frame.shape[1])]
    return spark.createDataFrame(pdf_frame)


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
        from almost_any_file_to_pandas_spark.sources import pdftext

        engine = "stdlib-pdftext"
        try:
            frames = pdftext.extract_page_tables(p.read_bytes())
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


def read_pdf_many(spark: SparkSession, paths) -> ParseResult:
    """Many-files variant — the distributed PDF-corpus ingestion shape
    (the per-file :func:`read_pdf` exists for reference-parity answer
    lists, not throughput).

    ONE ``binaryFile`` scan over the list/glob; each task runs the
    stdlib extractor (sources/pdftext.py) on its files inside an
    Arrow-batched ``mapInPandas`` — parallelism = file count, no
    driver-side loop, no subprocess. Output is long-form
    ``(source_file, page, row_idx, cells array<string>)`` so ragged
    page widths need no union-by-width pass; provenance per row is
    the distributed analogue of per-file ParseResult metadata.
    Files outside the extractor's subset contribute zero rows (the
    corpus-scale form of the failed-answer contract).
    """
    from almost_any_file_to_pandas_spark.sources import pdftext

    # never-raise covers the degenerate inputs too: an empty list, a
    # missing directory, or a glob matching nothing makes binaryFile's
    # load raise AnalysisException at plan time — exactly the inputs
    # the per-file path degrades gracefully on, so catch THAT class
    # and return a failed empty ParseResult (parse() facade contract).
    # Anything else (broken session, py4j fault, misconfiguration) is
    # a real bug and propagates — a silent empty parse would mask it.
    from pyspark.errors import AnalysisException

    try:
        if isinstance(paths, (list, tuple)):
            reader = spark.read.format("binaryFile").load(
                [str(p) for p in paths]
            )
        else:
            reader = spark.read.format("binaryFile").load(str(paths))
        reader.schema  # force plan-time path resolution here, not later
    except (AnalysisException, ValueError):
        from pyspark.sql import types as T

        return ParseResult(
            data=spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("source_file", T.StringType()),
                        T.StructField("page", T.IntegerType()),
                        T.StructField("row_idx", T.IntegerType()),
                        T.StructField(
                            "cells", T.ArrayType(T.StringType())
                        ),
                    ]
                ),
            ),
            sheet_name="PDF corpus content",
            engine="binaryFile + stdlib-pdftext (mapInPandas)",
            file_path=str(paths),
        ).mark_failed()

    def extract(batches):
        import pandas as pd

        cols = ["source_file", "page", "row_idx", "cells"]
        for pdf_batch in batches:
            rows = []
            for path, content in zip(pdf_batch["path"], pdf_batch["content"]):
                try:
                    frames = pdftext.extract_page_tables(bytes(content))
                except Exception:
                    frames = []
                for pi, f in enumerate(frames):
                    for ri, row in enumerate(f.values.tolist()):
                        rows.append((path, pi, ri, [str(c) for c in row]))
            yield pd.DataFrame(rows, columns=cols)

    df = reader.select("path", "content").mapInPandas(
        extract,
        schema=(
            "source_file string, page int, row_idx int, "
            "cells array<string>"
        ),
    )
    return ParseResult(
        data=df,
        sheet_name="PDF corpus content",
        engine="binaryFile + stdlib-pdftext (mapInPandas)",
        file_path=str(paths),
    )
