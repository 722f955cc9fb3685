"""Columnar / typed sources: parquet (S8), JSON (S9), pickle (S10).

Reference:
- S8 ``ImportParquet`` (/root/reference/main.py:415-425): pandas
  ``read_parquet``, native types preserved, single sheet named
  "Parquet file content".
- S9 ``ImportJSON`` (main.py:428-438): pandas ``read_json`` with
  orient inference (array-of-records / columnar dict — *not*
  JSON-lines), sheet "JSON file content".
- S10 ``ImportPickle`` (main.py:441-451): ``read_pickle``; dispatch
  accepts only ``.pk1`` (the bare ``"pickle"`` entry is unreachable,
  main.py:161-162) and mislabels the sheet "JSON file content"
  (main.py:447). Deviations (SURVEY.md §7): we accept ``.pickle`` too
  and label correctly.

Spark redesign: parquet and JSON use Spark's native distributed
readers (pushdown + pruning for free). Pandas-orient JSON needs a
driver-side probe to distinguish array-of-records (Spark multiLine
handles it) from columnar ``{"col": {"0": v, ...}}`` (no Spark
analogue → driver-side pandas bridge) from JSON-lines (Spark default).
Pickle is inherently a single Python blob → driver-side bridge via
``spark.createDataFrame`` (Arrow path).
"""

from __future__ import annotations

import json
from pathlib import Path
from typing import Union

from pyspark.sql import SparkSession

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import arrow_frame, pandas_frame


def read_parquet(
    spark: SparkSession, path: Union[str, Path], merge_schema: bool = False
) -> ParseResult:
    """S8 — native distributed parquet scan, types preserved.

    ``merge_schema=True`` (extension beyond the reference — its pandas
    world only has single-file parquet) reconciles EVOLVED schemas
    across a dataset directory's part files: the union of columns,
    nulls where a file predates a column. Off by default because
    footer-merging costs a driver pass over every file footer — at
    100 TB that is exactly the scan-planning overhead you skip when
    the dataset's schema is known stable.
    """
    df = spark.read.option("mergeSchema", str(merge_schema).lower()).parquet(
        str(path)
    )
    return ParseResult(
        data=df,
        sheet_name="Parquet file content",  # main.py:421
        engine="spark.read.parquet",
        file_path=str(path),
    )


def _probe_json_shape(path: str, max_bytes: int = 1 << 20) -> str:
    """Classify the JSON layout from a bounded prefix: 'records'
    (array of objects), 'columnar' (dict of column->row map), 'lines'
    (JSON-lines), or 'scalar-ish' (anything else). The prefix read is
    compression-transparent (sniff.read_prefix inflates gzip/bz2 by
    magic bytes) so '.json.gz' classifies on its logical content."""
    from almost_any_file_to_pandas_spark.sources import sniff

    prefix = sniff.read_prefix(path, max_bytes).lstrip()
    if not prefix:
        return "empty"
    first = prefix[:1]
    if first == b"[":
        return "records"
    if first == b"{":
        # JSON-lines of objects vs one dict-shaped document:
        # JSON-lines has one complete object per line.
        lines = [l for l in prefix.splitlines() if l.strip()]
        first_line = lines[0].strip()
        try:
            obj = json.loads(first_line)
        except ValueError:
            return "columnar"
        if len(lines) > 1:
            return "lines"
        # single line that parses: a whole columnar/split/index
        # document also fits on one line — container values mean a
        # column map / orient document, scalar values a lone record
        if isinstance(obj, dict) and any(
            isinstance(v, (dict, list)) for v in obj.values()
        ):
            return "columnar"
        return "lines"
    return "scalar"


def read_json(spark: SparkSession, path: Union[str, Path]) -> ParseResult:
    """S9 — pandas-orient-aware JSON scan.

    records → Spark multiLine reader (distributed); lines → Spark
    default JSON-lines reader (distributed); dict-shaped documents →
    driver-side pandas bridge (a single JSON document by construction
    — not distributable without a custom tokenizer), with orient
    resolution:

    - exactly ``{"columns", "index", "data"}`` keys → ``split``,
    - all-int-like outer keys over object values → ``index``
      (row-major dict; structurally ambiguous with ``columns``, so
      this is a documented heuristic — pandas itself cannot
      auto-detect it either),
    - anything else → pandas' default ``columns`` orient, which is
      what the reference's bare ``pd.read_json`` call does
      (main.py:433).
    """
    path = str(path)
    shape = _probe_json_shape(path)
    if shape in ("records",):
        df = spark.read.option("multiLine", "true").json(path)
        engine = "spark.read.json(multiLine)"
    elif shape == "lines":
        df = spark.read.json(path)
        engine = "spark.read.json(lines)"
    else:
        import pandas as pd

        orient = None
        try:
            # dict-shaped documents are single JSON docs (driver-side
            # by construction); decode compression-transparently
            from almost_any_file_to_pandas_spark.sources import sniff

            doc = json.loads(
                sniff.read_prefix(path, 1 << 28).decode(
                    "utf-8", errors="replace"
                )
            )
        except ValueError:
            doc = None
        if isinstance(doc, dict) and doc:
            if set(doc) == {"columns", "index", "data"}:
                orient = "split"
            elif all(
                _int_like(k) and isinstance(v, dict) for k, v in doc.items()
            ):
                orient = "index"
        if orient:
            pdf = pd.read_json(path, orient=orient)
            engine = f"pandas.read_json({orient}) -> createDataFrame"
        else:
            pdf = pd.read_json(path)
            engine = "pandas.read_json -> createDataFrame"
        df = pandas_frame(spark, pdf)
    return ParseResult(
        data=df,
        sheet_name="JSON file content",  # main.py:434
        engine=engine,
        file_path=path,
    )


def _int_like(s: str) -> bool:
    try:
        int(s)
        return True
    except (TypeError, ValueError):
        return False


def read_pickle(spark: SparkSession, path: Union[str, Path]) -> ParseResult:
    """S10 — driver-side pandas unpickle → Arrow createDataFrame.

    Pickle is a single-blob driver-local format; there is nothing to
    distribute at read time. Downstream transformations are fully
    distributed once the frame is in Spark.
    """
    import pandas as pd

    pdf = pd.read_pickle(str(path))  # noqa: S301 - format parity with reference
    if not isinstance(pdf, pd.DataFrame):
        pdf = pd.DataFrame(pdf)
    df = pandas_frame(spark, pdf)
    return ParseResult(
        data=df,
        sheet_name="Pickle file content",  # deviation: main.py:447 says "JSON"
        engine="pandas.read_pickle -> createDataFrame",
        file_path=str(path),
    )


def read_orc(spark: SparkSession, path: Union[str, Path]) -> ParseResult:
    """ORC scan (extension beyond the reference, SURVEY.md §7 — the
    reference's pandas surface has no ORC arm; the "almost any file"
    contract plus Spark's native reader make it free here).

    Fully distributed with predicate pushdown / column pruning /
    stripe-level skipping via ORC file statistics — the same scan
    properties as the parquet arm, so the whole query surface runs on
    ORC lakes unchanged. Directory datasets accepted like parquet.
    """
    df = spark.read.orc(str(path))
    return ParseResult(
        data=df,
        sheet_name="ORC file content",
        engine="spark.read.orc",
        file_path=str(path),
    )


def read_feather(spark: SparkSession, path: Union[str, Path]) -> ParseResult:
    """Feather / Arrow-IPC scan (extension beyond the reference,
    SURVEY.md §7).

    A Feather/IPC file is a single memory-mappable Arrow blob — a
    desktop interchange format like pickle, not a splittable lake
    format — so the read is driver-side by construction (pyarrow),
    then handed to Spark as the Arrow table itself (no pandas detour,
    which would turn a nullable int64 column into double). Downstream
    transformations are fully distributed; at 100 TB the lake formats
    are the parquet/ORC arms, and this arm exists for the reference's
    desktop-file world.
    """
    import pyarrow as pa

    path = str(path)
    try:
        from pyarrow import feather

        tbl = feather.read_table(path)
        engine = "pyarrow.feather -> createDataFrame"
    except pa.ArrowInvalid:
        # stream-format IPC (.arrow files written by RecordBatchStream)
        with pa.memory_map(path) as source:
            tbl = pa.ipc.open_stream(source).read_all()
        engine = "pyarrow.ipc(stream) -> createDataFrame"
    # Arrow types Spark's Arrow conversion rejects, each cast to one it
    # takes that holds every value: unsigned ints widen to signed ones,
    # date64/time32/float16 go to their finer-grained siblings
    supported = {
        pa.uint8(): pa.int16(),
        pa.uint16(): pa.int32(),
        pa.uint32(): pa.int64(),
        pa.uint64(): pa.decimal128(20, 0),
        pa.date64(): pa.date32(),
        pa.time32("s"): pa.time64("us"),
        pa.time32("ms"): pa.time64("us"),
        pa.float16(): pa.float32(),
    }
    tbl = tbl.cast(
        pa.schema(
            [f.with_type(supported.get(f.type, f.type)) for f in tbl.schema]
        )
    )
    df = arrow_frame(spark, tbl)
    return ParseResult(
        data=df,
        sheet_name="Feather file content",
        engine=engine,
        file_path=path,
    )
