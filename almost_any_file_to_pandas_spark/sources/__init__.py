"""File-format sources.

Native Spark readers cover parquet/JSON/delimited text/ORC. Every
source that decodes rows in Python hands them to Spark as Arrow
through the helpers below, sized by one cut, :data:`DRIVER_DECODE_BYTES`.
A Python worker task pays a fixed floor of ~0.1 s before it decodes a
row, so an input at or under the cut is decoded where it already is,
on the driver, and a bigger one in executor tasks, which also bounds
what the driver decodes of it. Single workbooks, HTML pages and PDFs
are parsed on the driver at any size.

* :func:`arrow_frame` hands a driver-built Arrow batch or table over
  as ``clamp(ceil(nbytes / cut), 1, defaultParallelism)`` partitions
  (:func:`_byte_sized`), rows in order; :func:`pandas_frame` does the
  same for a pandas frame (pickle, NumPy arrays, dict-shaped JSON).
  Driver-decoded string grids (xlsx and the other workbook formats,
  SpreadsheetML, HTML, PDF tables) go through :func:`grid_frame`;
  Feather and Arrow IPC tables go through :func:`arrow_frame` as they
  are.
* :func:`decoded_frame` is the one executor-side decode path. A
  format supplies ``decode(lo, hi) -> RecordBatch`` over integer unit
  addresses (SQLite rowids, DBF records, Avro blocks, corpus files);
  at or under the cut the whole input is one driver call, over it
  :func:`range_frame` feeds a ``mapInArrow`` scan that decodes one
  range per task, in one narrow stage.
* :func:`corpus_frame` is the many-files shape over it: one row per
  grid row of every file, ``(source_file, key, row_idx, cells)``,
  with the single-file reader's own parser run per file.
  :func:`expand_paths` turns a path argument into its files.

Executors import this package to run ``decode``.
"""

from __future__ import annotations

import functools
import glob
import os
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Upper bound on scan ranges per table: enough tasks to keep a cluster
# busy without issuing thousands of probes against one small file. At
# local[32] this is one range per core.
_MAX_RANGES = 64

# Bytes of input a range-addressable source may have and still be
# decoded in one driver pass; also the bytes per partition of an Arrow
# hand-off. Measured at local[4], parse plus a noop write of a
# generated four-column table (median of 5): the driver pass wins
# below ~1.5 MB (0.5 MB: 0.08 s vs 0.19 s for the range scan; 1 MB:
# 0.12 s vs 0.18 s) and loses above it (4 MB: 0.36-0.44 s vs 0.21 s).
# The cut sits under that crossover; more cores move it lower.
DRIVER_DECODE_BYTES = 2**20


def _mb(nbytes: int) -> str:
    return f"{nbytes / 2**20:.3g} MB"


def _byte_sized(df: DataFrame, nbytes: int) -> DataFrame:
    """A DataFrame handed over from the driver, coalesced to
    ``clamp(ceil(nbytes / DRIVER_DECODE_BYTES), 1, defaultParallelism)``
    partitions. The hand-off slices the data into
    ``defaultParallelism`` pieces in order; the coalesce merges
    neighbours, so rows stay in order."""
    n = -(-int(nbytes) // DRIVER_DECODE_BYTES)
    return df.coalesce(
        max(1, min(n, df.sparkSession.sparkContext.defaultParallelism))
    )


def arrow_frame(spark: SparkSession, data) -> DataFrame:
    """A driver-built ``pyarrow.RecordBatch`` or ``Table`` as a
    :func:`_byte_sized` DataFrame. No Python worker runs."""
    import pyarrow as pa

    if isinstance(data, pa.RecordBatch):
        data = pa.Table.from_batches([data])
    return _byte_sized(spark.createDataFrame(data), data.nbytes)


def pandas_frame(spark: SparkSession, pdf) -> DataFrame:
    """A driver-built pandas frame as a :func:`_byte_sized` DataFrame,
    typed by ``createDataFrame``'s pandas inference."""
    return _byte_sized(
        spark.createDataFrame(pdf), pdf.memory_usage(deep=True).sum()
    )


def grid_frame(spark: SparkSession, grid: list[list[str]]) -> DataFrame:
    """A padded all-string grid as a DataFrame with columns ``c0..``,
    handed over by :func:`arrow_frame`: no per-row Python pickling,
    rows stay in grid order across partitions. Zero width gives the
    empty, column-less frame."""
    import pyarrow as pa

    width = len(grid[0]) if grid else 0
    if width == 0:
        return spark.createDataFrame([], T.StructType([]))
    return arrow_frame(
        spark,
        pa.record_batch(
            {
                f"c{i}": pa.array([row[i] for row in grid], pa.string())
                for i in range(width)
            }
        ),
    )


def range_frame(spark: SparkSession, lo: int, hi: int) -> DataFrame:
    """``(lo, hi)`` rows splitting the inclusive range ``[lo, hi]``
    into at most ``min(64, defaultParallelism)`` contiguous pieces,
    one per partition. Built on ``spark.range`` with the bounds picked
    from literal arrays by ``id``, so it plans as one narrow JVM stage
    (no Exchange) and the bounds stay exact at any int64 value.
    Requires ``lo <= hi``."""
    span = hi - lo + 1
    n = min(_MAX_RANGES, spark.sparkContext.defaultParallelism, span)
    width = -(-span // n)
    los = list(range(lo, hi + 1, width))
    his = [x - 1 for x in los[1:]] + [hi]

    def pick(bounds: list[int]):
        arr = F.array(*[F.lit(b).cast("long") for b in bounds])
        return F.element_at(arr, F.col("id").cast("int") + 1)

    return spark.range(0, len(los), 1, len(los)).select(
        pick(los).alias("lo"), pick(his).alias("hi")
    )


def decoded_frame(
    spark: SparkSession,
    nbytes: int,
    lo: int,
    hi: int,
    decode: Callable,
    schema: T.StructType,
    unit: str,
) -> tuple[DataFrame, str]:
    """The table of a ``nbytes`` input whose rows ``decode(lo, hi)``
    returns as one Arrow batch of ``schema`` for any inclusive range
    of its ``unit`` addresses (``rowid``, ``record``, ``block``,
    ``file``), and the regime that built it, for ``ParseResult.engine``.

    At or under the cut (and for an empty range) ``decode(lo, hi)``
    runs once on the driver and :func:`arrow_frame` hands the batch
    over; over it each task of a :func:`range_frame` scan decodes its
    ranges. ``decode`` then travels to executors by pickle, once per
    task; a large unit list belongs in its closure
    (``functools.partial``), which PySpark broadcasts past 1 MB."""
    cut = DRIVER_DECODE_BYTES
    if hi < lo or nbytes <= cut:
        regime = f"{_mb(nbytes)} ≤ {_mb(cut)}" if nbytes <= cut else "no rows"
        return arrow_frame(spark, decode(lo, hi)), f"driver, {regime}"

    def scan(batches: Iterator) -> Iterator:
        for batch in batches:
            for r_lo, r_hi in zip(
                batch.column("lo").to_pylist(), batch.column("hi").to_pylist()
            ):
                yield decode(r_lo, r_hi)

    df = range_frame(spark, lo, hi).mapInArrow(scan, schema)
    return df, f"{unit}-range parallel, {_mb(nbytes)} > {_mb(cut)}"


def arrow_batch(columns: list[list], schema: T.StructType):
    """Python value lists, one per field of ``schema``, as one Arrow
    batch of that schema. Typed arrays keep an int64 above 2**53 exact
    beside NULLs, which a pandas frame would round through float64."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(col, f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )


def expand_paths(paths) -> list[str]:
    """The files a path argument names, in order. A list or tuple
    expands element by element: a directory gives its visible files
    (names not starting with ``.`` or ``_``, as Spark's file sources
    skip them), an existing file gives itself, and anything else is a
    glob pattern giving its matching files, each group sorted."""
    items = [paths] if isinstance(paths, (str, os.PathLike)) else paths
    out: list[str] = []
    for p in map(str, items):
        if os.path.isdir(p):
            names = [n for n in os.listdir(p) if not n.startswith((".", "_"))]
            found = [os.path.join(p, n) for n in names]
        elif os.path.exists(p):
            found = [p]
        else:
            found = glob.glob(p)
        out += sorted(f for f in found if os.path.isfile(f))
    return out


def corpus_frame(
    spark: SparkSession, files: list[str], tables: Callable, key: T.StructField
) -> tuple[DataFrame, str]:
    """``files`` as one :func:`decoded_frame` over file indices: a
    ``(source_file, key, row_idx int, cells array<string>)`` row for
    every row of every ``(key, rows)`` that ``tables(path)`` returns,
    in file, table and row order, and the regime. A file that
    ``tables`` raises on contributes zero rows."""
    schema = T.StructType(
        [
            T.StructField("source_file", T.StringType()),
            key,
            T.StructField("row_idx", T.IntegerType()),
            T.StructField("cells", T.ArrayType(T.StringType())),
        ]
    )
    decode = functools.partial(_decode_files, files, tables, schema)
    nbytes = sum(os.path.getsize(f) for f in files)
    return decoded_frame(
        spark, nbytes, 0, len(files) - 1, decode, schema, "file"
    )


def _decode_files(files, tables, schema, lo: int, hi: int):
    cols: tuple[list, ...] = ([], [], [], [])
    for path in files[lo : hi + 1]:
        try:
            found = tables(path)
        except Exception:
            continue
        for key, rows in found:
            for i, row in enumerate(rows):
                for col, v in zip(cols, (path, key, i, row)):
                    col.append(v)
    return arrow_batch(list(cols), schema)
