"""File-format sources.

Native Spark readers cover parquet/JSON/delimited text/ORC. Every
source that decodes rows in Python hands them to Spark as Arrow
through the helpers below: driver-decoded string grids (xlsx and the
other workbook formats, SpreadsheetML, HTML) go through
:func:`grid_frame`; range-parallel executor scans (SQLite, DBF) start
from :func:`range_frame` and yield :func:`arrow_batch` batches from
``mapInArrow``. The one Python DataSource left is the many-workbooks
corpus reader (``excel.read_excel_many``). Pickle and PDF are
driver-side bridges (pickle is an inherently single-blob format; PDF
requires tabula-java, gated behind an import-try).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Upper bound on scan ranges per table: enough tasks to keep a cluster
# busy without issuing thousands of probes against one small file. At
# local[32] this is one range per core.
_MAX_RANGES = 64


def grid_frame(spark: SparkSession, grid: list[list[str]]) -> DataFrame:
    """A padded all-string grid as a DataFrame with columns ``c0..``,
    handed over as one ``pyarrow.Table``: no per-row Python pickling,
    rows stay in grid order across partitions. Zero width gives the
    empty, column-less frame."""
    import pyarrow as pa

    width = len(grid[0]) if grid else 0
    if width == 0:
        return spark.createDataFrame([], T.StructType([]))
    return spark.createDataFrame(
        pa.table(
            {
                f"c{i}": pa.array([row[i] for row in grid], pa.string())
                for i in range(width)
            }
        )
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
