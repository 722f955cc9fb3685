"""NumPy array-file scan: ``.npy`` (one array) and ``.npz`` (zip of
named arrays, fanned out one ParseResult per array — the M1 sheet
analogue). Extension beyond the reference, SURVEY.md §7: the array
sibling of the pickle/feather desktop-interchange arms, and the
format embedding teams actually hand over ("here are the vectors").

Typing: integer dtypes → bigint, floats → double, bool → boolean,
unicode/bytes → string. 1-D structured arrays map field-per-column;
1-D plain arrays become a single ``value`` column; 2-D arrays become
``c0..c{n-1}``. Every table carries a ``row_id`` BIGINT (the array
position) so downstream work has a deterministic key — NumPy order
IS data here, unlike the unordered text formats.

Safety: ``allow_pickle=False`` always — object arrays are rejected
(→ failed answer), never unpickled; an ``.npy`` member inside
``.npz`` is size-bounded by the zipfile layer NumPy uses. Arrays of
rank > 2 are refused (→ failed answer) rather than silently
flattened.

Scale: single-blob driver-side format by construction (one
memory-mapped read → Arrow-batched ``createDataFrame``); the lake
path for big embedding matrices is parquet with an ``array<float>``
column, which the similarity operators already consume.
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Optional, Union

from pyspark.sql import DataFrame, SparkSession

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import pandas_frame

NPY_MAX_COLUMNS = 4096  # a wider matrix is data modeling gone wrong


def _frame_from_array(spark: SparkSession, arr) -> Optional[DataFrame]:
    import numpy as np
    import pandas as pd

    def series(col):
        kind = col.dtype.kind
        if kind in "iu":
            return col.astype("int64")
        if kind == "f":
            return col.astype("float64")
        if kind == "b":
            return col.astype("bool")
        if kind == "U":
            return col.astype(object)
        if kind == "S":
            return np.char.decode(col, "utf-8", "replace").astype(
                object
            )
        return None

    if arr.dtype.names:  # structured array: field per column
        if arr.ndim != 1:
            return None
        data = {}
        for name in arr.dtype.names:
            col = series(arr[name])
            if col is None:
                return None
            data[name] = col
    elif arr.ndim == 1:
        col = series(arr)
        if col is None:
            return None
        data = {"value": col}
    elif arr.ndim == 2:
        if arr.shape[1] > NPY_MAX_COLUMNS:
            return None
        data = {}
        for j in range(arr.shape[1]):
            col = series(arr[:, j])
            if col is None:
                return None
            data[f"c{j}"] = col
    else:
        return None
    pdf = pd.DataFrame(data)
    pdf.insert(0, "row_id", range(len(pdf)))
    return pandas_frame(spark, pdf)


def read_npy(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    import numpy as np

    p = str(path)
    try:
        arr = np.load(p, allow_pickle=False, mmap_mode="r")
    except (OSError, ValueError):
        return [ParseResult.failed(spark, p)]
    df = _frame_from_array(spark, np.asarray(arr))
    if df is None:
        return [ParseResult.failed(spark, p)]
    return [
        ParseResult(
            data=df,
            sheet_name="NumPy array content",
            engine="numpy.load -> createDataFrame",
            file_path=p,
        )
    ]


def read_npz(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    import numpy as np

    p = str(path)
    try:
        bundle = np.load(p, allow_pickle=False)
    except (OSError, ValueError):
        return [ParseResult.failed(spark, p)]
    results: List[ParseResult] = []
    with bundle:
        for name in sorted(bundle.files):
            try:
                arr = bundle[name]
            except (OSError, ValueError):
                continue  # bad member: skip, keep the rest
            df = _frame_from_array(spark, arr)
            if df is None:
                continue
            results.append(
                ParseResult(
                    data=df,
                    sheet_name=name,
                    engine="numpy.load(npz) -> createDataFrame",
                    file_path=p,
                )
            )
    if not results:
        return [ParseResult.failed(spark, p)]
    return results
