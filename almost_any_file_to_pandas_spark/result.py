"""Parse-result record mirroring the reference's ``ParserAnswer``.

Reference: /root/reference/main.py:33-115 — a ``__slots__`` record with
validating descriptors (RulePath/RuleString/RuleData), defaults
``engine='Not used'``, ``encoding='not applied'``,
``separator='format defined'``, and ``parse_info`` recomputed as
``'Failed'`` iff the DataFrame is empty (main.py:99-103).

Spark redesign: the payload is a *lazy* ``pyspark.sql.DataFrame``; we
do not force a count at construction. ``parse_info`` is therefore a
lazy property — first access runs ``isEmpty()`` (a cheap limit-1 job),
then caches. The reference's eager "shape in __str__" (main.py:110-111)
becomes optional via :meth:`describe`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

STATUS_SUCCESS = "OK"  # reference literal, main.py:103
STATUS_FAILED = "Failed"


def _coerce_str(value: object) -> str:
    """Reference ``RuleString`` coerces anything (incl. None) to str
    (main.py:60-66); we keep that total behavior."""
    return str(value)


@dataclass
class ParseResult:
    """One parsed sheet/table + provenance metadata.

    Field-for-field analogue of ``ParserAnswer`` (main.py:78-115):
    sheet_name, data, encoding, separator, engine, file_path,
    parse_info. ``data`` is a Spark DataFrame (lazy lineage instead of
    a materialized pandas frame).
    """

    data: DataFrame
    sheet_name: str = "Not defined"
    encoding: str = "not applied"
    separator: str = "format defined"
    engine: str = "Not used"
    file_path: str = "Not defined"
    # Set only by the '.xz' façade arm: the decompressed temp file the
    # lazy DataFrame actually scans. Lifetime is the Python process
    # (parse.py registers an atexit unlink); callers done with the
    # table earlier may unlink it themselves.
    temp_path: Optional[str] = field(default=None, repr=False)
    _parse_info: Optional[str] = field(default=None, repr=False)

    def __post_init__(self) -> None:
        self.sheet_name = _coerce_str(self.sheet_name)
        self.encoding = _coerce_str(self.encoding)
        self.separator = _coerce_str(self.separator)
        self.engine = _coerce_str(self.engine)
        # RulePath coerces to absolute path string (main.py:51-57).
        if self.file_path != "Not defined":
            self.file_path = os.path.abspath(str(self.file_path))

    @property
    def parse_info(self) -> str:
        """'Failed' iff the table is empty (main.py:103), lazily."""
        if self._parse_info is None:
            self._parse_info = (
                STATUS_FAILED if self.data.isEmpty() else STATUS_SUCCESS
            )
        return self._parse_info

    def mark_failed(self) -> "ParseResult":
        """Pre-set Failed without running a Spark job (used by the
        façade's error paths, main.py:134-144)."""
        self._parse_info = STATUS_FAILED
        return self

    @classmethod
    def failed(
        cls, spark: SparkSession, file_path: str, **meta: str
    ) -> "ParseResult":
        """An empty, column-less table already marked Failed, with
        ``meta`` (``engine``, ``sheet_name``, …) set as given: the one
        result every source returns for a file or table it cannot
        read."""
        empty = spark.createDataFrame([], T.StructType([]))
        return cls(data=empty, file_path=file_path, **meta).mark_failed()

    @property
    def ok(self) -> bool:
        return self.parse_info == STATUS_SUCCESS

    def describe(self) -> str:
        """Eager shape report — the analogue of ``ParserAnswer.__str__``
        (main.py:105-113). Runs a count(); call deliberately."""
        rows = self.data.count()
        cols = len(self.data.columns)
        return (
            f"Parse: {self.parse_info}\n"
            f"Sheet name: {self.sheet_name}\n"
            f"Rows: {rows}, columns: {cols}\n"
            f"Encoding: {self.encoding}\n"
            f"Separator: {self.separator}\n"
            f"Engine: {self.engine}\n"
            f"File: {self.file_path}"
        )
