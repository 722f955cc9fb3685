"""Delimited-text scan (S5 ``.txt .csv .ini``, S6 ``.ant``).

Reference: ``ImportText`` (/root/reference/main.py:327-368) — detect
encoding, sniff delimiter, pre-scan max width, then per line:
strip (T1) → split (T2) → pad to max width with '' (T3) → per-cell
quote strip (T4); all cells strings (T5), positional names (T6).

Spark redesign: ONE driver-side bounded-prefix pass for encoding +
delimiter + width (the reference reads the file 4+ times, SURVEY.md
§3.2; a file longer than the prefix adds one distributed max-width
aggregate), then a single distributed ``spark.read.text`` scan
with the T1-T4 pipeline as built-in column expressions (split /
array_repeat / concat / regexp_replace — all JVM-side, codegen'd).
We read via ``text`` + ``F.split`` rather than the CSV reader because
the reference's semantics are *straight split, no quote handling*
(main.py:347): the CSV reader's quote/escape logic would diverge.

Scale: the scan is a plain distributed text scan — column pruning and
partition splitting come from the text source; the expression pipeline
is narrow (no shuffle at all).
"""

from __future__ import annotations

import re
from pathlib import Path
from typing import List, Optional, Union

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from almost_any_file_to_pandas_spark.result import ParseResult
from almost_any_file_to_pandas_spark.sources import expand_paths, sniff

ANT_DELIMITER = "~~@~~"  # S6, main.py:153-154


def cells_expr(value_col, delimiter: str):
    """T1 strip + T2 split as a single column expression.

    Reference T1 is ``line.strip('\\n').strip('\\t')`` (main.py:345):
    newline is already absent in spark.read.text values; we replicate
    the tab-run trim at both ends *unconditionally* — the reference
    applies it for every delimiter, including tab itself, so a
    tab-delimited line with leading/trailing tabs loses those empty
    edge cells exactly as the reference does — then straight split
    (no quoting).
    """
    trimmed = F.regexp_replace(
        F.regexp_replace(value_col, r"^\t+", ""), r"\t+$", ""
    )
    return F.split(trimmed, re.escape(delimiter), -1)


def pad_cells(cells, width: int):
    """T3 — pad ragged rows with '' to ``width`` (main.py:346-348)."""
    return F.concat(
        cells,
        F.array_repeat(
            F.lit(""), F.greatest(F.lit(0), F.lit(width) - F.size(cells))
        ),
    )


def strip_quote_runs(col):
    """T4 — Python ``strip('\"').strip(\"'\")`` removes *runs* of the
    quote char at both ends (main.py:348); regexp equivalent.
    Matches the reference's order: double-quote runs first, then
    single-quote runs."""
    return F.regexp_replace(
        F.regexp_replace(col, r'^"+|"+$', ""), r"^'+|'+$", ""
    )


_WIDE_CHARSETS = {
    # detector name → endianness-specific Java charset (BOM-free so the
    # encoded lineSep carries no BOM prefix); BOM bytes resolve the
    # ambiguous generic names
    "utf_16_le": "UTF-16LE",
    "utf_16_be": "UTF-16BE",
    "utf_32_le": "UTF-32LE",
    "utf_32_be": "UTF-32BE",
}


def _line_splittable_charset(encoding: str, prefix: bytes):
    """(charset, lineSep) for the CSV raw-line reader: single-byte
    charsets keep the default record splitter (None); UTF-16/32
    resolve to an endianness-specific charset + an explicit "\\n"
    lineSep so records split on the charset's code units, not raw
    0x0A bytes."""
    norm = encoding.lower().replace("-", "_")
    if norm == "utf_32" or norm in ("utf_32_le", "utf_32_be"):
        if norm == "utf_32":
            norm = (
                "utf_32_be"
                if prefix.startswith(b"\x00\x00\xfe\xff")
                else "utf_32_le"
            )
        return _WIDE_CHARSETS[norm], "\n"
    if norm == "utf_16" or norm in ("utf_16_le", "utf_16_be"):
        if norm == "utf_16":
            norm = "utf_16_be" if prefix.startswith(b"\xfe\xff") else "utf_16_le"
        return _WIDE_CHARSETS[norm], "\n"
    return encoding, None



def _read_lines(spark, paths, encoding, prefix):
    """Distributed raw-line read honoring the detected encoding
    (single path or list/glob) → (lines_df, effective_encoding).

    Reference detects but never applies the encoding (main.py:339
    quirk); we apply it — documented deviation, SURVEY.md §7.
    spark.read.text has no charset option, so non-UTF8 files go
    through the CSV source configured as a raw line reader: an
    improbable separator + quoting disabled keeps the line intact,
    and `encoding` is honored (legacy Java charset names like cp1251
    need spark.sql.legacy.javaCharsets). Multi-byte charsets
    additionally need an explicit lineSep — the default record
    splitter cuts on the raw 0x0A byte MID-CODE-UNIT, garbling every
    line — encoded with the endianness-specific charset (0A 00 for
    UTF-16LE; the generic "UTF-16" would prepend a BOM to the
    separator), and the file-leading BOM decodes as U+FEFF on the
    first line, so it is stripped.
    """
    if encoding and encoding.lower().replace("_", "-") not in (
        "utf-8",
        "ascii",
        "utf8",
    ):
        spark.conf.set("spark.sql.legacy.javaCharsets", "true")
        encoding, line_sep = _line_splittable_charset(encoding, prefix)
        reader = (
            spark.read.option("encoding", encoding)
            .option("sep", "\x7f")
            .option("quote", "")
            .schema("value string")
        )
        if line_sep is not None:
            reader = reader.option("lineSep", line_sep)
        lines = reader.csv(paths)
        if line_sep is not None:
            lines = lines.select(
                F.regexp_replace("value", "^\ufeff", "").alias("value")
            )
        return lines, encoding
    return spark.read.text(paths), encoding


def _table_width(lines, delimiter, prefix, encoding, n_files) -> int:
    """D3 — the table width every row is padded to (main.py:360-368:
    the max split-width over ALL lines).

    One file whose bounded prefix is its whole logical content is
    measured on the driver from that prefix, with no Spark job.
    Anything larger, or more than one file, is measured by one
    distributed ``max(size(split(value, delimiter, -1)))`` over the
    same decoded ``lines`` frame the scan reads, so a wide row past
    the prefix or in a later file keeps its cells.
    """
    if n_files == 1 and len(prefix) < sniff.DEFAULT_PREFIX_BYTES:
        width = sniff.max_columns_in_prefix(
            None, delimiter, prefix=prefix, encoding=encoding
        )
    else:
        width = lines.select(
            F.max(F.size(F.split("value", re.escape(delimiter), -1)))
        ).first()[0]
    return int(width or 0)


def read_delimited(
    spark: SparkSession,
    path: Union[str, Path],
    delimiter: Optional[str] = None,
    width: Optional[int] = None,
) -> ParseResult:
    """Full S5/S6 pipeline → one all-string, positionally-named table.

    ``delimiter=None`` triggers the D2 sniff; ``width=None`` measures
    the max line width (:func:`_table_width`).
    """
    path = str(path)
    prefix = sniff.read_prefix(path)
    encoding = sniff.detect_encoding(path, prefix=prefix)
    if delimiter is None:
        delimiter = sniff.sniff_delimiter(path, prefix=prefix, encoding=encoding)
    lines, encoding = _read_lines(spark, path, encoding, prefix)
    if width is None:
        width = _table_width(lines, delimiter, prefix, encoding, 1)
    width = max(1, int(width))

    cells = pad_cells(cells_expr(F.col("value"), delimiter), width)
    columns = [
        strip_quote_runs(F.element_at(cells, i + 1)).alias(f"c{i}")
        for i in range(width)
    ]
    df = lines.select(*columns)
    return ParseResult(
        data=df,
        sheet_name="Text file content",  # main.py:353
        encoding=str(encoding),
        separator=delimiter,
        engine="spark.read.text + split",
        file_path=path,
    )


def positional_names(n: int) -> List[str]:
    """T6 — positional column names ``c0..cN-1`` (reference uses
    integer labels 0..N-1, main.py:351; Spark needs strings)."""
    return [f"c{i}" for i in range(n)]


def read_delimited_many(
    spark: SparkSession,
    paths,
    delimiter: Optional[str] = None,
    width: Optional[int] = None,
) -> ParseResult:
    """Many-files variant of :func:`read_delimited` — ONE distributed
    scan over the whole file list/glob, which is the actual 100 TB
    ingestion shape (the per-file loop exists for metadata fidelity,
    not throughput).

    Encoding and delimiter are sniffed once on the first file's
    bounded prefix — a homogeneous-corpus assumption that callers can
    override by passing ``delimiter`` explicitly. The width is the max
    over every file's lines (:func:`_table_width`). Provenance
    is preserved per row via ``source_file`` (input_file_name), the
    distributed analogue of per-file ParseResult metadata.
    """
    expanded = expand_paths(paths)
    if not expanded:
        raise FileNotFoundError(f"read_delimited_many: no files match {paths!r}")
    first = expanded[0]
    prefix = sniff.read_prefix(first)
    encoding = sniff.detect_encoding(first, prefix=prefix)
    if delimiter is None:
        delimiter = sniff.sniff_delimiter(first, prefix=prefix, encoding=encoding)
    lines, encoding = _read_lines(spark, expanded, encoding, prefix)
    if width is None:
        width = _table_width(lines, delimiter, prefix, encoding, len(expanded))
    width = max(1, int(width))

    cells = pad_cells(cells_expr(F.col("value"), delimiter), width)
    columns = [
        strip_quote_runs(F.element_at(cells, i + 1)).alias(f"c{i}")
        for i in range(width)
    ] + [F.input_file_name().alias("source_file")]
    return ParseResult(
        data=lines.select(*columns),
        sheet_name="Text file content",
        encoding=str(encoding),
        separator=delimiter,
        engine="spark.read.text + split (multi-file)",
        file_path=str(paths) if isinstance(paths, (str, Path)) else first,
    )
