"""The ``parse(path)`` façade — extension dispatch + error paths.

Reference: ``FileToPandasImporter.parse`` (/root/reference/main.py:118-168):
stat + open('rb') permission probe, lowercased-suffix dispatch to an
importer, ``work()`` → ``List[ParserAnswer]``; missing file /
PermissionError / unknown extension → single failed answer, never
raises (S11, main.py:134-144, 163-165).

Spark redesign: the façade is driver-side and *lazy* — each returned
:class:`ParseResult` wraps an unexecuted DataFrame plan; Spark runs
the scan distributed at action time. Dispatch table mirrors
main.py:147-165 including the ``.ant`` exotic-delimiter arm (S6) and
accepts ``.pickle`` in addition to the reference's ``.pk1``
(main.py:161-162 quirk — documented deviation, SURVEY.md §7).
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Union

from pyspark.sql import SparkSession

from almost_any_file_to_pandas_spark.result import ParseResult

EXCEL_SUFFIXES = (".xlsx", ".xls", ".xlsb", ".odf", ".ods", ".odt")  # main.py:147
TEXT_SUFFIXES = (".txt", ".csv", ".ini", ".tsv")  # main.py:151, 155, 157
# (.tsv: extension beyond the reference, SURVEY.md §7 — the sniffer
# votes '\t' on real TSV content and falls back to '\t' regardless)


# '.xz' façade decompression guard: like the Avro deflate guard
# (sources/avro.py AVRO_MAX_BLOCK_BYTES), untrusted compressed input
# is never inflated unboundedly — a pathological xz stream can expand
# >1000×, and the façade's contract is "never raise, never wedge the
# driver". Streams larger than the ceiling return a failed answer.
XZ_MAX_DECOMPRESSED_BYTES = 1 << 28

# Decompressed '.xz' temp files — the returned DataFrame reads the
# temp file LAZILY, so it must outlive the parse() call; the lifetime
# is the Python process (cleaned by one atexit hook). Each owning
# ParseResult also carries the path in ``temp_path`` so callers that
# finish with a table early can unlink it themselves.
_XZ_TEMP_FILES: List[str] = []


def _cleanup_xz_temp_files() -> None:
    import os

    while _XZ_TEMP_FILES:
        try:
            os.unlink(_XZ_TEMP_FILES.pop())
        except OSError:
            pass


def _register_temp_file(name: str) -> None:
    """Add a façade temp file (xz decompression, zip extraction) to
    the process-lifetime registry; first use arms the atexit hook."""
    import atexit

    if not _XZ_TEMP_FILES:
        atexit.register(_cleanup_xz_temp_files)
    _XZ_TEMP_FILES.append(name)


def _xz_decompress_to_temp(p: Path, inner_suffix: str):
    """Stream-decompress ``p`` to a temp file (bounded by
    XZ_MAX_DECOMPRESSED_BYTES); returns the temp path or None on any
    error (corrupt stream, I/O, bomb). First use registers the atexit
    cleanup hook."""
    import lzma
    import os
    import tempfile

    tmp = tempfile.NamedTemporaryFile(suffix=inner_suffix, delete=False)
    total = 0
    try:
        with lzma.open(str(p), "rb") as src:
            while True:
                chunk = src.read(1 << 20)
                if not chunk:
                    break
                total += len(chunk)
                if total > XZ_MAX_DECOMPRESSED_BYTES:
                    raise lzma.LZMAError(
                        "decompressed size exceeds façade ceiling"
                    )
                tmp.write(chunk)
        tmp.close()
    except (OSError, EOFError, lzma.LZMAError):
        tmp.close()
        try:
            os.unlink(tmp.name)
        except OSError:
            pass
        return None
    _register_temp_file(tmp.name)
    return tmp.name




def parse(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    """Parse any supported file into a list of lazy tables.

    Mirrors main.py:124-168; signature gains the SparkSession (the
    reference is implicitly single-process; Spark sessions are
    explicit). Never raises on I/O or format problems — returns a
    single failed result instead (S11).
    """
    p = Path(path)
    extension = p.suffix.lower()  # main.py:131-132

    # Compressed text containers (extension beyond the reference,
    # SURVEY.md §7): '.csv.gz' / '.txt.bz2' / '.json.gz' … dispatch on
    # the INNER suffix. Spark's text/CSV/JSON sources decompress these
    # transparently via the Hadoop codec factory, and the sniffer
    # decompresses its bounded prefix by magic bytes, so the whole
    # delimited pipeline runs unchanged. Note gzip is NOT splittable —
    # one task per .gz file (bz2 splits); that is a property of the
    # codec, not this engine.
    # TAR containers (extension beyond the reference, SURVEY.md §7):
    # '.tar', '.tgz'/'.tar.gz', '.tbz2'/'.tar.bz2', '.txz'/'.tar.xz'
    # all fan out via tarfile's transparent-compression open —
    # intercepted BEFORE the compressed-text dispatch so '.tar.gz'
    # is a container, not a gzip text file.
    is_tar = extension in (".tar", ".tgz", ".tbz2", ".txz") or (
        extension in (".gz", ".bz2", ".xz")
        and len(p.suffixes) >= 2
        and p.suffixes[-2].lower() == ".tar"
    )
    if is_tar:
        if not p.is_file():
            return [ParseResult.failed(spark, str(path))]
        from almost_any_file_to_pandas_spark.sources.archive import read_tar

        return read_tar(spark, p, **options)

    if extension in (".gz", ".bz2") and len(p.suffixes) >= 2:
        inner = p.suffixes[-2].lower()
        if inner in TEXT_SUFFIXES + (".ant", ".json", ".jsonl"):
            extension = inner

    # '.xz': Hadoop ships NO xz codec, and Spark's text source
    # silently reads the raw compressed bytes as lines (verified) —
    # the one failure mode worse than an error. The façade
    # decompresses via stdlib lzma to a temp file and dispatches the
    # inner suffix. Driver-side by necessity (xz is single-stream,
    # unsplittable); at corpus scale re-encode to a splittable codec.
    if extension == ".xz" and len(p.suffixes) >= 2:
        inner = p.suffixes[-2].lower()
        if inner in TEXT_SUFFIXES + (".ant", ".json", ".jsonl") and (
            p.is_file()
        ):
            tmp_name = _xz_decompress_to_temp(p, inner)
            if tmp_name is None:
                return [ParseResult.failed(spark, str(path))]
            results = parse(spark, tmp_name, **options)
            for r in results:
                r.file_path = str(Path(path).absolute())
                r.temp_path = tmp_name
            return results

    # Existence + permission probe (main.py:135-144). Spark-native
    # datasets (parquet/ORC) are directories of part files, not single
    # files — accept those for those arms (scale deviation; the
    # reference's pandas world only has single-file parquet).
    if p.is_dir() and extension in (".parquet", ".orc"):
        pass
    elif not p.is_file():
        return [ParseResult.failed(spark, str(path))]
    else:
        try:
            with open(p, "rb"):
                pass
        except (PermissionError, OSError):
            return [ParseResult.failed(spark, str(path))]

    try:
        if extension in EXCEL_SUFFIXES:
            from almost_any_file_to_pandas_spark.sources.excel import read_excel

            return read_excel(spark, p, **options)
        if extension == ".xml":
            from almost_any_file_to_pandas_spark.sources.xmlss import read_spreadsheetml

            return read_spreadsheetml(spark, p, **options)
        if extension in TEXT_SUFFIXES:
            from almost_any_file_to_pandas_spark.sources.text import read_delimited

            return [read_delimited(spark, p, **options)]
        if extension == ".ant":
            from almost_any_file_to_pandas_spark.sources.text import (
                ANT_DELIMITER,
                read_delimited,
            )

            options.setdefault("delimiter", ANT_DELIMITER)
            return [read_delimited(spark, p, **options)]
        if extension == ".pdf":
            from almost_any_file_to_pandas_spark.sources.pdf import read_pdf

            return read_pdf(spark, p, **options)
        if extension == ".parquet":
            from almost_any_file_to_pandas_spark.sources.columnar import read_parquet

            return [read_parquet(spark, p, **options)]
        if extension in (".json", ".jsonl"):
            # '.jsonl' (extension beyond the reference, SURVEY.md §7):
            # the JSON-lines convention every corpus distribution uses;
            # the shape probe routes it to the distributed lines reader
            from almost_any_file_to_pandas_spark.sources.columnar import read_json

            return [read_json(spark, p, **options)]
        if extension == ".orc":
            # extension beyond the reference (SURVEY.md §7): Spark's
            # native ORC scan — same pushdown/pruning as parquet
            from almost_any_file_to_pandas_spark.sources.columnar import read_orc

            return [read_orc(spark, p, **options)]
        if extension in (".feather", ".arrow"):
            # extension beyond the reference (SURVEY.md §7): Arrow
            # IPC/Feather desktop interchange via the driver-side
            # pyarrow bridge (single-blob format, like pickle)
            from almost_any_file_to_pandas_spark.sources.columnar import (
                read_feather,
            )

            return [read_feather(spark, p, **options)]
        if extension == ".avro":
            # extension beyond the reference (SURVEY.md §7): Avro OCF
            # via the stdlib spec decoder, block-parallel (the
            # built-in format("avro") jar does not ship here)
            from almost_any_file_to_pandas_spark.sources.avro import (
                read_avro,
            )

            return [read_avro(spark, p, **options)]
        if extension in (".html", ".htm"):
            # extension beyond the reference (SURVEY.md §7): every
            # <table> in the document fans out as its own result —
            # the web-scraped sibling of the Excel sheet fan-out
            from almost_any_file_to_pandas_spark.sources.htmltab import read_html

            return read_html(spark, p, **options)
        if extension in (".pk1", ".pickle"):
            from almost_any_file_to_pandas_spark.sources.columnar import read_pickle

            return [read_pickle(spark, p, **options)]
        if extension == ".zip":
            # extension beyond the reference (SURVEY.md §7): one-level
            # container fan-out — every supported member parses
            # through this same façade (bomb-guarded extraction; see
            # sources/archive.py)
            from almost_any_file_to_pandas_spark.sources.archive import (
                read_zip,
            )

            return read_zip(spark, p, **options)
        if extension in (".npy", ".npz"):
            # extension beyond the reference (SURVEY.md §7): NumPy
            # array files — '.npz' fans out one result per named
            # array (driver-side single-blob format, like feather)
            from almost_any_file_to_pandas_spark.sources.nparrays import (
                read_npy,
                read_npz,
            )

            if extension == ".npy":
                return read_npy(spark, p, **options)
            return read_npz(spark, p, **options)
        if extension == ".dbf":
            # extension beyond the reference (SURVEY.md §7): dBase
            # fixed-width table — decoded on the driver at or under
            # the cut, by record ranges in tasks above it
            # (sources.decoded_frame; see sources/dbf.py)
            from almost_any_file_to_pandas_spark.sources.dbf import (
                read_dbf,
            )

            return read_dbf(spark, p, **options)
        if extension in (".db", ".sqlite", ".sqlite3"):
            # extension beyond the reference (SURVEY.md §7): SQLite
            # container — every user table fans out as its own result
            # (the database sibling of the Excel sheet fan-out), each
            # decoded on the driver at or under the cut and by rowid
            # ranges in tasks above it (sources.decoded_frame). '.db'
            # is claimed by many formats; the magic probe inside
            # read_sqlite turns non-SQLite payloads into failed answers.
            from almost_any_file_to_pandas_spark.sources.sqlite import (
                read_sqlite,
            )

            return read_sqlite(spark, p, **options)
    except Exception:
        # Importer blow-ups degrade to a failed answer, as the
        # reference's logging-and-continue philosophy dictates.
        return [ParseResult.failed(spark, str(path))]

    # Unknown extension (main.py:163-165).
    return [ParseResult.failed(spark, str(path))]
