"""ZIP container fan-out: parse every supported member through the
façade, one batch of ParseResults per member (extension beyond the
reference, SURVEY.md §7 — the "here's the data export, it's a zip of
CSVs/workbooks" case every ingestion team meets weekly).

Contract mirrors the Excel/HTML fan-outs (M1): enumerate members on
the driver, recurse into :func:`parse` per member, never raise — a
corrupt archive, an empty member list, or all-members-unsupported
yield a single failed answer; individual bad members are skipped
(logging-and-continue, the reference's philosophy).

Safety: members are stream-extracted to temp files under the same
byte ceiling as the ``.xz`` arm (the declared ``file_size`` is
attacker-controlled, so the EXTRACTED byte count is what's bounded),
member count is capped, and nested archives (``.zip`` members) are
deliberately not recursed — one level of containment, no zip-bomb
recursion. Temp files join the façade's process-lifetime atexit
registry and each ParseResult carries its ``temp_path``.

Scale: extraction is driver-side by construction (ZIP is a central-
directory format, not splittable); each extracted member then parses
through the ordinary distributed arms (a 10-file zip of CSVs scans as
10 distributed CSV reads). At corpus scale, unpack archives into a
lake layout once instead of re-reading them per job.
"""

from __future__ import annotations

from pathlib import Path
from typing import List, Union

from pyspark.sql import SparkSession

from almost_any_file_to_pandas_spark.result import ParseResult

ZIP_MAX_MEMBERS = 256


def _supported_member(name: str) -> bool:
    from almost_any_file_to_pandas_spark.parse import (
        EXCEL_SUFFIXES,
        TEXT_SUFFIXES,
    )

    suffixes = [s.lower() for s in Path(name).suffixes]
    if not suffixes:
        return False
    last = suffixes[-1]
    simple = TEXT_SUFFIXES + EXCEL_SUFFIXES + (
        ".ant",
        ".json",
        ".jsonl",
        ".xml",
        ".parquet",
        ".orc",
        ".feather",
        ".arrow",
        ".avro",
        ".html",
        ".htm",
        ".pdf",
        ".pk1",
        ".pickle",
        ".db",
        ".sqlite",
        ".sqlite3",
        ".npy",
        ".npz",
        ".dbf",
    )
    if last in simple:
        return True
    # compressed text members dispatch on their inner suffix
    if last in (".gz", ".bz2", ".xz") and len(suffixes) >= 2:
        return suffixes[-2] in TEXT_SUFFIXES + (
            ".ant",
            ".json",
            ".jsonl",
        )
    return False


def read_zip(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    import tempfile
    import zipfile

    from almost_any_file_to_pandas_spark.parse import (
        XZ_MAX_DECOMPRESSED_BYTES,
        _register_temp_file,
        parse,
    )

    p = Path(path)
    try:
        zf = zipfile.ZipFile(str(p))
    except (zipfile.BadZipFile, OSError):
        return [ParseResult.failed(spark, str(path))]

    results: List[ParseResult] = []
    with zf:
        members = [i for i in zf.infolist() if not i.is_dir()]
        members = members[:ZIP_MAX_MEMBERS]
        for info in members:
            if not _supported_member(info.filename):
                continue
            # keep up to two suffixes so '.csv.gz' members land on
            # the façade's compressed-text dispatch
            suffix = "".join(Path(info.filename).suffixes[-2:])
            tmp = tempfile.NamedTemporaryFile(
                suffix=suffix, delete=False
            )
            total = 0
            try:
                with zf.open(info) as src:
                    while True:
                        chunk = src.read(1 << 20)
                        if not chunk:
                            break
                        total += len(chunk)
                        if total > XZ_MAX_DECOMPRESSED_BYTES:
                            raise OSError(
                                "member exceeds extraction ceiling"
                            )
                        tmp.write(chunk)
                tmp.close()
            except (OSError, RuntimeError, zipfile.BadZipFile):
                # encrypted, truncated, or bomb-sized member: skip it
                tmp.close()
                try:
                    Path(tmp.name).unlink()
                except OSError:
                    pass
                continue
            _register_temp_file(tmp.name)
            for r in parse(spark, tmp.name, **options):
                # evaluates the lazy status (a limit-1 job) — archive
                # members are enumerated at container granularity, so
                # the per-member probe is part of the fan-out cost
                if r.parse_info == "Failed":
                    continue  # member-level failure: skip, continue
                r.file_path = str(p.absolute())
                # single-table arms use a "<Format> file content"
                # placeholder — replace it with the member name; true
                # fan-out arms (Excel sheets, SQLite tables, HTML/XML
                # tables) keep theirs, qualified by the member
                r.sheet_name = (
                    info.filename
                    if r.sheet_name == "Not defined"
                    or r.sheet_name.endswith(" content")
                    else f"{info.filename}:{r.sheet_name}"
                )
                r.temp_path = tmp.name
                results.append(r)
    if not results:
        return [ParseResult.failed(spark, str(path))]
    return results


def read_tar(
    spark: SparkSession, path: Union[str, Path], **options
) -> List[ParseResult]:
    """TAR container fan-out (plain, ``.tar.gz``/``.tgz``,
    ``.tar.bz2``/``.tbz2``, ``.tar.xz``) — same member contract as
    :func:`read_zip`: one level, supported members only, stream
    extraction under the byte ceiling, skip-and-continue on bad
    members, failed answer when nothing parses.

    ``tarfile.open(mode="r:*")`` sniffs the compression; extraction
    streams member-by-member so a 100-file tarball never materializes
    whole in memory. Symlinks/devices/hardlinks are skipped — only
    regular members parse.
    """
    import tarfile
    import tempfile

    from almost_any_file_to_pandas_spark.parse import (
        XZ_MAX_DECOMPRESSED_BYTES,
        _register_temp_file,
        parse,
    )

    p = Path(path)
    try:
        tf = tarfile.open(str(p), mode="r:*")
    except (tarfile.TarError, OSError):
        return [ParseResult.failed(spark, str(path))]

    results: List[ParseResult] = []
    with tf:
        count = 0
        for info in tf:
            if count >= ZIP_MAX_MEMBERS:
                break
            if not info.isreg():
                continue
            if not _supported_member(info.name):
                continue
            count += 1
            src = tf.extractfile(info)
            if src is None:
                continue
            suffix = "".join(Path(info.name).suffixes[-2:])
            tmp = tempfile.NamedTemporaryFile(
                suffix=suffix, delete=False
            )
            total = 0
            try:
                while True:
                    chunk = src.read(1 << 20)
                    if not chunk:
                        break
                    total += len(chunk)
                    if total > XZ_MAX_DECOMPRESSED_BYTES:
                        raise OSError(
                            "member exceeds extraction ceiling"
                        )
                    tmp.write(chunk)
                tmp.close()
            except (OSError, tarfile.TarError):
                tmp.close()
                try:
                    Path(tmp.name).unlink()
                except OSError:
                    pass
                continue
            _register_temp_file(tmp.name)
            for r in parse(spark, tmp.name, **options):
                if r.parse_info == "Failed":
                    continue
                r.file_path = str(p.absolute())
                r.sheet_name = (
                    info.name
                    if r.sheet_name == "Not defined"
                    or r.sheet_name.endswith(" content")
                    else f"{info.name}:{r.sheet_name}"
                )
                r.temp_path = tmp.name
                results.append(r)
    if not results:
        return [ParseResult.failed(spark, str(path))]
    return results
