"""Shared fixtures: one SparkSession per test run, the engine-vs-
DuckDB oracle comparison, the skewed events corpus, and golden-grid
file builders for every supported format (FIXTURES.md schemas).

The golden grid is 6 rows × 4 logical columns of (id, name, qty,
note); format twists (ragged row, quoted cells, exotic delimiters,
multi-sheet fan-out) follow FIXTURES.md.
"""

from __future__ import annotations

import datetime
import os
import sys
import zipfile
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

GRID = [
    ["1", "alpha", "10", '"quoted text"'],
    ["2", "beta", "20", "'single quoted'"],
    ["3", "gamma", "30", "plain"],
    ["4", "delta", "40"],  # ragged: 3 fields → pad check (T3)
    ["5", "epsilon", "50", "note,with,commas"],
    ["6", "zeta", "60", "last"],
]
# After T4 quote-strip the expected normalized cells:
EXPECTED = [
    ["1", "alpha", "10", "quoted text"],
    ["2", "beta", "20", "single quoted"],
    ["3", "gamma", "30", "plain"],
    ["4", "delta", "40", ""],
    ["5", "epsilon", "50", "note,with,commas"],
    ["6", "zeta", "60", "last"],
]


def assert_range_scan_plan(df, n_ranges: int) -> None:
    """A range-parallel source scan is one narrow stage: one partition
    per range and no Exchange in the executed plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert df.rdd.getNumPartitions() == n_ranges


@pytest.fixture(scope="session")
def spark():
    session = (
        SparkSession.builder.master("local[4]")
        .appName("aaftp-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield session
    session.stop()


@pytest.fixture(scope="session")
def gate_compare(spark):
    """``gate_compare(sf_dir, name)`` asserts that query ``name`` on
    Spark and its DuckDB oracle over the tables present in ``sf_dir``
    have the same ``tools/check_oracle.py`` frame fingerprint."""
    import duckdb

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from check_oracle import TABLES, frame_fingerprint

    from almost_any_file_to_pandas_spark import plans

    plans.load_all()

    def compare(sf_dir: str, query_name: str) -> None:
        sdf = plans.QUERIES[query_name](spark, sf_dir)
        s_fp = frame_fingerprint(
            sdf.columns, [tuple(r) for r in sdf.collect()]
        )
        con = duckdb.connect()
        for t in TABLES:
            path = f"{sf_dir}/{t}.parquet"
            if os.path.isdir(path):
                path = f"{path}/*.parquet"
            elif not os.path.exists(path):
                continue
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
        cur = con.execute(plans.ORACLES[query_name])
        cols = [d[0] for d in cur.description]
        d_fp = frame_fingerprint(cols, cur.fetchall())
        assert s_fp == d_fp, f"{query_name} diverges from its oracle"

    return compare


@pytest.fixture()
def skewed_events_dir(spark, tmp_path):
    """User 1 owns ~half the stream (the hot-key shape); the rest is
    spread thin. Timestamps interleave so sessions split and merge."""
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for i in range(600):  # hot user: bursts with occasional gaps
        gap_min = 2 if i % 50 else 120
        rows.append(
            (
                eid,
                base + datetime.timedelta(minutes=i * gap_min % 100000),
                1,
                ["view", "click", "purchase"][i % 3],
                float(i % 97) + 0.25,
                None,
            )
        )
        eid += 1
    for u in range(2, 102):  # 100 cold users, 6 events each
        for i in range(6):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=u, minutes=i * 7),
                    u,
                    "view" if i % 2 else "click",
                    1.5 * i,
                    None,
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    df.coalesce(2).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory) -> Path:
    return tmp_path_factory.mktemp("format_fixtures")


@pytest.fixture(scope="session")
def txt_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "golden.txt"
    p.write_text("\n".join("\t".join(r) for r in GRID) + "\n")
    return p


@pytest.fixture(scope="session")
def vals_txt_file(fixture_dir: Path) -> Path:
    """The reference example.txt's shape: 4×4 tab-separated cells."""
    p = fixture_dir / "vals.txt"
    p.write_text("\n".join("\t".join(["Vals"] * 4) for _ in range(4)) + "\n")
    return p


@pytest.fixture(scope="session")
def csv_semicolon_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "golden.csv"
    p.write_text("\n".join(";".join(r) for r in GRID) + "\n")
    return p


@pytest.fixture(scope="session")
def ant_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "golden.ant"
    p.write_text("\n".join("~~@~~".join(r) for r in GRID) + "\n")
    return p


@pytest.fixture(scope="session")
def ini_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "degenerate.ini"
    p.write_text("alpha=1\nbeta=2\ngamma=3\n")
    return p


@pytest.fixture(scope="session")
def cp1251_csv_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "cyrillic.csv"
    rows = [["1", "альфа", "10"], ["2", "бета", "20"], ["3", "гамма", "30"]]
    p.write_bytes(
        ("\n".join(";".join(r) for r in rows) + "\n").encode("windows-1251")
    )
    return p


def _write_minimal_xlsx(path: Path, sheets: dict[str, list[list[str]]]) -> None:
    """Hand-rolled OOXML container: workbook + rels + one inline-string
    worksheet per sheet (no shared strings — inlineStr cells)."""

    def sheet_xml(rows: list[list[str]]) -> str:
        out = ['<?xml version="1.0"?>'
               '<worksheet xmlns="http://schemas.openxmlformats.org/'
               'spreadsheetml/2006/main"><sheetData>']
        for ri, row in enumerate(rows, start=1):
            out.append(f'<row r="{ri}">')
            for ci, val in enumerate(row):
                col = ""
                n = ci + 1
                while n:
                    n, rem = divmod(n - 1, 26)
                    col = chr(65 + rem) + col
                out.append(
                    f'<c r="{col}{ri}" t="inlineStr"><is><t>{val}</t></is></c>'
                )
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        return "".join(out)

    names = list(sheets)
    wb = (
        '<?xml version="1.0"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        "<sheets>"
        + "".join(
            f'<sheet name="{n}" sheetId="{i+1}" r:id="rId{i+1}"/>'
            for i, n in enumerate(names)
        )
        + "</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i+1}" Type="http://schemas.openxmlformats.org/'
            f'officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i+1}.xml"/>'
            for i in range(len(names))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("xl/workbook.xml", wb)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        for i, n in enumerate(names):
            z.writestr(f"xl/worksheets/sheet{i+1}.xml", sheet_xml(sheets[n]))


@pytest.fixture(scope="session")
def xlsx_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "golden.xlsx"
    _write_minimal_xlsx(
        p,
        {
            "My_page_1": [r + [""] * (4 - len(r)) for r in GRID],
            "My_page_2": [["a", "b"], ["c", "d"]],
        },
    )
    return p


@pytest.fixture(scope="session")
def ods_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "golden.ods"
    cells = "".join(
        "<table:table-row>"
        + "".join(
            f'<table:table-cell><text:p>{v}</text:p></table:table-cell>'
            for v in row
        )
        + "</table:table-row>"
        for row in [["a", "b"], ["c", "d"]]
    )
    content = (
        '<?xml version="1.0"?>'
        '<office:document-content '
        'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
        'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
        'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
        f'<office:body><office:spreadsheet>'
        f'<table:table table:name="Sheet1">{cells}</table:table>'
        "</office:spreadsheet></office:body></office:document-content>"
    )
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("content.xml", content)
    return p


@pytest.fixture(scope="session")
def xmlss_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "golden.xml"
    p.write_text(
        '<?xml version="1.0"?>'
        '<Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet" '
        'xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
        '<Worksheet ss:Name="W1"><Table>'
        "<Row><Cell><Data>a</Data></Cell><Cell><Data>1</Data></Cell></Row>"
        "<Row></Row>"  # zero-Data row → must be skipped (F1)
        "<Row><Cell><Data>b</Data></Cell></Row>"
        "</Table></Worksheet>"
        '<Worksheet ss:Name="W2"><Table>'
        "<Row><Cell><Data>x</Data></Cell></Row>"
        "</Table></Worksheet>"
        "</Workbook>"
    )
    return p


@pytest.fixture(scope="session")
def xmlss_bare_file(fixture_dir: Path) -> Path:
    p = fixture_dir / "bare_tables.xml"
    p.write_text(
        '<?xml version="1.0"?>'
        '<Root xmlns="urn:schemas-microsoft-com:office:spreadsheet">'
        "<Table><Row><Cell><Data>only</Data></Cell></Row></Table>"
        "</Root>"
    )
    return p


def _b12_rec(rid: int, payload: bytes) -> bytes:
    """Encode one BIFF12 record (varint type + varint size)."""
    out = bytearray()
    if rid < 0x80:
        out.append(rid)
    else:
        out.append((rid & 0x7F) | 0x80)
        out.append(rid >> 7)
    size = len(payload)
    while True:
        b = size & 0x7F
        size >>= 7
        if size:
            out.append(b | 0x80)
        else:
            out.append(b)
            break
    return bytes(out) + payload


def _b12_wstr(s: str) -> bytes:
    return len(s).to_bytes(4, "little") + s.encode("utf-16-le")


@pytest.fixture(scope="session")
def xlsb_file(fixture_dir: Path) -> Path:
    """Minimal hand-encoded BIFF12 workbook: one sheet exercising the
    shared-string, inline-string, RK-int, RK-x100, real, bool cell
    records plus a row gap."""
    import struct

    p = fixture_dir / "golden.xlsb"
    bundle = (
        (0).to_bytes(4, "little")  # hsState
        + (1).to_bytes(4, "little")  # iTabID
        + _b12_wstr("rId1")
        + _b12_wstr("Bin_1")
    )
    wb = _b12_rec(0x9C, bundle)
    rels = (
        '<?xml version="1.0"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships/worksheet" '
        'Target="worksheets/sheet1.bin"/></Relationships>'
    )
    sst = _b12_rec(0x13, b"\x00" + _b12_wstr("shared"))

    def cell(rid: int, col: int, val: bytes) -> bytes:
        return _b12_rec(
            rid, col.to_bytes(4, "little") + (0).to_bytes(4, "little") + val
        )

    def rowhdr(r: int) -> bytes:
        return _b12_rec(0x00, r.to_bytes(4, "little") + b"\x00" * 8)

    rk_int_10 = ((10 << 2) | 2).to_bytes(4, "little")  # fInt
    rk_x100 = ((1234 << 2) | 3).to_bytes(4, "little")  # fInt + /100
    sheet = b"".join(
        [
            rowhdr(0),
            cell(0x07, 0, (0).to_bytes(4, "little")),  # isst -> "shared"
            cell(0x06, 1, _b12_wstr("inline")),
            cell(0x02, 2, rk_int_10),  # "10"
            cell(0x05, 3, struct.pack("<d", 2.5)),  # "2.5"
            cell(0x04, 4, b"\x01"),  # "True"
            rowhdr(2),  # row gap: row index 1 absent
            cell(0x02, 0, rk_x100),  # "12.34"
        ]
    )
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.bin", wb)
        z.writestr("xl/_rels/workbook.bin.rels", rels)
        z.writestr("xl/sharedStrings.bin", sst)
        z.writestr("xl/worksheets/sheet1.bin", sheet)
    return p


def _biff8_rec(rid: int, payload: bytes) -> bytes:
    return rid.to_bytes(2, "little") + len(payload).to_bytes(2, "little") + payload


def _cfb_wrap(stream_name: str, stream: bytes) -> bytes:
    """Minimal single-stream CFB container (v3, 512-byte sectors).
    Stream is padded past the 4096-byte mini cutoff so it lives in
    the regular FAT chain."""
    import struct

    stream = stream + b"\x00" * (max(0, 4096 - len(stream)))
    n_stream_sectors = (len(stream) + 511) // 512
    stream += b"\x00" * (n_stream_sectors * 512 - len(stream))
    # sectors: 0=FAT, 1=directory, 2..=stream
    fat = [0xFFFFFFFD, 0xFFFFFFFE]  # FAT sector, dir chain end
    for k in range(n_stream_sectors):
        fat.append(2 + k + 1 if k < n_stream_sectors - 1 else 0xFFFFFFFE)
    fat += [0xFFFFFFFF] * (128 - len(fat))
    fat_sector = struct.pack("<128I", *fat)

    def direntry(name: str, typ: int, start: int, size: int) -> bytes:
        raw = name.encode("utf-16-le")
        e = bytearray(128)
        e[0 : len(raw)] = raw
        struct.pack_into("<H", e, 64, len(raw) + 2)
        e[66] = typ
        e[67] = 1  # black
        struct.pack_into("<iii", e, 68, -1, -1, -1)  # siblings/child
        struct.pack_into("<i", e, 116, start)
        struct.pack_into("<I", e, 120, size)
        return bytes(e)

    directory = (
        direntry("Root Entry", 5, -2, 0)
        + direntry(stream_name, 2, 2, len(stream))
        + bytes(128)
        + bytes(128)
    )
    header = bytearray(512)
    header[0:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", header, 24, 0x003E)  # minor
    struct.pack_into("<H", header, 26, 0x0003)  # major (v3)
    struct.pack_into("<H", header, 28, 0xFFFE)  # little-endian
    struct.pack_into("<H", header, 30, 9)  # 512-byte sectors
    struct.pack_into("<H", header, 32, 6)  # 64-byte mini sectors
    struct.pack_into("<I", header, 44, 1)  # one FAT sector
    struct.pack_into("<i", header, 48, 1)  # dir starts at sector 1
    struct.pack_into("<I", header, 56, 4096)  # mini cutoff
    struct.pack_into("<i", header, 60, -2)  # no mini FAT
    struct.pack_into("<i", header, 68, -2)  # no extended DIFAT
    difat = [0] + [0xFFFFFFFF] * 108  # DIFAT[0] = FAT sector id 0
    struct.pack_into("<109I", header, 76, *difat)
    return bytes(header) + fat_sector + directory + bytes(512 - len(directory)) + stream


@pytest.fixture(scope="session")
def xls_file(fixture_dir: Path) -> Path:
    """Hand-encoded BIFF8 workbook in a hand-encoded CFB container:
    LabelSst, Number, RK, MulRk, Label, BoolErr records."""
    import struct

    p = fixture_dir / "golden.xls"
    bof_globals = _biff8_rec(
        0x0809, struct.pack("<HHHH", 0x0600, 0x0005, 0x0DBB, 0x07CC) + bytes(8)
    )
    sst = _biff8_rec(
        0x00FC,
        struct.pack("<II", 1, 1) + struct.pack("<HB", 6, 0) + b"shared",
    )
    eof = _biff8_rec(0x000A, b"")

    def cellhdr(r: int, c: int) -> bytes:
        return struct.pack("<HHH", r, c, 0)

    sheet_cells = b"".join(
        [
            _biff8_rec(0x0809, struct.pack("<HHHH", 0x0600, 0x0010, 0, 0) + bytes(8)),
            _biff8_rec(0x00FD, cellhdr(0, 0) + struct.pack("<I", 0)),
            _biff8_rec(0x0203, cellhdr(0, 1) + struct.pack("<d", 2.5)),
            _biff8_rec(0x027E, cellhdr(0, 2) + struct.pack("<I", (10 << 2) | 2)),
            _biff8_rec(
                0x00BD,
                struct.pack("<HH", 1, 0)
                + struct.pack("<HI", 0, (7 << 2) | 2)
                + struct.pack("<HI", 0, (8 << 2) | 2)
                + struct.pack("<H", 1),
            ),
            _biff8_rec(
                0x0204, cellhdr(2, 0) + struct.pack("<HB", 6, 0) + b"inline"
            ),
            _biff8_rec(0x0205, cellhdr(2, 1) + bytes([1, 0])),
            eof,
        ]
    )
    # globals with a BoundSheet8 whose lbPlyPos needs the final offset:
    # assemble with a placeholder, then patch.
    def boundsheet(pos: int) -> bytes:
        return _biff8_rec(
            0x0085,
            struct.pack("<IH", pos, 0) + struct.pack("<BB", 6, 0) + b"Sheet1",
        )

    globals_part = bof_globals + boundsheet(0) + sst + eof
    sheet_offset = len(globals_part)
    globals_part = bof_globals + boundsheet(sheet_offset) + sst + eof
    p.write_bytes(_cfb_wrap("Workbook", globals_part + sheet_cells))
    return p


@pytest.fixture(scope="session")
def csv_gz_file(fixture_dir: Path) -> Path:
    import gzip

    p = fixture_dir / "golden.csv.gz"
    with gzip.open(p, "wt", encoding="utf-8") as fh:
        fh.write("\n".join(";".join(r) for r in GRID) + "\n")
    return p


@pytest.fixture(scope="session")
def txt_bz2_file(fixture_dir: Path) -> Path:
    import bz2

    p = fixture_dir / "golden.txt.bz2"
    with bz2.open(p, "wt", encoding="utf-8") as fh:
        fh.write("\n".join("\t".join(r) for r in GRID) + "\n")
    return p


@pytest.fixture(scope="session")
def jsonl_gz_file(fixture_dir: Path) -> Path:
    import gzip
    import json as _json

    p = fixture_dir / "golden.json.gz"
    rows = [
        {"id": int(r[0]), "name": r[1], "qty": int(r[2])} for r in GRID
    ]
    with gzip.open(p, "wt", encoding="utf-8") as fh:
        fh.write("\n".join(_json.dumps(r) for r in rows) + "\n")
    return p
