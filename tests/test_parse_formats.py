"""Per-format golden-fixture tests for the parse() façade
(SURVEY.md §5 strategy; schemas in FIXTURES.md). Each asserts the
reference-normalized output: headerless all-string cells, positional
``c0..cN`` names, '' padding, plus sheet fan-out and error paths."""

from __future__ import annotations

import datetime
import json
from pathlib import Path

import pytest

from almost_any_file_to_pandas_spark import sources
from almost_any_file_to_pandas_spark.parse import parse
from tests.conftest import EXPECTED, GRID, _write_minimal_xlsx

# the reference project's checkout, next to this repository's
REFERENCE_DIR = Path(__file__).resolve().parents[2] / "reference"


def grid_of(df) -> list[list[str]]:
    return [list(row) for row in df.collect()]


def reference_file(name: str) -> str:
    """One of the reference project's example files; skips the test
    when the reference checkout is absent."""
    path = REFERENCE_DIR / name
    if not path.exists():
        pytest.skip(f"{path} is absent: no reference checkout here")
    return str(path)


def test_txt_tab_delimited(spark, txt_file):
    res = parse(spark, txt_file)
    assert len(res) == 1
    r = res[0]
    assert r.ok
    assert r.separator == "\t"
    assert r.data.columns == ["c0", "c1", "c2", "c3"]
    assert grid_of(r.data) == EXPECTED
    assert r.encoding not in ("not applied", "None")


def test_csv_semicolon_sniffed(spark, csv_semicolon_file):
    r = parse(spark, csv_semicolon_file)[0]
    assert r.separator == ";"
    # commas inside a field must not win the sniffer vote
    assert grid_of(r.data) == EXPECTED


def test_ant_exotic_delimiter(spark, ant_file):
    r = parse(spark, ant_file)[0]
    assert r.separator == "~~@~~"
    assert grid_of(r.data) == EXPECTED


def test_ini_sniffer_fallback_tab(spark, ini_file):
    r = parse(spark, ini_file)[0]
    assert r.separator == "\t"  # Sniffer defeat → '\t' (main.py:226-233)
    assert r.data.columns == ["c0"]
    assert [g[0] for g in grid_of(r.data)] == ["alpha=1", "beta=2", "gamma=3"]


def test_csv_windows1251_encoding_applied(spark, cp1251_csv_file):
    r = parse(spark, cp1251_csv_file)[0]
    assert r.encoding.lower().replace("-", "") in ("windows1251", "cp1251")
    cells = grid_of(r.data)
    assert cells[0][1] == "альфа"


def test_xlsx_two_sheet_fanout(spark, xlsx_file):
    res = parse(spark, xlsx_file)
    assert [r.sheet_name for r in res] == ["My_page_1", "My_page_2"]
    g1 = grid_of(res[0].data)
    assert g1[0][:3] == ["1", "alpha", "10"]
    assert len(g1) == 6
    assert grid_of(res[1].data) == [["a", "b"], ["c", "d"]]
    for r in res:
        assert all(c.startswith("c") for c in r.data.columns)


def test_reference_example_xlsx(spark):
    """Byte-correct parse of a REAL Excel-authored workbook (the
    reference repo's own example.xlsx — written by Excel itself, not
    by any fixture builder in this repo): shared-string indirection,
    theme/styles parts present, two sheets. This is the
    independent-writer check for the OOXML path — the hand-encoded
    conftest fixtures can't confirm the parser against a writer that
    shares none of their assumptions."""
    res = parse(spark, reference_file("example.xlsx"))
    assert [r.sheet_name for r in res] == ["My_page_1", "My_page_2"]
    g1 = grid_of(res[0].data)
    assert g1 == [
        ["single cell from first page", "another cell from first page"],
        ["val", "val"],
        ["val", "val"],
        ["val", "val"],
        ["val", "val"],
    ]
    g2 = grid_of(res[1].data)
    assert g2 == [["val from 2nd page"] * 3] * 3


def test_ods_single_sheet(spark, ods_file):
    res = parse(spark, ods_file)
    assert len(res) == 1
    assert res[0].sheet_name == "Sheet1"
    assert grid_of(res[0].data) == [["a", "b"], ["c", "d"]]


def test_xmlss_fanout_and_empty_row_skip(spark, xmlss_file):
    res = parse(spark, xmlss_file)
    assert [r.sheet_name for r in res] == ["W1", "W2"]
    # empty row skipped (F1): 3 source rows → 2 output rows
    assert grid_of(res[0].data) == [["a", "1"], ["b", ""]]
    assert grid_of(res[1].data) == [["x"]]


def test_xmlss_bare_table_fallback(spark, xmlss_bare_file):
    res = parse(spark, xmlss_bare_file)
    assert len(res) == 1
    assert res[0].sheet_name == "Not defined"
    assert grid_of(res[0].data) == [["only"]]


def test_parquet_preserves_types(spark, fixture_dir):
    src = spark.createDataFrame([(1, "a", 1.5)], "id int, s string, x double")
    path = str(fixture_dir / "typed.parquet")
    src.coalesce(1).write.mode("overwrite").parquet(path)
    res = parse(spark, path)
    assert len(res) == 1
    got = res[0].data
    assert dict(got.dtypes) == {"id": "int", "s": "string", "x": "double"}
    assert got.collect()[0] == (1, "a", 1.5)


def test_json_records(spark, fixture_dir):
    p = fixture_dir / "records.json"
    p.write_text(json.dumps([{"a": 1, "b": "x"}, {"a": 2, "b": "y"}]))
    res = parse(spark, p)
    assert res[0].ok
    rows = {(r["a"], r["b"]) for r in res[0].data.collect()}
    assert rows == {(1, "x"), (2, "y")}


def test_pickle(spark, fixture_dir):
    import pandas as pd

    p = fixture_dir / "frame.pk1"
    pd.DataFrame({"a": [1, 2], "b": ["x", "y"]}).to_pickle(p)
    res = parse(spark, p)
    assert res[0].ok
    assert res[0].data.count() == 2
    # the reference only matches '.pk1'; we also accept '.pickle'
    p2 = fixture_dir / "frame.pickle"
    pd.DataFrame({"a": [3]}).to_pickle(p2)
    assert parse(spark, p2)[0].ok


def test_missing_file_failed(spark):
    res = parse(spark, "/definitely/not/here.txt")
    assert len(res) == 1
    assert res[0].parse_info == "Failed"


def test_unknown_extension_failed(spark, fixture_dir):
    p = fixture_dir / "mystery.zzz"
    p.write_text("data")
    assert parse(spark, p)[0].parse_info == "Failed"


def test_pdf_unavailable_failed_not_raise(spark, fixture_dir):
    p = fixture_dir / "doc.pdf"
    p.write_bytes(b"%PDF-1.4 fake")
    res = parse(spark, p)
    assert res[0].parse_info == "Failed"


def test_corrupt_xlsx_failed_not_raise(spark, fixture_dir):
    p = fixture_dir / "corrupt.xlsx"
    p.write_bytes(b"this is not a zip container")
    assert parse(spark, p)[0].parse_info == "Failed"


def test_read_delimited_many_glob(spark, fixture_dir):
    from almost_any_file_to_pandas_spark.sources.text import read_delimited_many

    for i in range(3):
        (fixture_dir / f"multi_{i}.tsv").write_text(
            f"a{i}\tb{i}\nc{i}\td{i}\n"
        )
    res = read_delimited_many(spark, str(fixture_dir / "multi_*.tsv"))
    assert res.separator == "\t"
    assert res.data.count() == 6
    assert "source_file" in res.data.columns
    # per-row provenance distinguishes the three source files
    n_sources = res.data.select("source_file").distinct().count()
    assert n_sources == 3


def test_read_excel_many_corpus(spark, fixture_dir, xlsx_file):
    import shutil

    from pyspark.sql import functions as F

    from almost_any_file_to_pandas_spark.sources.excel import read_excel_many

    shutil.copy(xlsx_file, fixture_dir / "copy1.xlsx")
    shutil.copy(xlsx_file, fixture_dir / "copy2.xlsx")
    df = read_excel_many(spark, str(fixture_dir / "copy*.xlsx"))
    # 2 files × (6-row sheet + 2-row sheet) = 16 ragged rows
    assert df.count() == 16
    assert df.select("source_file").distinct().count() == 2
    assert {r["sheet_name"] for r in df.select("sheet_name").distinct().collect()} == {
        "My_page_1",
        "My_page_2",
    }
    # downstream width normalization over the ragged cells column
    width = df.agg(F.max(F.size("cells"))).first()[0]
    assert width == 4


def test_read_spreadsheetml_many(spark, fixture_dir, xmlss_file):
    import shutil

    from almost_any_file_to_pandas_spark.sources.xmlss import (
        read_spreadsheetml_many,
    )

    shutil.copy(xmlss_file, fixture_dir / "many1.xml")
    shutil.copy(xmlss_file, fixture_dir / "many2.xml")
    df = read_spreadsheetml_many(spark, str(fixture_dir / "many*.xml"))
    # 2 files × (2-row W1 + 1-row W2) = 6 ragged rows
    assert df.count() == 6
    assert df.select("source_file").distinct().count() == 2


def test_spreadsheetml_readers_salvage_the_same_rows(spark, tmp_path):
    """A file truncated inside its 5th ``<Row>`` keeps its 4 complete
    rows in the single-file reader and in the corpus reader alike:
    both run the one per-file parser."""
    from almost_any_file_to_pandas_spark.sources.xmlss import (
        read_spreadsheetml_many,
    )

    p = tmp_path / "cut.xml"
    p.write_text(
        '<?xml version="1.0"?>'
        '<Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet" '
        'xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
        '<Worksheet ss:Name="W1"><Table>'
        + "".join(f"<Row><Cell><Data>r{i}</Data></Cell></Row>" for i in range(4))
        + "<Row><Cell><Data>r4"  # truncation point
    )
    [res] = parse(spark, p)
    assert res.engine == "spreadsheetml (salvaged)"
    assert grid_of(res.data) == [[f"r{i}"] for i in range(4)]
    df = read_spreadsheetml_many(spark, str(p))
    assert [(r.sheet_name, r.row_idx, list(r.cells)) for r in df.collect()] == [
        ("W1", i, [f"r{i}"]) for i in range(4)
    ]


def test_xlsb_biff12(spark, xlsb_file):
    """S2: native stdlib BIFF12 parse — sheet inventory via
    BrtBundleSh + rels, every cell-record family, row-gap padding."""
    res = parse(spark, xlsb_file)
    assert len(res) == 1
    assert res[0].sheet_name == "Bin_1"
    assert res[0].ok
    assert grid_of(res[0].data) == [
        ["shared", "inline", "10", "2.5", "True"],
        ["", "", "", "", ""],  # row gap inside the used range
        ["12.34", "", "", "", ""],
    ]


def test_corrupt_xlsb_failed_not_raise(spark, fixture_dir):
    p = fixture_dir / "corrupt.xlsb"
    p.write_bytes(b"not a zip at all")
    res = parse(spark, p)
    assert len(res) == 1
    assert res[0].parse_info == "Failed"


def test_truncated_xmlss_salvages_prefix_rows(spark, fixture_dir):
    """S3 salvage: damaged SpreadsheetML yields the rows that
    completed before the break (reference lxml recover=True,
    main.py:276), not a failed result."""
    p = fixture_dir / "truncated.xml"
    p.write_text(
        '<?xml version="1.0"?>'
        '<Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet" '
        'xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
        '<Worksheet ss:Name="W1"><Table>'
        "<Row><Cell><Data>a</Data></Cell><Cell><Data>1</Data></Cell></Row>"
        "<Row><Cell><Data>b</Data></Cell></Row>"
        "<Row><Cell><Data>cut-off-mid-ro"  # truncation point
    )
    res = parse(spark, p)
    assert len(res) == 1
    assert res[0].sheet_name == "W1"
    assert res[0].ok
    assert grid_of(res[0].data) == [["a", "1"], ["b", ""]]


def test_garbage_xml_still_failed(spark, fixture_dir):
    p = fixture_dir / "garbage.xml"
    p.write_text("<<<<not xml at all")
    res = parse(spark, p)
    assert len(res) == 1
    assert res[0].parse_info == "Failed"


def test_json_split_orient(spark, fixture_dir):
    p = fixture_dir / "split.json"
    p.write_text(
        json.dumps(
            {
                "columns": ["a", "b"],
                "index": [0, 1],
                "data": [[1, "x"], [2, "y"]],
            }
        )
    )
    r = parse(spark, p)[0]
    assert r.ok
    assert set(r.data.columns) == {"a", "b"}
    rows = {row["a"]: row["b"] for row in r.data.collect()}
    assert rows == {1: "x", 2: "y"}


def test_json_index_orient(spark, fixture_dir):
    p = fixture_dir / "index.json"
    p.write_text(
        json.dumps({"0": {"a": 1, "b": "x"}, "1": {"a": 2, "b": "y"}})
    )
    r = parse(spark, p)[0]
    assert r.ok
    assert set(r.data.columns) == {"a", "b"}
    rows = {row["a"]: row["b"] for row in r.data.collect()}
    assert rows == {1: "x", 2: "y"}


def test_xls_biff8(spark, xls_file):
    """S2: native stdlib BIFF8/CFB parse — LabelSst, Number, RK,
    MulRk, Label, BoolErr record families."""
    res = parse(spark, xls_file)
    assert len(res) == 1
    assert res[0].sheet_name == "Sheet1"
    assert res[0].ok
    assert grid_of(res[0].data) == [
        ["shared", "2.5", "10"],
        ["7", "8", ""],
        ["inline", "True", ""],
    ]


def test_corrupt_xls_failed_not_raise(spark, fixture_dir):
    p = fixture_dir / "corrupt.xls"
    p.write_bytes(b"\xd0\xcf\x11\xe0 but then garbage")
    res = parse(spark, p)
    assert len(res) == 1
    assert res[0].parse_info == "Failed"


def test_sst_continue_recompression():
    """The stateful BIFF8 rule: a string spilling into a Continue
    record re-declares its compression in the fragment's first byte."""
    import struct

    from almost_any_file_to_pandas_spark.sources.excel_core import _parse_sst

    seg1 = (
        struct.pack("<II", 2, 2)
        + struct.pack("<HB", 3, 0)
        + b"abc"
        + struct.pack("<HB", 4, 0)
        + b"de"  # 2 of 4 chars; rest spills into the Continue
    )
    seg2 = bytes([0x01]) + "fg".encode("utf-16-le")  # switches to UTF-16
    assert _parse_sst([seg1, seg2]) == ["abc", "defg"]


def test_cli_demo_main(spark, capsys):
    """__main__ parity with the reference's demo block
    (main.py:453-466): answer list printout, bounded frame show, and
    the per-file page inventory; failed parses exit nonzero."""
    from almost_any_file_to_pandas_spark.__main__ import main

    assert main([reference_file("example.xlsx")]) == 0
    out = capsys.readouterr().out
    assert '1 page name is "My_page_1"' in out
    assert '2 page name is "My_page_2"' in out
    assert main(["/nope.unknownext"]) == 1
    assert main([]) == 2


def test_utf16_and_utf32_decode_correctly(spark, fixture_dir):
    """Wide charsets: records must split on code units, not raw 0x0A
    bytes (which cut UTF-16 mid-unit and garble every line), and
    BOM-less variants must be reclassified from the detector's utf_8
    guess by NUL-byte parity."""
    expected = [["id", "value"], ["1", "альфа"], ["2", "бета"]]
    text = "id\tvalue\n1\tальфа\n2\tбета\n"
    for enc in ("utf-16", "utf-16-be", "utf-16-le", "utf-32", "utf-32-be"):
        p = fixture_dir / f"wide_{enc.replace('-', '')}.txt"
        p.write_bytes(text.encode(enc))
        r = parse(spark, p)[0]
        assert r.ok, enc
        assert grid_of(r.data) == expected, enc


def test_read_delimited_many_honors_encoding(spark, fixture_dir):
    from almost_any_file_to_pandas_spark.sources.text import read_delimited_many

    text = "ид\tзначение\n1\tальфа\n"
    for i in range(2):
        (fixture_dir / f"wide_many_{i}.tsv").write_bytes(text.encode("utf-16"))
    res = read_delimited_many(spark, str(fixture_dir / "wide_many_*.tsv"))
    rows = {tuple(r)[:2] for r in res.data.collect()}
    assert rows == {("ид", "значение"), ("1", "альфа")}


def test_xlsx_date_styles_render_as_datetime(spark, fixture_dir):
    """Date-formatted numeric cells must render the converted
    datetime string, exactly as the reference's
    pd.read_excel(dtype=str) does (openpyxl converts date-styled
    serials before the cast) — raw serials only for non-date styles.
    Covers builtin date ids, custom date codes, quoted-literal
    false-positives ('"meters"' is not a date), and time-only."""
    import zipfile

    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    styles = f"""<?xml version="1.0"?><styleSheet {ns}>
      <numFmts count="2">
        <numFmt numFmtId="164" formatCode="dd/mm/yyyy hh:mm"/>
        <numFmt numFmtId="165" formatCode="#,##0 &quot;meters&quot;"/>
      </numFmts>
      <cellXfs count="5">
        <xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/>
        <xf numFmtId="165"/><xf numFmtId="21"/>
      </cellXfs></styleSheet>"""
    sheet = f"""<?xml version="1.0"?><worksheet {ns}><sheetData>
      <row r="1">
        <c r="A1" s="1"><v>45000</v></c>
        <c r="B1" s="2"><v>45000.5</v></c>
        <c r="C1" s="3"><v>45000</v></c>
        <c r="D1" s="4"><v>0.75</v></c>
        <c r="E1"><v>45000</v></c>
      </row></sheetData></worksheet>"""
    workbook = f"""<?xml version="1.0"?><workbook {ns}
      xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
      <sheets><sheet name="S1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    rels = """<?xml version="1.0"?><Relationships
      xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      <Relationship Id="rId1"
        Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet"
        Target="worksheets/sheet1.xml"/></Relationships>"""
    p = fixture_dir / "dates.xlsx"
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/_rels/workbook.xml.rels", rels)
        z.writestr("xl/styles.xml", styles)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    res = parse(spark, p)
    assert res[0].ok
    assert grid_of(res[0].data) == [
        [
            "2023-03-15 00:00:00",
            "2023-03-15 12:00:00",
            "45000",
            "18:00:00",
            "45000",
        ]
    ]


def test_xls_date_xfs_render_as_datetime(spark, fixture_dir):
    """BIFF8 date-formatted numerics render the converted datetime
    (xlrd-engine parity), keyed by XF→FORMAT resolution; non-date XFs
    keep the raw number."""
    import struct

    from tests.conftest import _biff8_rec, _cfb_wrap

    bof = _biff8_rec(
        0x0809, struct.pack("<HHHH", 0x0600, 0x0005, 0, 0) + bytes(8)
    )
    fmt_date = _biff8_rec(
        0x041E,
        struct.pack("<H", 164)
        + struct.pack("<HB", 10, 0)
        + b"dd/mm/yyyy",
    )
    def xf(ifmt):
        return _biff8_rec(0x00E0, struct.pack("<HHHH", 0, ifmt, 0, 0))

    eof = _biff8_rec(0x000A, b"")
    sheet = b"".join(
        [
            _biff8_rec(
                0x0809, struct.pack("<HHHH", 0x0600, 0x0010, 0, 0) + bytes(8)
            ),
            # Number, xf=1 (builtin date 14)
            _biff8_rec(
                0x0203,
                struct.pack("<HHH", 0, 0, 1) + struct.pack("<d", 45000.0),
            ),
            # RK int, xf=2 (custom date 164)
            _biff8_rec(
                0x027E,
                struct.pack("<HHH", 0, 1, 2)
                + struct.pack("<I", (45000 << 2) | 2),
            ),
            # Number, xf=0 (general) stays a serial
            _biff8_rec(
                0x0203,
                struct.pack("<HHH", 0, 2, 0) + struct.pack("<d", 45000.0),
            ),
            eof,
        ]
    )

    def boundsheet(pos):
        return _biff8_rec(
            0x0085,
            struct.pack("<IH", pos, 0) + struct.pack("<BB", 6, 0) + b"Sheet1",
        )

    body = bof + boundsheet(0) + xf(0) + xf(14) + xf(164) + fmt_date + eof
    body = (
        bof
        + boundsheet(len(body))
        + xf(0)
        + xf(14)
        + xf(164)
        + fmt_date
        + eof
    )
    p = fixture_dir / "dates.xls"
    p.write_bytes(_cfb_wrap("Workbook", body + sheet))
    res = parse(spark, p)
    assert res[0].ok
    # the general-styled Number is a stored double → str(float) form
    assert grid_of(res[0].data) == [
        ["2023-03-15 00:00:00", "2023-03-15 00:00:00", "45000.0"]
    ]


def test_reference_example_txt_parses_identically(spark):
    """The reference repo's own tab-delimited example.txt — the
    delimited-path independent-writer check: sniff must vote tab,
    and the grid must come through as the 4×4 all-string block the
    reference's pandas path produces."""
    res = parse(spark, reference_file("example.txt"))
    assert len(res) == 1 and res[0].parse_info == "OK"
    g = grid_of(res[0].data)
    assert g == [["Vals"] * 4] * 4


def test_reference_shaped_txt_parses_identically(spark, vals_txt_file):
    """The reference example.txt's shape (4×4 tab-separated "Vals"),
    built locally so the 4×4 all-string grid stays asserted on hosts
    without the reference checkout."""
    res = parse(spark, vals_txt_file)
    assert len(res) == 1 and res[0].parse_info == "OK"
    assert res[0].separator == "\t"
    assert grid_of(res[0].data) == [["Vals"] * 4] * 4


def test_csv_gz_transparent_decompression(spark, csv_gz_file):
    """'.csv.gz' dispatches on the inner suffix; the sniffer inflates
    its bounded prefix by magic bytes (delimiter still sniffed as ';')
    and Spark's CSV source decompresses via the Hadoop codec — same
    normalized grid as the uncompressed twin."""
    r = parse(spark, csv_gz_file)[0]
    assert r.ok
    assert r.separator == ";"
    assert grid_of(r.data) == EXPECTED


def test_txt_bz2_transparent_decompression(spark, txt_bz2_file):
    r = parse(spark, txt_bz2_file)[0]
    assert r.ok
    assert r.separator == "\t"
    assert grid_of(r.data) == EXPECTED


def test_json_gz_lines_distributed(spark, jsonl_gz_file):
    """'.json.gz' JSON-lines classify on logical content (not the
    gzip bytes) and stay on the DISTRIBUTED lines reader, not the
    driver-side pandas bridge."""
    r = parse(spark, jsonl_gz_file)[0]
    assert r.ok
    assert "lines" in r.engine
    assert r.data.count() == 6


def test_unknown_inner_suffix_still_fails(spark, fixture_dir):
    import gzip

    p = fixture_dir / "blob.bin.gz"
    with gzip.open(p, "wb") as fh:
        fh.write(b"\x00\x01\x02")
    r = parse(spark, p)
    assert len(r) == 1 and not r[0].ok


def test_parquet_schema_evolution_merge(spark, fixture_dir):
    """A parquet dataset whose later files gained a column: the
    default scan keeps the footer-cheap single schema; with
    merge_schema=True parse() reconciles to the union schema with
    NULLs where the early file predates the column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = fixture_dir / "evolving.parquet"
    d.mkdir(exist_ok=True)
    pq.write_table(
        pa.table({"id": [1, 2]}), d / "part-0.parquet"
    )
    pq.write_table(
        pa.table({"id": [3], "extra": ["new"]}), d / "part-1.parquet"
    )
    r = parse(spark, d, merge_schema=True)[0]
    assert r.ok
    assert set(r.data.columns) == {"id", "extra"}
    rows = {row["id"]: row["extra"] for row in r.data.collect()}
    assert rows == {1: None, 2: None, 3: "new"}


def test_tsv_dispatch(spark, fixture_dir):
    p = fixture_dir / "golden.tsv"
    p.write_text("\n".join("\t".join(r) for r in GRID) + "\n")
    r = parse(spark, p)[0]
    assert r.ok and r.separator == "\t"
    assert grid_of(r.data) == EXPECTED


def test_orc_dispatch_preserves_types(spark, fixture_dir):
    """ORC arm: distributed native read, types preserved, directory
    datasets accepted like parquet."""
    src = spark.createDataFrame([(1, "a", 1.5)], "id int, s string, x double")
    path = str(fixture_dir / "typed.orc")
    src.coalesce(1).write.mode("overwrite").orc(path)
    res = parse(spark, path)
    assert len(res) == 1 and res[0].ok
    assert res[0].sheet_name == "ORC file content"
    got = res[0].data
    assert dict(got.dtypes) == {"id": "int", "s": "string", "x": "double"}
    assert got.collect()[0] == (1, "a", 1.5)


def test_feather_and_arrow_dispatch(spark, fixture_dir):
    """Feather (V2) and stream-IPC .arrow files both land through the
    pyarrow bridge with values intact; written by pyarrow directly —
    an independent writer, not this engine's inverse."""
    import pyarrow as pa
    from pyarrow import feather

    tbl = pa.table({"a": [1, 2], "b": ["x", "y"]})
    fp = fixture_dir / "frame.feather"
    feather.write_feather(tbl, str(fp))
    r = parse(spark, fp)[0]
    assert r.ok and r.sheet_name == "Feather file content"
    assert {(x["a"], x["b"]) for x in r.data.collect()} == {(1, "x"), (2, "y")}

    # a nullable int64 stays bigint and exact (a pandas detour makes it
    # double); types Spark's Arrow conversion rejects (unsigned ints,
    # date64, time32, float16) are cast to ones holding every value
    typed = pa.table(
        {
            "n": pa.array([2**60 + 1, None, 7], pa.int64()),
            "u32": pa.array([2**32 - 1, 0, None], pa.uint32()),
            "u64": pa.array([2**64 - 1, 0, 1], pa.uint64()),
            "d64": pa.array([datetime.date(2020, 1, 2), None, None], pa.date64()),
            "t32": pa.array([datetime.time(1, 2, 3), None, None], pa.time32("s")),
            "f16": pa.array([1.5, None, None], pa.float32()).cast(pa.float16()),
        }
    )
    tp = fixture_dir / "typed.feather"
    feather.write_feather(typed, str(tp))
    r3 = parse(spark, tp)[0]
    assert r3.ok
    assert dict(r3.data.dtypes) == {
        "n": "bigint",
        "u32": "bigint",
        "u64": "decimal(20,0)",
        "d64": "date",
        "t32": "time(6)",
        "f16": "float",
    }
    assert [tuple(x) for x in r3.data.collect()] == [
        (2**60 + 1, 2**32 - 1, 2**64 - 1, datetime.date(2020, 1, 2),
         datetime.time(1, 2, 3), 1.5),
        (None, 0, 0, None, None, None),
        (7, None, 1, None, None, None),
    ]

    ap = fixture_dir / "frame.arrow"
    with pa.OSFile(str(ap), "wb") as sink:
        with pa.ipc.new_stream(sink, tbl.schema) as writer:
            writer.write_table(tbl)
    r2 = parse(spark, ap)[0]
    assert r2.ok
    assert {(x["a"], x["b"]) for x in r2.data.collect()} == {(1, "x"), (2, "y")}


def test_corrupt_orc_failed_not_raise(spark, fixture_dir):
    p = fixture_dir / "corrupt.orc"
    p.write_bytes(b"not really orc")
    assert parse(spark, p)[0].parse_info == "Failed"


def _mini_pdf() -> bytes:
    """Hand-encoded 2-page PDF (independent writer — raw ISO 32000
    bytes, not the extractor's inverse): page 1 a 2×2 table in an
    uncompressed content stream, page 2 a 3-column row behind
    FlateDecode. Page widths differ so the F2 width-conditional split
    must route page 2 to the unsized answer."""
    import zlib

    def obj(n, body):
        return f"{n} 0 obj\n".encode() + body + b"\nendobj\n"

    c1 = (
        b"BT /F1 10 Tf 72 700 Td (a1) Tj ET\n"
        b"BT 150 700 Td (b1) Tj ET\n"
        b"BT 72 680 Td (a2) Tj ET\n"
        b"BT 150 680 Td (b2) Tj ET"
    )
    raw2 = (
        b"BT 1 0 0 1 72 700 Tm (x) Tj ET "
        b"BT 120 700 Td (y) Tj ET BT 170 700 Td (z) Tj ET"
    )
    c2 = zlib.compress(raw2)
    pdf = b"%PDF-1.4\n"
    pdf += obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    pdf += obj(2, b"<< /Type /Pages /Kids [3 0 R 5 0 R] /Count 2 >>")
    pdf += obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    pdf += obj(
        4,
        b"<< /Length %d >>\nstream\n" % len(c1) + c1 + b"\nendstream",
    )
    pdf += obj(5, b"<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>")
    pdf += obj(
        6,
        b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(c2)
        + c2
        + b"\nendstream",
    )
    pdf += b"%%EOF\n"
    return pdf


def test_pdf_stdlib_extraction_f2_split(spark, fixture_dir):
    """Without tabula, the stdlib content-stream extractor must
    recover both pages and run the same F2 width split + U1 concat +
    T7 renumber path the tabula arm uses (main.py:384-390)."""
    p = fixture_dir / "table.pdf"
    p.write_bytes(_mini_pdf())
    res = parse(spark, p)
    assert len(res) == 2
    concated = res[0]
    assert concated.ok and concated.sheet_name == "PDF file content (concated)"
    rows = [r for r in concated.data.collect()]
    # c0 is the T7-renumbered index (positional naming, T6), data after
    assert [(r["c1"], r["c2"]) for r in rows] == [
        ("a1", "b1"),
        ("a2", "b2"),
    ]
    assert [r["c0"] for r in rows] == ["0", "1"]  # T7 renumber
    unsized = res[1]
    assert unsized.sheet_name == "PDF file content (unsized)"
    assert [
        (r["c1"], r["c2"], r["c3"]) for r in unsized.data.collect()
    ] == [("x", "y", "z")]


def test_pdf_by_page_stdlib(spark, fixture_dir):
    p = fixture_dir / "table.pdf"
    p.write_bytes(_mini_pdf())
    res = parse(spark, p, concat=False)
    assert len(res) == 2
    assert all(
        r.sheet_name == "PDF file content (by page)" for r in res
    )
    assert res[0].data.count() == 2 and res[1].data.count() == 1


def test_pdf_corpus_distributed(spark, fixture_dir):
    """read_pdf_many: one binaryFile scan + Arrow-batched extraction,
    per-row provenance, corrupt members contribute zero rows instead
    of failing the scan."""
    from almost_any_file_to_pandas_spark.sources.pdf import read_pdf_many

    d = fixture_dir / "pdf_corpus"
    d.mkdir(exist_ok=True)
    for i in range(3):
        (d / f"doc{i}.pdf").write_bytes(_mini_pdf())
    (d / "broken.pdf").write_bytes(b"%PDF-1.4 not really")
    res = read_pdf_many(spark, str(d / "*.pdf"))
    assert res.ok
    rows = res.data.collect()
    # 3 good files x (2 rows page0 + 1 row page1)
    assert len(rows) == 9
    by_file = {}
    for r in rows:
        by_file.setdefault(r["source_file"].rsplit("/", 1)[-1], []).append(r)
    assert set(by_file) == {"doc0.pdf", "doc1.pdf", "doc2.pdf"}
    page1 = [r for r in by_file["doc0.pdf"] if r["page"] == 1]
    assert [list(r["cells"]) for r in page1] == [["x", "y", "z"]]


def test_pdftext_never_raises_on_arbitrary_bytes():
    """The stdlib PDF extractor is the façade's last line before the
    failed-answer path — it must never raise, whatever bytes arrive
    (truncated objects, bogus stream lengths, broken Flate data,
    malformed string escapes)."""
    from hypothesis import given, settings, strategies as st

    from almost_any_file_to_pandas_spark.sources.pdftext import (
        extract_page_tables,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=512), st.booleans())
    def prop(blob, with_header):
        data = (b"%PDF-1.4\n" + blob) if with_header else blob
        frames = extract_page_tables(data)
        assert isinstance(frames, list)

    prop()

    # targeted malformed structures on top of the random sweep
    import zlib

    bad = [
        b"%PDF-1.4\n1 0 obj << /Type /Page /Contents 2 0 R >> endobj",
        b"%PDF-1.4\n1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n"
        b"2 0 obj << /Filter /FlateDecode >>\nstream\nnotflate\nendstream\nendobj",
        b"%PDF-1.4\n1 0 obj << /Type /Page /Contents 1 0 R >> "
        b"stream\nBT (unterminated Tj ET\nendstream endobj",
        b"%PDF-1.4\n1 0 obj << /Type /Page /Contents 2 0 R >> endobj\n"
        b"2 0 obj <<>>\nstream\nBT 1e309 1e309 Td (inf) Tj ET\nendstream\nendobj",
    ]
    for data in bad:
        assert isinstance(extract_page_tables(data), list)


def test_pdftext_string_decoding():
    """Literal-string escapes (named, octal, nested parens) and hex
    strings decode per ISO 32000 §7.3.4."""
    from almost_any_file_to_pandas_spark.sources.pdftext import (
        _decode_hex,
        _decode_literal,
    )

    assert _decode_literal(rb"(a\nb\tc)") == "a\nb\tc"
    assert _decode_literal(rb"(par\(en\))") == "par(en)"
    assert _decode_literal(rb"(\101\102\60)") == "AB0"
    assert _decode_literal(b"(nested (ok) here)") == "nested (ok) here"
    assert _decode_hex(b"<48 65 6C 6C 6F>") == "Hello"
    assert _decode_hex(b"<4>") == "@"  # odd-length pads with 0


def test_pdftext_row_col_clustering():
    """Runs within tolerance share a row/column; order is top-down,
    left-right regardless of emission order."""
    from almost_any_file_to_pandas_spark.sources.pdftext import _grid

    runs = [
        (150.0, 698.5, "b2"),  # jittered y within ROW_TOL of 700? no: row2
        (72.0, 700.0, "a1"),
        (151.0, 700.4, "b1"),  # x jitter within COL_TOL of 150
        (72.0, 680.0, "a2"),
        (150.0, 680.0, "b2x"),
    ]
    # 698.5 is within 2.0 of 700? 1.5 → same row as 700 cluster start
    grid = _grid(runs)
    assert grid[0][0] == "a1"
    assert "b1" in grid[0][1]
    assert grid[-1] == ["a2", "b2x"]


def test_read_xml_records_native(spark, tmp_path):
    """Generic record XML through Spark's native xml source: typed
    schema, all records, and the never-raise contract on bad input."""
    from almost_any_file_to_pandas_spark.sources.xmlss import (
        read_xml_records,
    )

    p = tmp_path / "feed.xml"
    p.write_text(
        "<items><item><id>1</id><name>ok</name></item>"
        "<item><id>2</id><name>also</name></item></items>"
    )
    res = read_xml_records(spark, str(p), row_tag="item")
    rows = {r["id"]: r["name"] for r in res.data.collect()}
    assert rows == {1: "ok", 2: "also"}
    assert res.parse_info != "Failed"

    missing = read_xml_records(spark, str(tmp_path / "nope.xml"), "item")
    assert missing.parse_info == "Failed"
    assert missing.data.count() == 0


HTML_DOC = """<!DOCTYPE html>
<html><head><title>t</title><style>td { color: red }</style>
<script>var x = "<table><tr><td>fake</td></tr></table>";</script>
</head><body>
<h1>Report</h1>
<table>
  <thead><tr><th>name</th><th>qty</th></tr></thead>
  <tbody>
    <tr><td>alpha</td><td>1</td></tr>
    <tr></tr>
    <tr><td>beta &amp; co</td><td>2</td></tr>
  </tbody>
</table>
<p>between</p>
<table>
  <tr><td colspan="2">wide</td><td rowspan="2">tall</td></tr>
  <tr><td>a</td><td>b</td></tr>
  <tr><td>c</td><td>d</td><td>e</td></tr>
</table>
</body></html>"""


def test_html_multi_table_fanout(spark, fixture_dir):
    from almost_any_file_to_pandas_spark import parse

    p = fixture_dir / "report.html"
    p.write_text(HTML_DOC)
    results = parse(spark, p)
    assert [r.sheet_name for r in results] == ["table_0", "table_1"]
    t0 = [tuple(r) for r in results[0].data.collect()]
    # header row kept as data (all-string contract), empty <tr>
    # dropped (F1), entity decoded
    assert t0 == [("name", "qty"), ("alpha", "1"), ("beta & co", "2")]
    t1 = [tuple(r) for r in results[1].data.collect()]
    # colspan expands, rowspan carries into the next row
    assert t1 == [
        ("wide", "wide", "tall"),
        ("a", "b", "tall"),
        ("c", "d", "e"),
    ]
    # the <script> containing a fake table must not have parsed
    assert all("fake" not in c for row in t0 + t1 for c in row)


def test_html_nested_and_malformed(spark, fixture_dir):
    from almost_any_file_to_pandas_spark import parse
    from almost_any_file_to_pandas_spark.sources.htmltab import (
        extract_tables,
    )

    nested = (
        "<table><tr><td>outer</td><td>"
        "<table><tr><td>inner</td></tr></table>"
        "</td></tr></table>"
    )
    grids = extract_tables(nested)
    assert ["inner"] in [row for g in grids for row in g][0:1] or any(
        ["inner"] == row for g in grids for row in g
    )
    assert any("outer" in row for g in grids for row in g)

    # truncated mid-row: salvage keeps the completed prefix
    p = fixture_dir / "broken.html"
    p.write_text("<table><tr><td>ok</td></tr><tr><td>half")
    results = parse(spark, p)
    assert results[0].parse_info == "OK"
    rows = [tuple(r) for r in results[0].data.collect()]
    assert rows[0] == ("ok",)

    # no tables at all -> failed answer, never a raise
    p2 = fixture_dir / "notables.html"
    p2.write_text("<html><body><p>prose only</p></body></html>")
    assert parse(spark, p2)[0].parse_info == "Failed"


def test_html_many_corpus(spark, fixture_dir):
    from almost_any_file_to_pandas_spark.sources.htmltab import (
        read_html_many,
    )

    d = fixture_dir / "htmlcorpus"
    d.mkdir(exist_ok=True)
    for i in range(3):
        (d / f"f{i}.html").write_text(
            f"<table><tr><td>v{i}</td><td>{i}</td></tr></table>"
        )
    (d / "junk.html").write_text("no tables here")
    df = read_html_many(spark, str(d / "*.html"))
    rows = sorted(
        (r.source_file.rsplit("/", 1)[-1], r.table_idx, r.row_idx,
         tuple(r.cells))
        for r in df.collect()
    )
    assert rows == [
        ("f0.html", 0, 0, ("v0", "0")),
        ("f1.html", 0, 0, ("v1", "1")),
        ("f2.html", 0, 0, ("v2", "2")),
    ]


def test_many_readers_survive_all_unparseable_partition(
    spark, fixture_dir
):
    """Regression: a partition containing ONLY unparseable files
    produced an all-empty dict-of-lists pandas frame whose inferred
    float64 columns Arrow cannot cast to list<string> — the executor
    threw instead of contributing zero rows."""
    from almost_any_file_to_pandas_spark.sources.htmltab import (
        read_html_many,
    )
    from almost_any_file_to_pandas_spark.sources.xmlss import (
        read_spreadsheetml_many,
    )

    junk_xml = fixture_dir / "junk_only.xml"
    junk_xml.write_text("definitely <not xml")
    assert read_spreadsheetml_many(spark, str(junk_xml)).count() == 0
    junk_html = fixture_dir / "junk_only.html"
    junk_html.write_text("prose, zero tables")
    assert read_html_many(spark, str(junk_html)).count() == 0


def _html_table(grid: list[list[str]]) -> str:
    body = "".join(
        "<tr>" + "".join(f"<td>{v}</td>" for v in row) + "</tr>" for row in grid
    )
    return f"<html><body><table>{body}</table></body></html>"


def _xmlss_table(grid: list[list[str]]) -> str:
    body = "".join(
        "<Row>" + "".join(f"<Cell><Data>{v}</Data></Cell>" for v in row) + "</Row>"
        for row in grid
    )
    return (
        '<?xml version="1.0"?>'
        '<Workbook xmlns="urn:schemas-microsoft-com:office:spreadsheet" '
        'xmlns:ss="urn:schemas-microsoft-com:office:spreadsheet">'
        f'<Worksheet ss:Name="S"><Table>{body}</Table></Worksheet></Workbook>'
    )


@pytest.mark.parametrize("suffix", [".xlsx", ".xml", ".html"])
def test_grid_row_order_across_partitions(spark, tmp_path, suffix, monkeypatch):
    """A driver-parsed grid spans several partitions; collect() must
    still return document order, header row first."""
    grid = [["id", "word"]] + [[str(i), f"w{i}"] for i in range(999)]
    path = tmp_path / f"ordered{suffix}"
    if suffix == ".xlsx":
        _write_minimal_xlsx(path, {"S": grid})
    elif suffix == ".xml":
        path.write_text(_xmlss_table(grid))
    else:
        path.write_text(_html_table(grid))
    # the grid is ~12 KB of Arrow: a 1 KB cut spreads it over every core
    monkeypatch.setattr(sources, "DRIVER_DECODE_BYTES", 1024)
    (res,) = parse(spark, path)
    assert res.data.rdd.getNumPartitions() > 1
    assert grid_of(res.data) == grid
