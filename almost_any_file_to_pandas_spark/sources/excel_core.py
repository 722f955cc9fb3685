"""Stdlib-only Excel parsing core.

Covers the reference's Excel arm (`ImportExcel`, /root/reference/
main.py:239-265): enumerate sheets, read every sheet headerless with
all cells coerced to strings. The reference delegates to
``pd.read_excel`` (openpyxl/pyxlsb/odf engines); those libraries are
not available here, so this module parses the two zip-container
formats directly from their XML parts:

- ``.xlsx`` — OOXML: ``xl/workbook.xml`` (sheet inventory),
  ``xl/_rels/workbook.xml.rels`` (sheet → part mapping),
  ``xl/sharedStrings.xml``, ``xl/worksheets/sheetN.xml``.
- ``.ods`` / ``.odt`` / ``.odf`` — OpenDocument: ``content.xml``
  with ``table:table`` / ``table:table-row`` / ``table:table-cell``
  (including the ``number-columns-repeated`` run-length encoding).

- ``.xlsb`` — BIFF12: same zip container, binary record-stream parts
  (varint-framed records; see the BIFF12 section below).
- ``.xls`` — BIFF8 records inside a CFB (compound document) container:
  a stdlib CFB FAT-chain reader plus the BIFF8 record families the
  pandas/xlrd path consumes (SST with Continue re-compression,
  LabelSst/Label/Number/RK/MulRk/BoolErr/Formula, XF/FORMAT date
  styles).

The single-workbook reader (``excel.read_excel``) runs these parsers
on the driver; the corpus reader (``excel.read_excel_many``) runs the
same ones per file, on the driver or in executor tasks.
"""

from __future__ import annotations

import posixpath
import re
import zipfile
from xml.etree import ElementTree as ET

MAIN_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
R_NS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
TABLE_NS = "{urn:oasis:names:tc:opendocument:xmlns:table:1.0}"
TEXT_NS = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"

_CELL_REF = re.compile(r"^([A-Z]+)(\d+)$")


def _col_index(ref: str) -> int:
    """'A'→0, 'Z'→25, 'AA'→26 … (cell refs like 'BC12')."""
    m = _CELL_REF.match(ref)
    if not m:
        return -1
    n = 0
    for ch in m.group(1):
        n = n * 26 + (ord(ch) - 64)
    return n - 1


def _canon_number(text: str) -> str:
    """Numeric cell → the string pandas' dtype=str would show:
    integral floats lose the trailing '.0' is NOT pandas behavior —
    pandas keeps exactly what openpyxl yields ('10' for int-typed,
    '10.5' for float). We keep the stored lexical form verbatim."""
    return text


# ---------------------------------------------------------------------------
# .xlsx (OOXML)
# ---------------------------------------------------------------------------


def xlsx_sheet_inventory(path: str) -> list[tuple[str, str]]:
    """[(sheet_name, zip_member_path)] in workbook order
    (mirrors ``pd.ExcelFile.sheet_names``, main.py:249-250)."""
    with zipfile.ZipFile(path) as z:
        wb = ET.fromstring(z.read("xl/workbook.xml"))
        rels = ET.fromstring(z.read("xl/_rels/workbook.xml.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.findall(f"{REL_NS}Relationship")
    }
    out = []
    for sheet in wb.iter(f"{MAIN_NS}sheet"):
        rid = sheet.get(f"{R_NS}id")
        target = rid_to_target.get(rid, "")
        if target.startswith("/"):
            member = target.lstrip("/")
        else:
            member = posixpath.normpath(posixpath.join("xl", target))
        out.append((sheet.get("name", "Not defined"), member))
    return out


# Builtin numFmtIds that render as dates/times (ECMA-376 §18.8.30);
# 14-22 date/time, 45-47 durations-as-time, plus the locale pairs.
_BUILTIN_DATE_FMTS = (
    frozenset(range(14, 23)) | frozenset(range(27, 37)) | frozenset(range(45, 48))
)


def _numfmt_is_date(code: str) -> bool:
    """True when a custom number-format code renders a date/time:
    contains y/m/d/h/s tokens outside quoted literals, [bracketed]
    sections (colors/conditions; [h] elapsed IS a time), and escapes."""
    out = []
    i, n = 0, len(code)
    while i < n:
        ch = code[i]
        if ch == '"':  # quoted literal
            j = code.find('"', i + 1)
            i = n if j < 0 else j + 1
        elif ch == "[":
            j = code.find("]", i + 1)
            inner = code[i + 1 : j if j > 0 else n]
            if inner[:1].lower() in ("h", "m", "s"):  # elapsed time
                out.append(inner[0])
            i = n if j < 0 else j + 1
        elif ch == "\\":
            i += 2
        else:
            out.append(ch)
            i += 1
    return any(c in "ymdhs" for c in "".join(out).lower())


def _xlsx_date_styles(z: zipfile.ZipFile) -> set[int]:
    """Indices into cellXfs whose number format renders a date/time —
    the styles ``pd.read_excel`` (via openpyxl) converts to datetime
    before ``dtype=str`` stringifies them."""
    try:
        raw = z.read("xl/styles.xml")
    except KeyError:
        return set()
    try:
        root = ET.fromstring(raw)
    except ET.ParseError:
        return set()
    custom_date = {
        int(nf.get("numFmtId", "-1"))
        for nf in root.iter(f"{MAIN_NS}numFmt")
        if _numfmt_is_date(nf.get("formatCode", ""))
    }
    date_styles = set()
    cellxfs = root.find(f"{MAIN_NS}cellXfs")
    if cellxfs is None:
        return set()
    for idx, xf in enumerate(cellxfs.findall(f"{MAIN_NS}xf")):
        fmt = int(xf.get("numFmtId", "0"))
        if fmt in _BUILTIN_DATE_FMTS or fmt in custom_date:
            date_styles.add(idx)
    return date_styles


def _serial_to_datetime_str(text: str) -> str:
    """Excel serial → the string ``pd.read_excel(dtype=str)`` shows:
    openpyxl converts with the 1899-12-30 epoch (absorbing Excel's
    1900 leap-year ghost) to datetime / time / date objects and
    ``astype(str)`` renders them — '2023-03-15 00:00:00' for whole
    days, 'HH:MM:SS' for sub-day serials (time-only values).
    Sub-second parts round to the microsecond like openpyxl."""
    import datetime as _dt

    try:
        serial = float(text)
    except ValueError:
        return text
    if serial < 0:
        return text
    days = int(serial)
    frac = round((serial - days) * 86400_000_000)  # microseconds
    if days == 0 and serial < 1:
        t = (_dt.datetime(1900, 1, 1) + _dt.timedelta(microseconds=frac)).time()
        return str(t)
    base = _dt.datetime(1899, 12, 30) + _dt.timedelta(days=days, microseconds=frac)
    return str(base)


def _xlsx_shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        raw = z.read("xl/sharedStrings.xml")
    except KeyError:
        return []
    root = ET.fromstring(raw)
    strings = []
    for si in root.findall(f"{MAIN_NS}si"):
        # plain <t> or rich-text runs <r><t>…; join all text descendants
        strings.append("".join(t.text or "" for t in si.iter(f"{MAIN_NS}t")))
    return strings


def _xlsx_cell_value(
    cell: ET.Element, shared: list[str], date_styles: set[int] = frozenset()
) -> str | None:
    ctype = cell.get("t", "n")
    if ctype == "inlineStr":
        is_el = cell.find(f"{MAIN_NS}is")
        if is_el is None:
            return None
        return "".join(t.text or "" for t in is_el.iter(f"{MAIN_NS}t"))
    v = cell.find(f"{MAIN_NS}v")
    if v is None or v.text is None:
        return None
    if ctype == "s":
        try:
            return shared[int(v.text)]
        except (ValueError, IndexError):
            return v.text
    if ctype == "b":
        return "True" if v.text.strip() == "1" else "False"
    if ctype == "n":
        try:
            style = int(cell.get("s", "-1"))
        except ValueError:
            style = -1
        if style in date_styles:
            # date-formatted numeric: pandas (openpyxl + dtype=str)
            # shows the converted datetime, never the raw serial
            return _serial_to_datetime_str(v.text)
        return _canon_number(v.text)
    return v.text


def xlsx_sheet_rows(path: str, member: str) -> list[list[str | None]]:
    """All rows of one worksheet as ragged lists (None = absent cell).
    Row gaps inside the used range become empty rows, matching the
    grid semantics of ``pd.read_excel(header=None)``."""
    with zipfile.ZipFile(path) as z:
        shared = _xlsx_shared_strings(z)
        date_styles = _xlsx_date_styles(z)
        root = ET.fromstring(z.read(member))
    rows: dict[int, list] = {}
    max_row = 0
    for rnum, row_el in enumerate(root.iter(f"{MAIN_NS}row"), start=1):
        ridx = int(row_el.get("r", rnum))
        cells: list[str | None] = []
        for cnum, cell in enumerate(row_el.findall(f"{MAIN_NS}c")):
            cidx = _col_index(cell.get("r", ""))
            if cidx < 0:
                cidx = cnum
            while len(cells) <= cidx:
                cells.append(None)
            cells[cidx] = _xlsx_cell_value(cell, shared, date_styles)
        if any(v is not None for v in cells):
            rows[ridx] = cells
            max_row = max(max_row, ridx)
    return [rows.get(i, []) for i in range(1, max_row + 1)]


# ---------------------------------------------------------------------------
# .xlsb (BIFF12, MS-XLSB) — same zip container as .xlsx, binary parts.
#
# Record stream: each record is [type: 1-2 bytes, 7 bits per byte with
# high-bit continuation] [size: 1-4 bytes, same varint scheme] [payload].
# The reference reads .xlsb through pd.read_excel(dtype=str) with the
# pyxlsb engine (main.py:249-259, README.md:12); this parser covers the
# records that path consumes: sheet inventory (BrtBundleSh + rels),
# shared strings (BrtSstItem), row headers (BrtRowHdr) and the cell
# value records. Number rendering mirrors pyxlsb + dtype=str: RK
# integers render as ints ('10'), reals as Python str(float) ('10.5').
# ---------------------------------------------------------------------------

_B12_BUNDLE_SH = 0x9C  # BrtBundleSh
_B12_SST_ITEM = 0x13  # BrtSstItem
_B12_ROW_HDR = 0x00  # BrtRowHdr
_B12_CELL_BLANK = 0x01
_B12_CELL_RK = 0x02
_B12_CELL_ERROR = 0x03
_B12_CELL_BOOL = 0x04
_B12_CELL_REAL = 0x05
_B12_CELL_ST = 0x06
_B12_CELL_ISST = 0x07
_B12_FMLA_STRING = 0x08
_B12_FMLA_NUM = 0x09
_B12_FMLA_BOOL = 0x0A
_B12_FMLA_ERROR = 0x0B

_B12_ERRORS = {
    0x00: "#NULL!",
    0x07: "#DIV/0!",
    0x0F: "#VALUE!",
    0x17: "#REF!",
    0x1D: "#NAME?",
    0x24: "#NUM!",
    0x2A: "#N/A",
    0x2B: "#GETTING_DATA",
}


def _biff12_records(data: bytes):
    """Yield (record_id, payload) over a BIFF12 part."""
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b & 0x80:
            rid = (b & 0x7F) | ((data[i] & 0x7F) << 7)
            i += 1
        else:
            rid = b
        size, shift = 0, 0
        while True:
            sb = data[i]
            i += 1
            size |= (sb & 0x7F) << shift
            if not (sb & 0x80):
                break
            shift += 7
        yield rid, data[i : i + size]
        i += size


def _b12_wstr(payload: bytes, off: int) -> tuple[str, int]:
    """XLWideString: 4-byte char count + UTF-16LE code units."""
    cch = int.from_bytes(payload[off : off + 4], "little")
    end = off + 4 + 2 * cch
    return payload[off + 4 : end].decode("utf-16-le"), end


def _b12_nullable_wstr(payload: bytes, off: int) -> tuple[str | None, int]:
    cch = int.from_bytes(payload[off : off + 4], "little")
    if cch == 0xFFFFFFFF:
        return None, off + 4
    return _b12_wstr(payload, off)


def _rk_value(u32: int):
    """RkNumber: bit0 = ÷100, bit1 = int; else high-30-bits double."""
    import struct

    fx100 = u32 & 1
    fint = u32 & 2
    if fint:
        v = u32 >> 2
        if v & 0x20000000:  # sign-extend the 30-bit int
            v -= 1 << 30
        return v / 100 if fx100 else v
    bits = (u32 & 0xFFFFFFFC) << 32
    d = struct.unpack("<d", struct.pack("<Q", bits))[0]
    return d / 100 if fx100 else d


def _b12_num_str(v) -> str:
    """pyxlsb + dtype=str rendering: ints bare, floats via str()."""
    if isinstance(v, int):
        return str(v)
    return str(v)


def xlsb_sheet_inventory(path: str) -> list[tuple[str, str]]:
    """[(sheet_name, zip_member_path)] in workbook order."""
    with zipfile.ZipFile(path) as z:
        data = z.read("xl/workbook.bin")
        rels = ET.fromstring(z.read("xl/_rels/workbook.bin.rels"))
    rid_to_target = {
        rel.get("Id"): rel.get("Target")
        for rel in rels.findall(f"{REL_NS}Relationship")
    }
    out = []
    for rid, payload in _biff12_records(data):
        if rid != _B12_BUNDLE_SH:
            continue
        off = 8  # hsState (4) + iTabID (4)
        rel_id, off = _b12_nullable_wstr(payload, off)
        name, off = _b12_wstr(payload, off)
        target = rid_to_target.get(rel_id, "")
        if target.startswith("/"):
            member = target.lstrip("/")
        else:
            member = posixpath.normpath(posixpath.join("xl", target))
        out.append((name or "Not defined", member))
    return out


def _xlsb_shared_strings(z: zipfile.ZipFile) -> list[str]:
    try:
        data = z.read("xl/sharedStrings.bin")
    except KeyError:
        return []
    out = []
    for rid, payload in _biff12_records(data):
        if rid == _B12_SST_ITEM:
            s, _ = _b12_wstr(payload, 1)  # skip richStr flags byte
            out.append(s)
    return out


def _xlsb_cell_value(rid: int, payload: bytes, shared: list[str]) -> str | None:
    """Cell payload → rendered string (None = blank). Layout: col (4)
    + iStyleRef (4) + type-specific value at offset 8."""
    import struct

    if rid == _B12_CELL_BLANK:
        return None
    if rid == _B12_CELL_RK:
        return _b12_num_str(
            _rk_value(int.from_bytes(payload[8:12], "little"))
        )
    if rid in (_B12_CELL_ERROR, _B12_FMLA_ERROR):
        return _B12_ERRORS.get(payload[8], "#ERR")
    if rid in (_B12_CELL_BOOL, _B12_FMLA_BOOL):
        return "True" if payload[8] else "False"
    if rid in (_B12_CELL_REAL, _B12_FMLA_NUM):
        return _b12_num_str(struct.unpack("<d", payload[8:16])[0])
    if rid in (_B12_CELL_ST, _B12_FMLA_STRING):
        return _b12_wstr(payload, 8)[0]
    if rid == _B12_CELL_ISST:
        idx = int.from_bytes(payload[8:12], "little")
        try:
            return shared[idx]
        except IndexError:
            return str(idx)
    return None


_B12_CELL_RIDS = frozenset(range(_B12_CELL_BLANK, _B12_FMLA_ERROR + 1))


def xlsb_sheet_rows(path: str, member: str) -> list[list[str | None]]:
    """All rows of one BIFF12 worksheet as ragged lists — same grid
    semantics as :func:`xlsx_sheet_rows` (row gaps inside the used
    range become empty rows)."""
    with zipfile.ZipFile(path) as z:
        shared = _xlsb_shared_strings(z)
        data = z.read(member)
    rows: dict[int, list] = {}
    max_row = 0
    cur: int | None = None
    for rid, payload in _biff12_records(data):
        if rid == _B12_ROW_HDR:
            cur = int.from_bytes(payload[0:4], "little") + 1  # 1-based
            continue
        if rid not in _B12_CELL_RIDS or cur is None:
            continue
        value = _xlsb_cell_value(rid, payload, shared)
        if value is None:
            continue
        col = int.from_bytes(payload[0:4], "little")
        cells = rows.setdefault(cur, [])
        while len(cells) <= col:
            cells.append(None)
        cells[col] = value
        max_row = max(max_row, cur)
    return [rows.get(i, []) for i in range(1, max_row + 1)]


# ---------------------------------------------------------------------------
# .xls (BIFF8 inside a CFB compound document, MS-CFB + MS-XLS).
#
# Two layers, both stdlib:
# - CFB: 512-byte header with a DIFAT, FAT sector chains, a directory
#   of 128-byte entries, and a mini-stream (FAT-of-64-byte-sectors
#   inside the root entry's chain) for streams under the 4096-byte
#   cutoff. `_cfb_stream` returns a named stream's bytes.
# - BIFF8: [id:2][len:2][payload] records. Workbook globals carry the
#   sheet directory (BoundSheet8 → absolute stream offset of each
#   sheet substream) and the shared-string table (SST + Continue with
#   the mid-string recompression rule); sheet substreams carry the
#   cell records (LabelSst, Number, RK, MulRk, Label, BoolErr,
#   Formula+String).
#
# The reference reads .xls via pd.read_excel's xlrd engine
# (main.py:249-259, README.md:12). Number rendering follows the same
# convention as the .xlsb path here (RK ints bare, doubles via
# str(float)) — xlrd itself floats everything; documented deviation.
# ---------------------------------------------------------------------------

_XLS_MAGIC = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"


def _cfb_stream(path: str, names: tuple[str, ...]) -> bytes:
    """Read the first directory stream whose name matches ``names``."""
    import struct

    with open(path, "rb") as fh:
        data = fh.read()
    if data[:8] != _XLS_MAGIC:
        raise ValueError("not a CFB compound document")
    ssz = 1 << struct.unpack_from("<H", data, 30)[0]
    mssz = 1 << struct.unpack_from("<H", data, 32)[0]
    num_fat = struct.unpack_from("<I", data, 44)[0]
    dir_start = struct.unpack_from("<i", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    minifat_start = struct.unpack_from("<i", data, 60)[0]
    difat_start = struct.unpack_from("<i", data, 68)[0]
    num_difat = struct.unpack_from("<I", data, 72)[0]
    difat = list(struct.unpack_from("<109i", data, 76))
    sec = difat_start
    for _ in range(num_difat):  # extended DIFAT chain
        if sec < 0:
            break
        ints = struct.unpack_from(f"<{ssz // 4}i", data, 512 + sec * ssz)
        difat.extend(ints[:-1])
        sec = ints[-1]
    fat: list[int] = []
    for sid in difat:
        if sid < 0:
            continue
        fat.extend(struct.unpack_from(f"<{ssz // 4}i", data, 512 + sid * ssz))
    del num_fat  # length implied by DIFAT walk

    def read_chain(start: int) -> bytes:
        out, s, seen = [], start, set()
        while s >= 0 and s not in seen:
            seen.add(s)
            out.append(data[512 + s * ssz : 512 + (s + 1) * ssz])
            s = fat[s] if s < len(fat) else -2
        return b"".join(out)

    dirdata = read_chain(dir_start)
    entries = []
    for off in range(0, len(dirdata) - 127, 128):
        nlen = struct.unpack_from("<H", dirdata, off + 64)[0]
        if nlen < 2:
            continue
        name = dirdata[off : off + nlen - 2].decode("utf-16-le", "replace")
        start = struct.unpack_from("<i", dirdata, off + 116)[0]
        size = struct.unpack_from("<I", dirdata, off + 120)[0]
        entries.append((name, dirdata[off + 66], start, size))
    root = next(e for e in entries if e[1] == 5)
    target = next((e for e in entries if e[0] in names), None)
    if target is None:
        raise ValueError(f"stream {names} not found")
    _, _, start, size = target
    if size >= mini_cutoff:
        return read_chain(start)[:size]
    # mini-stream: 64-byte sectors inside the root chain, chained by
    # the mini FAT
    ministream = read_chain(root[2])
    minifat_raw = read_chain(minifat_start)
    minifat = struct.unpack_from(f"<{len(minifat_raw) // 4}i", minifat_raw)
    out, s, seen = [], start, set()
    while s >= 0 and s not in seen:
        seen.add(s)
        out.append(ministream[s * mssz : (s + 1) * mssz])
        s = minifat[s] if s < len(minifat) else -2
    return b"".join(out)[:size]


def _biff8_records(stream: bytes, start: int = 0):
    """Yield (record_id, payload, offset) from a BIFF8 stream."""
    import struct

    i = start
    n = len(stream)
    while i + 4 <= n:
        rid, ln = struct.unpack_from("<HH", stream, i)
        if rid == 0:
            break
        yield rid, stream[i + 4 : i + 4 + ln], i
        i += 4 + ln


class _Biff8StrCursor:
    """Cursor over SST character data spanning Continue records.

    BIFF8 strings carry a per-fragment compression flag: when a
    string's characters spill into a Continue record, the fragment
    there re-declares 8-bit vs UTF-16 storage in its first byte —
    the single genuinely stateful rule in the format.
    """

    def __init__(self, segments: list[bytes]):
        self.segs = segments
        self.si = 0
        self.off = 0

    def _avail(self) -> int:
        return len(self.segs[self.si]) - self.off

    def _advance_segment(self) -> None:
        self.si += 1
        self.off = 0

    def read(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            if self._avail() == 0:
                self._advance_segment()
                continue
            take = min(n, self._avail())
            seg = self.segs[self.si]
            out += seg[self.off : self.off + take]
            self.off += take
            n -= take
        return bytes(out)

    def read_u8(self) -> int:
        return self.read(1)[0]

    def read_u16(self) -> int:
        return int.from_bytes(self.read(2), "little")

    def read_u32(self) -> int:
        return int.from_bytes(self.read(4), "little")

    def read_chars(self, cch: int, high_byte: bool) -> str:
        """Read cch characters, re-reading the compression flag at
        every Continue boundary crossed mid-string."""
        parts: list[str] = []
        remaining = cch
        while remaining > 0:
            if self._avail() == 0:
                self._advance_segment()
                high_byte = bool(self.read_u8() & 0x01)
            if high_byte:
                n_chars = min(remaining, self._avail() // 2)
                if n_chars == 0:  # odd split straddles — take via read()
                    parts.append(self.read(2).decode("utf-16-le"))
                    remaining -= 1
                    continue
                parts.append(
                    self.read(2 * n_chars).decode("utf-16-le", "replace")
                )
            else:
                n_chars = min(remaining, self._avail())
                parts.append(self.read(n_chars).decode("latin-1"))
            remaining -= n_chars
        return "".join(parts)


def _parse_sst(segments: list[bytes]) -> list[str]:
    """SST record (+ Continues) → list of unique strings."""
    cur = _Biff8StrCursor(segments)
    cur.read_u32()  # total refs
    unique = cur.read_u32()
    out = []
    for _ in range(unique):
        cch = cur.read_u16()
        flags = cur.read_u8()
        high = bool(flags & 0x01)
        rich_runs = cur.read_u16() if flags & 0x08 else 0
        ext_size = cur.read_u32() if flags & 0x04 else 0
        out.append(cur.read_chars(cch, high))
        cur.read(4 * rich_runs + ext_size)  # skip formatting runs
    return out


def _biff8_short_string(payload: bytes, off: int) -> str:
    """ShortXLUnicodeString: cch(1) flags(1) chars."""
    cch = payload[off]
    high = payload[off + 1] & 0x01
    if high:
        return payload[off + 2 : off + 2 + 2 * cch].decode("utf-16-le", "replace")
    return payload[off + 2 : off + 2 + cch].decode("latin-1")


def _biff8_long_string(payload: bytes, off: int) -> str:
    """XLUnicodeString: cch(2) flags(1) chars (no Continue spill —
    used for in-record Label/String payloads)."""
    cch = int.from_bytes(payload[off : off + 2], "little")
    high = payload[off + 2] & 0x01
    if high:
        return payload[off + 3 : off + 3 + 2 * cch].decode("utf-16-le", "replace")
    return payload[off + 3 : off + 3 + cch].decode("latin-1")


def xls_sheet_inventory(path: str) -> list[tuple[str, str]]:
    """[(sheet_name, stream_offset_of_sheet_BOF)] from BoundSheet8."""
    stream = _cfb_stream(path, ("Workbook", "Book"))
    out = []
    for rid, payload, _ in _biff8_records(stream):
        if rid == 0x000A:  # EOF of the globals substream
            break
        if rid == 0x0085:  # BoundSheet8
            pos = int.from_bytes(payload[0:4], "little")
            name = _biff8_short_string(payload, 6)
            out.append((name or "Not defined", str(pos)))
    return out


def _xls_shared_strings(stream: bytes) -> list[str]:
    segments: list[bytes] = []
    in_sst = False
    for rid, payload, _ in _biff8_records(stream):
        if rid == 0x00FC:  # SST
            segments = [payload]
            in_sst = True
        elif rid == 0x003C and in_sst:  # Continue
            segments.append(payload)
        elif in_sst:
            break
        if rid == 0x000A:
            break
    return _parse_sst(segments) if segments else []


_XLS_ERRORS = _B12_ERRORS  # same error-code space


def _xls_formula_value(payload: bytes) -> str | None:
    """FORMULA cached value: a double, unless bytes 6-7 are 0xFFFF —
    then byte 0 selects string (STRING record follows) / bool / err."""
    import struct

    if payload[12:14] == b"\xff\xff":
        kind = payload[6]
        if kind == 0:
            return ""  # replaced by the following STRING record
        if kind == 1:
            return "True" if payload[8] else "False"
        if kind == 2:
            return _XLS_ERRORS.get(payload[8], "#ERR")
        return ""
    return _b12_num_str(struct.unpack_from("<d", payload, 6)[0])



def _xls_date_xfs(stream: bytes) -> set[int]:
    """XF indices whose number format renders a date/time — BIFF8's
    analogue of :func:`_xlsx_date_styles` (FORMAT records carry custom
    codes, XF records reference them by ifmt; builtin ifmt ids match
    ECMA-376). pd.read_excel's xlrd engine converts exactly these
    before dtype=str, so date cells must not leak raw serials."""
    import struct

    custom_date: set[int] = set()
    xf_ifmts: list[int] = []
    for rid, payload, _ in _biff8_records(stream):
        if rid == 0x000A:  # end of globals substream
            break
        if rid == 0x041E and len(payload) >= 5:  # Format
            ifmt = struct.unpack_from("<H", payload, 0)[0]
            if _numfmt_is_date(_biff8_long_string(payload, 2)):
                custom_date.add(ifmt)
        elif rid == 0x00E0 and len(payload) >= 4:  # XF
            xf_ifmts.append(struct.unpack_from("<H", payload, 2)[0])
    return {
        idx
        for idx, ifmt in enumerate(xf_ifmts)
        if ifmt in _BUILTIN_DATE_FMTS or ifmt in custom_date
    }


def xls_sheet_rows(path: str, ref: str) -> list[list[str | None]]:
    """All rows of one BIFF8 sheet substream as ragged lists — same
    grid semantics as :func:`xlsx_sheet_rows`."""
    import struct

    stream = _cfb_stream(path, ("Workbook", "Book"))
    shared = _xls_shared_strings(stream)
    date_xfs = _xls_date_xfs(stream)

    def num_str(value, ixfe: int) -> str:
        if ixfe in date_xfs:
            return _serial_to_datetime_str(str(value))
        return _b12_num_str(value)

    rows: dict[int, list] = {}
    max_row = 0
    pending_formula: tuple[int, int] | None = None

    def put(r: int, c: int, value: str | None) -> None:
        nonlocal max_row
        if value is None:
            return
        ridx = r + 1
        cells = rows.setdefault(ridx, [])
        while len(cells) <= c:
            cells.append(None)
        cells[c] = value
        max_row = max(max_row, ridx)

    for rid, payload, _ in _biff8_records(stream, start=int(ref)):
        if rid == 0x000A:  # EOF — end of this sheet substream
            break
        if rid == 0x00FD:  # LabelSst
            r, c = struct.unpack_from("<HH", payload, 0)
            isst = int.from_bytes(payload[6:10], "little")
            put(r, c, shared[isst] if isst < len(shared) else str(isst))
        elif rid == 0x0203:  # Number
            r, c, ixfe = struct.unpack_from("<HHH", payload, 0)
            put(r, c, num_str(struct.unpack_from("<d", payload, 6)[0], ixfe))
        elif rid == 0x027E:  # RK
            r, c, ixfe = struct.unpack_from("<HHH", payload, 0)
            put(r, c, num_str(_rk_value(int.from_bytes(payload[6:10], "little")), ixfe))
        elif rid == 0x00BD:  # MulRk
            r, c0 = struct.unpack_from("<HH", payload, 0)
            n = (len(payload) - 6) // 6
            for k in range(n):
                ixfe = int.from_bytes(payload[4 + 6 * k : 4 + 6 * k + 2], "little")
                rk = int.from_bytes(payload[4 + 6 * k + 2 : 4 + 6 * k + 6], "little")
                put(r, c0 + k, num_str(_rk_value(rk), ixfe))
        elif rid == 0x0204:  # Label (inline string)
            r, c = struct.unpack_from("<HH", payload, 0)
            put(r, c, _biff8_long_string(payload, 6))
        elif rid == 0x0205:  # BoolErr
            r, c = struct.unpack_from("<HH", payload, 0)
            if payload[7]:  # fError
                put(r, c, _XLS_ERRORS.get(payload[6], "#ERR"))
            else:
                put(r, c, "True" if payload[6] else "False")
        elif rid == 0x0006:  # Formula (cached value)
            r, c = struct.unpack_from("<HH", payload, 0)
            v = _xls_formula_value(payload)
            if v == "" and payload[12:14] == b"\xff\xff" and payload[6] == 0:
                pending_formula = (r, c)  # value arrives in STRING
            else:
                put(r, c, v)
        elif rid == 0x0207 and pending_formula is not None:  # String
            r, c = pending_formula
            pending_formula = None
            put(r, c, _biff8_long_string(payload, 0))
    return [rows.get(i, []) for i in range(1, max_row + 1)]


# ---------------------------------------------------------------------------
# .ods / .odt / .odf (OpenDocument)
# ---------------------------------------------------------------------------

_ODS_REPEAT = f"{TABLE_NS}number-columns-repeated"
_ODS_ROW_REPEAT = f"{TABLE_NS}number-rows-repeated"
_ODS_MAX_REPEAT = 4096  # guard: trailing filler runs can claim 2^20 columns


def _ods_tables(path: str) -> list[ET.Element]:
    with zipfile.ZipFile(path) as z:
        root = ET.fromstring(z.read("content.xml"))
    return list(root.iter(f"{TABLE_NS}table"))


def ods_sheet_inventory(path: str) -> list[tuple[str, int]]:
    """[(sheet_name, table_index)]."""
    return [
        (t.get(f"{TABLE_NS}name", "Not defined"), i)
        for i, t in enumerate(_ods_tables(path))
    ]


def ods_sheet_rows(path: str, table_index: int) -> list[list[str | None]]:
    table = _ods_tables(path)[table_index]
    out: list[list[str | None]] = []
    for row in table.iter(f"{TABLE_NS}table-row"):
        cells: list[str | None] = []
        for cell in row:
            if not cell.tag.endswith("table-cell"):
                continue
            text = "".join(
                "".join(p.itertext()) for p in cell.iter(f"{TEXT_NS}p")
            )
            value: str | None = text if text else None
            repeat = min(
                int(cell.get(_ODS_REPEAT, 1) or 1), _ODS_MAX_REPEAT
            )
            cells.extend([value] * repeat)
        while cells and cells[-1] is None:
            cells.pop()
        rrep = min(int(row.get(_ODS_ROW_REPEAT, 1) or 1), _ODS_MAX_REPEAT)
        out.extend([list(cells) for _ in range(rrep)])
    while out and not out[-1]:
        out.pop()
    return out


# ---------------------------------------------------------------------------
# Generic helpers
# ---------------------------------------------------------------------------


def sheet_inventory(path: str, fmt: str) -> list[tuple[str, str]]:
    """[(sheet_name, opaque_sheet_ref)] — ref is a zip member
    (.xlsx/.xlsb) or a stringified table index (.ods family)."""
    if fmt == "xlsx":
        return xlsx_sheet_inventory(path)
    if fmt == "xlsb":
        return xlsb_sheet_inventory(path)
    if fmt == "xls":
        return xls_sheet_inventory(path)
    return [(name, str(i)) for name, i in ods_sheet_inventory(path)]


def sheet_rows(path: str, fmt: str, ref: str) -> list[list[str | None]]:
    if fmt == "xlsx":
        return xlsx_sheet_rows(path, ref)
    if fmt == "xlsb":
        return xlsb_sheet_rows(path, ref)
    if fmt == "xls":
        return xls_sheet_rows(path, ref)
    return ods_sheet_rows(path, int(ref))


def sheet_width(rows: list[list]) -> int:
    return max((len(r) for r in rows), default=0)


def padded(rows: list[list[str | None]], width: int) -> list[list[str]]:
    """Reference normalization: all-string grid, absent cells '' (the
    text pipeline's T3 pad, SURVEY §1.3 — deliberate deviation from
    pandas' NaN for absent excel cells, documented in SURVEY §7)."""
    return [
        [("" if i >= len(r) or r[i] is None else str(r[i])) for i in range(width)]
        for r in rows
    ]

