"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of their arguments (the same
arguments give byte-identical files):

* ``make_corpus`` writes the engine's ten-table parquet corpus (the
  TPC-H-like star schema plus ``events``, ``documents`` and
  ``embeddings``) at a scale factor, with the column names, types and
  value domains of the corpus the engine's queries are written for.
  Row counts scale linearly with ``sf`` and every foreign key points at
  an existing row, so joins keep their selectivity at any size.
* ``make_ingest_set`` writes a mixed-format file set for the ``parse``
  façade and returns, for every file, the tables ``parse`` must return.
"""

from __future__ import annotations

import hashlib
import io
import json
import sqlite3
import zipfile
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# Rows per unit of scale factor (the proportions of TPC-H, and of the
# engine's own sf0.1 corpus for the three non-TPC-H tables).
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(iso: str) -> int:
    return int((np.datetime64(iso, "D") - _EPOCH).astype(np.int64))


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(values)).cast(
        pa.string()
    )


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)], pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; one in twenty is a
    near-copy (two words changed, ``dup`` appended) of an earlier one,
    so the dedup operators have pairs to find."""
    texts: list[str] = []
    lengths = rng.integers(40, 580, n)
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(2):
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
            texts.append(" ".join(words) + " dup")
            continue
        words = rng.choice(len(_VOCAB), int(lengths[i]) // 3)
        text = " ".join(_VOCAB[w] for w in words)
        texts.append(text[: int(lengths[i])].rstrip())
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten weak label centroids."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    vec = rng.normal(size=(n, dim)) + 0.3 * centroids[labels]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vec.reshape(-1))
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten corpus tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(round(v * sf))) for k, v in _ROWS_PER_SF.items()}
    nc, ns, np_, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    pk = np.arange(np_, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) * 0.1, 1)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": pa.array(
                [
                    f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (np_, 2))
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, np_)], pa.string()
            ),
            "p_type": _pick(rng, _PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(retail),
        }
    )
    odate = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _ts_us(odate),
            "o_orderpriority": _pick(rng, _PRIORITIES, no),
        }
    )
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(okey)
    linenumber = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    partkey = rng.integers(0, np_, nl).astype(np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, nl)
    order = rng.permutation(nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey[order]),
            "l_partkey": pa.array(partkey[order]),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)[order]),
            "l_linenumber": pa.array(linenumber.astype(np.int32)[order]),
            "l_quantity": pa.array(qty[order]),
            "l_extendedprice": pa.array(
                np.round(qty * retail[partkey] * rng.uniform(1.0, 2.1, nl), 2)[order]
            ),
            "l_discount": pa.array((rng.integers(0, 11, nl) / 100.0)[order]),
            "l_tax": pa.array((rng.integers(0, 9, nl) / 100.0)[order]),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl).take(pa.array(order)),
            "l_linestatus": _pick(rng, ["F", "O"], nl).take(pa.array(order)),
            "l_shipdate": _ts_us(ship[order]),
        }
    )
    ne = n["events"]
    start_us = _days("2024-01-01") * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + start_us
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(
                rng.integers(0, max(1, int(15_000 * sf)), ne).astype(np.int64)
            ),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def make_corpus(out_dir: Path, sf: float, seed: int) -> None:
    """Write the corpus as ``<out_dir>/<table>.parquet``."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, table in corpus_tables(sf, seed).items():
        pq.write_table(table, out_dir / f"{name}.parquet", compression="snappy")


def file_hashes(root: Path) -> dict[str, str]:
    """sha256 of every file under ``root``, keyed by relative path."""
    out = {}
    for p in sorted(root.rglob("*")):
        if p.is_file():
            out[str(p.relative_to(root))] = hashlib.sha256(p.read_bytes()).hexdigest()
    return out


# --------------------------------------------------------------------------
# ingest file set


@dataclass
class IngestFile:
    """One generated file and the tables ``parse`` must return for it,
    in order: ``(sheet name, column names, rows)``."""

    name: str
    fmt: str
    tables: list[tuple[str, list[str], list[list]]]


_CYRILLIC = [
    "Иванов Пётр", "Смирнова Анна", "Кузнецов Олег", "Попова Мария",
    "Соколов Иван", "Лебедева Ольга", "Новиков Сергей",
]
_LATIN = ["alpha", "beta", "gamma", "delta", "omega", "north", "south"]
_HEADER = ["id", "name", "amount", "code"]
_POSITIONAL = ["c0", "c1", "c2", "c3"]
# the sheet names parse gives single-table text and JSON files
_TEXT_SHEET = "Text file content"
_JSON_SHEET = "JSON file content"


def _grid(rng: np.random.Generator, n_rows: int, words: list[str]) -> list[list[str]]:
    """``n_rows`` rows of id / name / amount / code, every cell a string."""
    ids = rng.permutation(n_rows) + 1
    w = rng.integers(0, len(words), n_rows)
    amounts = rng.integers(0, 10_000_000, n_rows)
    codes = rng.integers(0, 26**3, n_rows)
    rows = []
    for i in range(n_rows):
        c = int(codes[i])
        rows.append(
            [
                str(int(ids[i])),
                f"{words[int(w[i])]}_{i % 97}",
                f"{int(amounts[i]) // 100}.{int(amounts[i]) % 100:02d}",
                chr(65 + c % 26) + chr(65 + c // 26 % 26) + chr(65 + c // 676),
            ]
        )
    return rows


def _positional(sheet: str, rows: list[list[str]]) -> tuple[str, list[str], list[list]]:
    """Delimited text and spreadsheets parse to all-string positional
    columns, the header line being the first data row."""
    return (sheet, _POSITIONAL, [_HEADER] + rows)


def _delimited(rows: list[list[str]], sep: str) -> str:
    return "".join(sep.join(r) + "\n" for r in rows)


def _xlsx_bytes(sheets: list[tuple[str, list[list[str]]]]) -> bytes:
    """Hand-rolled OOXML workbook: one inline-string worksheet per sheet."""

    def col(ci: int) -> str:
        s, n = "", ci + 1
        while n:
            n, rem = divmod(n - 1, 26)
            s = chr(65 + rem) + s
        return s

    def sheet_xml(rows: list[list[str]]) -> str:
        out = [
            '<?xml version="1.0"?><worksheet xmlns="http://schemas.'
            'openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
        ]
        for ri, row in enumerate(rows, start=1):
            out.append(f'<row r="{ri}">')
            out.extend(
                f'<c r="{col(ci)}{ri}" t="inlineStr"><is><t>{v}</t></is></c>'
                for ci, v in enumerate(row)
            )
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        return "".join(out)

    wb = (
        '<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/'
        'spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/'
        'officeDocument/2006/relationships"><sheets>'
        + "".join(
            f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
            for i, (name, _) in enumerate(sheets)
        )
        + "</sheets></workbook>"
    )
    rels = (
        '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
        'openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" Type="http://schemas.openxmlformats.'
            f'org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheets))
        )
        + "</Relationships>"
    )
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        _zip_put(z, "xl/workbook.xml", wb.encode())
        _zip_put(z, "xl/_rels/workbook.xml.rels", rels.encode())
        for i, (_, rows) in enumerate(sheets):
            _zip_put(z, f"xl/worksheets/sheet{i + 1}.xml", sheet_xml(rows).encode())
    return buf.getvalue()


def _zip_put(z: zipfile.ZipFile, name: str, data: bytes) -> None:
    # a fixed timestamp keeps the archive bytes a function of the content
    info = zipfile.ZipInfo(name, date_time=(2024, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    z.writestr(info, data)


# data rows per table, as a share of ``make_ingest_set``'s ``rows``: the
# formats decoded row by row in Python workers get smaller tables, so
# that no single file dominates a pass
_ROW_SHARE = {"csv": 1.0, "txt": 1.0, "jsonl": 1.0, "zip": 0.5, "sqlite": 0.25, "xlsx": 0.1}


def make_ingest_set(out_dir: Path, seed: int, rows: int) -> list[IngestFile]:
    """Write one file per format and return what ``parse`` must read
    back. Table sizes depend on ``rows`` only; the seed changes the
    cell values.

    Formats: ``;``-separated CSV in UTF-8, tab-separated TXT in cp1251,
    JSON lines, SQLite with one typed table, an XLSX workbook with two
    sheets, and a ZIP of two CSVs.
    """
    rng = np.random.default_rng(seed)
    out_dir.mkdir(parents=True, exist_ok=True)

    def grid(fmt: str, words: list[str] = _LATIN) -> list[list[str]]:
        return _grid(rng, int(rows * _ROW_SHARE[fmt]), words)

    def put(name: str, data: bytes) -> None:
        (out_dir / name).write_bytes(data)

    files: list[IngestFile] = []
    g = grid("csv")
    put("sales.csv", _delimited([_HEADER] + g, ";").encode("utf-8"))
    files.append(IngestFile("sales.csv", "csv", [_positional(_TEXT_SHEET, g)]))

    g = grid("txt", _CYRILLIC)
    put("ledger.txt", _delimited([_HEADER] + g, "\t").encode("cp1251"))
    files.append(IngestFile("ledger.txt", "txt", [_positional(_TEXT_SHEET, g)]))

    g = grid("jsonl")
    put("events.jsonl", "".join(json.dumps(dict(zip(_HEADER, r))) + "\n" for r in g)
        .encode("utf-8"))
    # the JSON reader orders inferred columns by name
    cols = sorted(_HEADER)
    body = [[dict(zip(_HEADER, r))[c] for c in cols] for r in g]
    files.append(IngestFile("events.jsonl", "jsonl", [(_JSON_SHEET, cols, body)]))

    path = out_dir / "store.sqlite"
    path.unlink(missing_ok=True)
    typed = [[int(r[0]), r[1], float(r[2]), r[3]] for r in grid("sqlite")]
    con = sqlite3.connect(path)
    try:
        con.execute("CREATE TABLE t0 (id INTEGER, name TEXT, amount REAL, code TEXT)")
        con.executemany("INSERT INTO t0 VALUES (?, ?, ?, ?)", typed)
        con.commit()
    finally:
        con.close()
    files.append(IngestFile("store.sqlite", "sqlite", [("t0", _HEADER, typed)]))

    sheets = [(f"Sheet{j + 1}", grid("xlsx")) for j in range(2)]
    put("book.xlsx", _xlsx_bytes([(s, [_HEADER] + g) for s, g in sheets]))
    files.append(IngestFile("book.xlsx", "xlsx", [_positional(s, g) for s, g in sheets]))

    members = [(f"part{j}.csv", grid("zip")) for j in range(2)]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for mname, g in members:
            _zip_put(z, mname, _delimited([_HEADER] + g, ";").encode("utf-8"))
    put("bundle.zip", buf.getvalue())
    files.append(IngestFile("bundle.zip", "zip", [_positional(m, g) for m, g in members]))
    return files
