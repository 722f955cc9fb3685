"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin
on DuckDB at the given scale factor, then compares row count, column
names, and an order-insensitive value hash (rows sorted, columns
sorted by name, values stringified with float canonicalization).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(value) -> str:
    import datetime
    import decimal

    if value is None:
        return "NULL"
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return repr(value)
    if isinstance(value, decimal.Decimal):
        return repr(float(value))
    if isinstance(value, (datetime.datetime, datetime.date)):
        return value.isoformat()
    if isinstance(value, (list, tuple)):
        return "[" + ",".join(canon(v) for v in value) + "]"
    return str(value)


def frame_fingerprint(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon(row[i]) for i in order) for row in rows
    )
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return digest, len(lines), sorted(columns)


# DuckDB result types an oracle may return. The driver's gate does not
# read oracles through fetchall() as this checker does, and a type
# outside this set can render differently there: HUGEINT (what an
# integer SUM returns) arrives as decimal128(38,0) through Arrow and
# float64 through pandas, printing "10.0" where Spark prints "10".
ORACLE_TYPES = frozenset(
    ("BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE",
     "DECIMAL", "TIMESTAMP")
)


def off_contract_columns(con, sql: str) -> list[tuple[str, str]]:
    """``(column, type)`` for every output column of ``sql`` whose
    DuckDB type is outside :data:`ORACLE_TYPES` (lists of those are
    allowed). Binds the query for its types; never executes it."""
    rel = con.sql(sql)
    bad = []
    for col, dtype in zip(rel.columns, rel.types):
        base = str(dtype)
        while base.endswith("[]"):
            base = base[:-2]
        if base.split("(")[0] not in ORACLE_TYPES:
            bad.append((col, str(dtype)))
    return bad


def make_duckdb_views(sf_dir: str):
    """A DuckDB connection with the ten tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def check_one(spark, con, sf_dir, name, fn, oracle):
    """Run one query on Spark and its oracle on DuckDB; compare.

    Returns ``(status, detail, spark_hash)`` where status is ``PASS``
    / ``FAIL`` / ``OK?`` (rows-only: no oracle given) and spark_hash
    is the engine-side frame fingerprint (None on a Spark error).
    An oracle column typed outside :data:`ORACLE_TYPES` is a ``FAIL``
    even when the fetchall() hashes agree. Library form of the CLI
    body, shared with bench.py's self-run digest.
    """
    started = time.time()
    try:
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sdf.columns
        s_hash, s_n, s_cols = frame_fingerprint(
            scols, [tuple(r) for r in srows]
        )
    except Exception as exc:  # noqa: BLE001
        return "FAIL", f"spark error: {exc}", None

    if oracle is None:
        return "OK?", (
            f"rows-only check, {s_n} rows ({time.time()-started:.1f}s)"
        ), s_hash
    try:
        bad = off_contract_columns(con, oracle)
        if bad:
            return "FAIL", "oracle types outside the contract: " + ", ".join(
                f"{c} {t}" for c, t in bad
            ), s_hash
        cur = con.execute(oracle)
        dcols = [d[0] for d in cur.description]
        drows = cur.fetchall()
        d_hash, d_n, d_cols = frame_fingerprint(dcols, drows)
    except Exception as exc:  # noqa: BLE001
        return "FAIL", f"duckdb error: {exc}", s_hash

    status = "PASS"
    detail = f"{s_n} rows ({time.time()-started:.1f}s)"
    if s_cols != d_cols:
        status, detail = "FAIL", f"columns spark={s_cols} duck={d_cols}"
    elif s_n != d_n:
        status, detail = "FAIL", f"rows spark={s_n} duck={d_n}"
    elif s_hash != d_hash:
        status, detail = "FAIL", "value hash mismatch"
        # show first differing rows for debugging
        order = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        s_set = sorted(
            "\x1f".join(canon(r[i]) for i in order)
            for r in [tuple(x) for x in srows]
        )
        d_order = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
        d_set = sorted(
            "\x1f".join(canon(r[i]) for i in d_order) for r in drows
        )
        for a, b in zip(s_set, d_set):
            if a != b:
                detail += f"\n  spark: {a[:200]}\n  duck : {b[:200]}"
                break
    return status, detail, s_hash


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from almost_any_file_to_pandas_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = make_duckdb_views(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = [n for n in queries if not only or n in only]

    # Thread-parallel sweep (same rationale as bench.py's digest: this
    # is a correctness pass, no timing rides on it — concurrent Spark
    # actions are safe and cut the full-registry wall ~3-4×). Each
    # worker gets its own DuckDB cursor; ORACLE_THREADS=1 restores the
    # sequential sweep.
    import threading
    from concurrent.futures import ThreadPoolExecutor

    n_threads = max(1, int(os.environ.get("ORACLE_THREADS", "4")))
    lock = threading.Lock()
    local = threading.local()
    failures = []

    def run_one(name: str) -> None:
        if not hasattr(local, "cur"):
            local.cur = con.cursor()
        status, detail, _ = check_one(
            spark, local.cur, sf_dir, name, queries[name],
            oracles.get(name),
        )
        with lock:
            print(f"{status} {name}: {detail}", flush=True)
            if status == "FAIL":
                failures.append(name)

    with ThreadPoolExecutor(max_workers=n_threads) as pool:
        list(pool.map(run_one, names))

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
