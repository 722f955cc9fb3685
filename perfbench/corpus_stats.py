"""Compare the generated corpus with a reference corpus on disk.

Usage (from the repository root):

    python3 perfbench/corpus_stats.py REF_DIR --sf SF

Generates the benchmark's corpus at scale factor ``SF`` and prints, for
it and for the ten parquet tables in ``REF_DIR`` side by side: every
table's row count, the share of rows that pass the filters of the
queries the benchmark runs, a few value domains, and the row count of
the DuckDB oracle of every benchmark query that runs at that scale.
"""

from __future__ import annotations

import argparse
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import inputs  # noqa: E402
import make_expected  # noqa: E402
import run as bench  # noqa: E402

STATS = {
    "lineitem: share with l_shipdate <= 1998-09-02 (q1)":
        "SELECT avg(CASE WHEN l_shipdate <= TIMESTAMP '1998-09-02' THEN 1 ELSE 0 END) "
        "FROM lineitem",
    "orders: share with o_orderdate in [1996, 1998) (q5)":
        "SELECT avg(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01' "
        "AND o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END) FROM orders",
    "customer: share in region ASIA (q5)":
        "SELECT avg(CASE WHEN r_name = 'ASIA' THEN 1 ELSE 0 END) FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey",
    "lineitem: lines per order":
        "SELECT count(*) / count(DISTINCT l_orderkey) FROM lineitem",
    "orders: first o_orderdate (days since 1970)":
        "SELECT min(o_orderdate)::DATE - DATE '1970-01-01' FROM orders",
    "orders: last o_orderdate (days since 1970)":
        "SELECT max(o_orderdate)::DATE - DATE '1970-01-01' FROM orders",
    "events: distinct users":
        "SELECT count(DISTINCT user_id) FROM events",
    "events: span (days)":
        "SELECT date_diff('second', min(ts), max(ts)) / 86400 FROM events",
    "events: share of 'view'":
        "SELECT avg(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) FROM events",
    "events: mean value":
        "SELECT avg(value) FROM events",
    "documents: mean n_chars":
        "SELECT avg(n_chars) FROM documents",
    "documents: share in 'en'":
        "SELECT avg(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) FROM documents",
    "embeddings: distinct labels":
        "SELECT count(DISTINCT label) FROM embeddings",
}


def scalar(corpus: Path, sql: str) -> float:
    _, rows = make_expected.oracle_rows(corpus, sql, timeout=600.0)
    return float(rows[0][0])


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("reference", type=Path)
    parser.add_argument("--sf", type=float, required=True)
    args = parser.parse_args(argv)

    from almost_any_file_to_pandas_spark import plans

    plans.load_all()
    gen = bench.WORK / "corpus-stats" / bench.corpus_name(args.sf)
    shutil.rmtree(gen, ignore_errors=True)
    inputs.make_corpus(gen, args.sf, bench.CORPUS_SEED)
    rows = []
    try:
        for t in inputs.CORPUS_TABLES:
            sql = f"SELECT count(*) FROM {t}"
            rows.append((f"{t}: rows", scalar(gen, sql), scalar(args.reference, sql)))
        for name, sql in STATS.items():
            rows.append((name, scalar(gen, sql), scalar(args.reference, sql)))
        ops = sorted({op for w in bench.WORKLOADS.values() for op, sf in w.ops
                      if sf == args.sf})
        for op in ops:
            sql = plans.ORACLES[op]
            got = [make_expected.oracle_rows(c, sql, timeout=600.0) for c in (gen, args.reference)]
            rows.append((f"{op}: oracle rows", *(len(g[1]) for g in got)))
    finally:
        shutil.rmtree(gen, ignore_errors=True)
    print(f"{'sf ' + format(args.sf, 'g'):<56} {'generated':>12} {'reference':>12} {'ratio':>7}")
    for name, a, b in rows:
        ratio = f"{a / b:7.3f}" if b else "      -"
        print(f"{name:<56} {a:>12.4g} {b:>12.4g} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
