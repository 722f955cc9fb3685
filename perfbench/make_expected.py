"""Make ``expected.json``: the fingerprint of every query the benchmark
runs, on the corpus it generates, verified once against DuckDB.

Usage (from the repository root):

    python3 perfbench/make_expected.py [--oracle-timeout SECONDS]

For each query of the query workloads it runs the engine (``collect``)
and the query's DuckDB oracle on the generated corpus it runs on, compares
the two with the benchmark's tolerant comparator and records the
engine's fingerprint with the verdict. A query without an oracle, or
whose oracle does not finish within the timeout, is recorded with that
reason. Exits non-zero if any engine result disagrees with its oracle.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import check  # noqa: E402
import inputs  # noqa: E402
import run as bench  # noqa: E402


def oracle_rows(corpus: Path, sql: str, timeout: float):
    """Run ``sql`` on DuckDB over the corpus tables; None on timeout."""
    import duckdb

    con = duckdb.connect()
    for t in inputs.CORPUS_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus / t}.parquet')"
        )
    timer = threading.Timer(timeout, con.interrupt)
    timer.start()
    try:
        cur = con.execute(sql)
        return [d[0] for d in cur.description], cur.fetchall()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
        con.close()


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--oracle-timeout", type=float, default=300.0)
    args = parser.parse_args(argv)

    run_dir = bench.WORK / "make-expected"
    shutil.rmtree(run_dir, ignore_errors=True)
    bench.launch_env(run_dir, trace=False)
    from almost_any_file_to_pandas_spark import plans
    from almost_any_file_to_pandas_spark.session import get_spark

    spark = get_spark()
    jvm = spark.sparkContext._gateway.proc
    plans.load_all()
    tracer = bench.Tracer(spark.sparkContext, tag=False)
    out = {"corpus_seed": bench.CORPUS_SEED, "corpus": {}, "ops": {}}
    mismatches = 0
    ops = sorted({op for w in bench.WORKLOADS.values() for op in w.ops},
                 key=lambda op: (-op[1], op[0]))
    try:
        for name, sf in ops:
            key = bench.corpus_name(sf)
            corpus = run_dir / key
            if key not in out["corpus"]:
                inputs.make_corpus(corpus, sf, bench.CORPUS_SEED)
                out["corpus"][key] = {"sf": sf, "input_sha256": inputs.file_hashes(corpus)}
            op, (cols, rows) = bench.run_query(
                spark, tracer, plans.QUERIES[name], name, str(corpus), 0, None,
                collect=True,
            )
            if op.failed:
                print(f"{key}/{name}: the engine failed", flush=True)
                return 1
            fp = check.fingerprint(cols, rows)
            sql = plans.ORACLES.get(name)
            t = time.perf_counter()
            if sql is None:
                verdict = "no oracle registered"
            else:
                got = oracle_rows(corpus, sql, args.oracle_timeout)
                if got is None:
                    verdict = f"oracle did not finish within {args.oracle_timeout:.0f} s"
                else:
                    diffs = check.compare(check.fingerprint(*got), fp)
                    verdict = "matches the DuckDB oracle" if not diffs else (
                        "MISMATCH: " + "; ".join(diffs)
                    )
                    mismatches += bool(diffs)
            oracle_s = time.perf_counter() - t
            print(f"{key}/{name}: {len(rows)} rows, {verdict} (oracle {oracle_s:.1f} s)",
                  flush=True)
            out["ops"][name] = {
                "corpus": key,
                "fingerprint": fp,
                "oracle": verdict,
                "oracle_s": round(oracle_s, 1),
            }
    finally:
        spark.stop()
        bench._stop_jvm(jvm)
        shutil.rmtree(run_dir, ignore_errors=True)
    if mismatches:
        print(f"{mismatches} engine results disagree with their oracles")
        return 1
    path = bench.BENCH_DIR / "expected.json"
    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
