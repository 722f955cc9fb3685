"""End-to-end benchmark of the engine through its public entry points.

Usage (from the repository root):

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Each workload is a closed loop with one client in one process, on a
``local[nproc]`` session from ``session.get_spark``:

* ``analytics-x10``: relational and event queries on the sf0.1 corpus,
  ten times the sf0.01 scale the DuckDB oracles are usually run at, and
  two LLM-data-pipeline operators on the sf0.01 corpus;
* ``ingest-write``: a seeded mixed-format file set through ``parse``,
  a noop scan of every returned table and ``sinks.write`` to parquet
  or csv.

A run generates its inputs, starts the session, runs one warm-up pass
whose results are checked (against ``expected.json`` for the query
workload, against the generator's own rows for ingest), then runs
timed passes, each over every operation in a seeded order: the first
pass whole, later ones until ``--seconds`` have passed. Per-pass numbers are
each operation's median over its timed samples, summed; the ingest
outputs of the last pass are read back and checked. Set-up runs once
per run: a second session start costs as much as the first.

The end-to-end times are scaled by the share of CPU time the
hypervisor did not steal while they ran (see ``cpu_ticks``); the
per-layer numbers are as measured. The last stdout
line is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. A traced run tags every call with a Spark
job group, records the event log and writes its spans and
per-operation numbers to ``.perfbench/results/``; ``perfbench/diff.py``
compares two of those.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import importlib.metadata  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
PKG = "almost_any_file_to_pandas_spark"
WORK = ROOT / ".perfbench"
CORPUS_SEED = 20261016
DRIVER_MEM = "2g"

sys.path[:0] = [str(BENCH_DIR), str(ROOT)]

import check  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402


@dataclass(frozen=True)
class Workload:
    # (query, scale factor of the generated corpus it runs on)
    ops: tuple[tuple[str, float], ...] = ()
    ingest_rows: int = 0


# Few operations each: a run must fit about a minute, and a session
# start plus a cold first pass over the operations take most of it.
WORKLOADS = {
    # scan, shuffle and join work on the larger corpus, where executed
    # stages dominate; and operators whose cost is mostly driver-side
    # construction (eager jobs, collects) on the small one
    "analytics-x10": Workload(
        ops=(
            ("q1_pricing_summary", 0.1),
            ("q5_region_revenue", 0.1),
            ("events_sessionization", 0.1),
            ("graph_label_propagation", 0.01),
            ("text_quality_filter", 0.01),
        ),
    ),
    # parse, sources and sinks only; plans and operators are bypassed
    "ingest-write": Workload(ingest_rows=8_000),
}

# every module a query workload calls into, in a fixed order, so a traced
# run prints the same per-layer names on every workload
QUERY_MODULES = (
    "plans.relational",
    "streaming.events",
    "operators.graph",
    "operators.textstats",
)
SOURCE_FORMATS = ("csv", "txt", "jsonl", "sqlite", "xlsx", "zip")
SINK_FORMATS = ("parquet", "csv")
# each source format is written to one sink format, so that both sinks
# see a text source and a Python-side source at half the cost of
# writing every table twice
SINK_OF = {"csv": "parquet", "jsonl": "parquet", "xlsx": "parquet",
           "txt": "csv", "zip": "csv", "sqlite": "csv"}
SPARK_METRICS = (
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "result_mb",
    "peak_exec_mem_mb",
    "task_skew",
    "tasks_failed",
)
# per-pass values that combine by max rather than by sum
_MAX_METRICS = ("peak_exec_mem_mb", "task_skew")
_MB = 1024.0 * 1024.0


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, with its unit."""
    names = [
        ("session.start_s", "s"),
        ("plans.load_all_s", "s"),
        ("warmup_s", "s"),
        ("inputs.gen_s", "s"),
        ("host.steal", "ratio"),
        ("host.setup_steal", "ratio"),
        ("trace.wall_s", "s"),
        ("fail_ratio", "ratio"),
        ("peak_rss_mb", "MB"),
        ("op_p50_s", "s"),
        ("input_mb_per_s", "MB/s"),
    ]
    for mod in QUERY_MODULES:
        names += [
            (f"{mod}.build_s", "s"),
            (f"{mod}.build_jobs", "count"),
            (f"{mod}.exec_s", "s"),
            (f"{mod}.exec_jobs", "count"),
            (f"{mod}.stages", "count"),
            (f"{mod}.tasks", "count"),
        ]
    for fmt in SOURCE_FORMATS:
        names += [
            (f"sources.{fmt}.parse_s", "s"),
            (f"sources.{fmt}.scan_s", "s"),
            (f"sources.{fmt}.tables", "count"),
        ]
    names += [(f"sinks.{fmt}.write_s", "s") for fmt in SINK_FORMATS]
    names += [
        ("sinks.bytes_written_mb", "MB"),
        ("sinks.files_written", "count"),
        ("sinks.write_amp", "ratio"),
    ]
    units = {"s": "s", "mb": "MB", "skew": "ratio", "failed": "count"}
    names += [(f"spark.{m}", units[m.rsplit("_", 1)[-1]]) for m in SPARK_METRICS]
    names += [
        ("spark.stage_span_s", "s"),
        ("driver_gap_s", "s"),
        ("python.sent_mb", "MB"),
        ("python.returned_mb", "MB"),
    ]
    return names


END_TO_END = (
    ("setup_s", "s"),
    ("wall_s", "s"),
    ("op_p90_s", "s"),
)

# --------------------------------------------------------------------------
# environment


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def launch_env(run_dir: Path, trace: bool) -> None:
    """Size the session to the machine through the settings the engine
    reads, keep every scratch file inside ``run_dir``, and for a traced
    run turn on the event log at launch."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(tmp)
    os.environ["TZ"] = "UTC"
    time.tzset()
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir()
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    )


def versions(spark, seed: int) -> dict:
    system = spark.sparkContext._jvm.java.lang.System
    return {
        "nproc": host_cpus(),
        "python": platform.python_version(),
        "jdk": f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}",
        "spark": spark.version,
        "pyarrow": _dist_version("pyarrow"),
        "duckdb": _dist_version("duckdb"),
        "commit": _commit(),
        "seed": seed,
        "driver_mem": DRIVER_MEM,
    }


def _dist_version(name: str) -> str:
    try:
        return importlib.metadata.version(name)
    except importlib.metadata.PackageNotFoundError:
        return "not installed"


def _commit() -> str:
    """The checked-out commit, or a digest of the engine sources when
    the checkout is not a git repository."""
    head = ROOT / ".git" / "HEAD"
    if head.is_file():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            target = ROOT / ".git" / ref[5:]
            if target.is_file():
                return target.read_text().strip()
        return ref
    digest = hashlib.sha256()
    for p in sorted((ROOT / PKG).rglob("*.py")):
        digest.update(p.read_bytes())
    return "src-sha256:" + digest.hexdigest()[:16]


# --------------------------------------------------------------------------
# the timed calls


# Steal. On a shared virtual machine the hypervisor takes a share of
# the CPU time for other tenants; that share swings within a run and
# between runs by more than the metrics' bounds. A run therefore reads
# the machine's CPU ticks around every operation and scales the
# operation's time by the share of the wanted ticks that were not
# stolen: to first order, its time on the same machine with no steal.
# Set-up is scaled by that share over set-up. The per-layer numbers stay
# as measured.


def cpu_ticks() -> tuple[int, int]:
    """(stolen, wanted) CPU ticks of the machine so far, from /proc/stat.
    Wanted ticks are those in which a CPU ran or was stolen from, i.e.
    not idle nor waiting for I/O: a hypervisor steals only from a CPU
    that wants to run, so the share of all ticks would understate it."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields) - fields[3] - fields[4]


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    wanted = end[1] - start[1]
    return (end[0] - start[0]) / wanted if wanted else 0.0


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Spans kept in memory and written out when the run ends; with
    ``tag`` on, each phase also gets its own Spark job group."""

    sc: object
    tag: bool
    spans: list[Span] = field(default_factory=list)

    def open(self, name: str, parent: int | None) -> int:
        self.spans.append(Span(name, parent, time.perf_counter()))
        return len(self.spans) - 1

    def close(self, idx: int) -> float:
        span = self.spans[idx]
        span.end = time.perf_counter()
        return span.end - span.start

    def phase(self, group: str, parent: int | None):
        if self.tag:
            self.sc.setJobGroup(group, group)
        return self.open(group.rsplit(":", 1)[-1], parent)

    def self_times(self) -> dict[str, float]:
        """Self time summed per span name: duration minus the time its
        children cover (children of one span never overlap here)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            kind = s.name.split("/", 1)[0]
            out[kind] = out.get(kind, 0.0) + (s.end - s.start - c)
        return out


@dataclass
class OpResult:
    pass_no: int
    op: str
    module: str
    phases: dict[str, float]
    wall: float
    failed: bool
    groups: list[str]
    counts: dict[str, float] = field(default_factory=dict)
    # share of the machine's wanted CPU ticks the hypervisor stole meanwhile
    steal: float = 0.0


def module_of(fn) -> str:
    return fn.__module__.removeprefix(PKG + ".")


def run_query(spark, tracer: Tracer, fn, name: str, corpus: str, pass_no: int,
              parent: int, collect: bool):
    """One query: the callable returning (build), then the noop sink, or
    a collect on the checked pass (exec). Returns the op and the rows."""
    op_span = tracer.open(f"op/{name}", parent)
    groups = [f"{pass_no}:{name}:build", f"{pass_no}:{name}:exec"]
    phases, rows, failed, columns = {}, None, False, []
    try:
        s = tracer.phase(groups[0], op_span)
        df = fn(spark, corpus)
        phases["build"] = tracer.close(s)
        s = tracer.phase(groups[1], op_span)
        if collect:
            columns, rows = df.columns, [tuple(r) for r in df.collect()]
        else:
            df.write.format("noop").mode("overwrite").save()
        phases["exec"] = tracer.close(s)
    except Exception:  # a failing query is counted, and the loop goes on
        traceback.print_exc(file=sys.stderr)
        failed = True
    wall = tracer.close(op_span)
    return OpResult(pass_no, name, module_of(fn), phases, wall, failed, groups), (
        columns,
        rows,
    )


def run_ingest(spark, tracer: Tracer, f: inputs.IngestFile, in_dir: Path,
               out_dir: Path, pass_no: int, parent: int, collect: bool):
    """One file: ``parse`` (parse), a noop over every returned table
    (scan), and ``sinks.write`` of each table in the file's sink format
    (write)."""
    from almost_any_file_to_pandas_spark import parse, sinks

    op_span = tracer.open(f"op/{f.name}", parent)
    groups = [f"{pass_no}:{f.name}:{p}" for p in ("parse", "scan", "write")]
    phases: dict[str, float] = {}
    counts = {"tables": 0.0}
    tables, failed = [], False
    try:
        s = tracer.phase(groups[0], op_span)
        results = parse(spark, str(in_dir / f.name))
        phases["parse"] = tracer.close(s)
        counts["tables"] = float(len(results))
        # a failed answer carries an empty, column-less table
        failed = len(results) != len(f.tables) or any(
            not r.data.columns for r in results
        )
        s = tracer.phase(groups[1], op_span)
        for r in results:
            if collect:
                tables.append(
                    (r.sheet_name, r.parse_info, r.data.columns,
                     [tuple(x) for x in r.data.collect()])
                )
            else:
                r.data.write.format("noop").mode("overwrite").save()
        phases["scan"] = tracer.close(s)
        s = tracer.phase(groups[2], op_span)
        for i, r in enumerate(results):
            sinks.write(r.data, output_path(out_dir, f, i), mode="overwrite")
        phases["write"] = counts[f"write.{SINK_OF[f.fmt]}"] = tracer.close(s)
    except Exception:  # a failing file is counted, and the loop goes on
        traceback.print_exc(file=sys.stderr)
        failed = True
    wall = tracer.close(op_span)
    op = OpResult(pass_no, f.name, f"sources.{f.fmt}", phases, wall, failed, groups,
                  counts)
    return op, tables


def output_path(out_dir: Path, f: inputs.IngestFile, table: int) -> Path:
    return out_dir / f"{f.name}.{table}.{SINK_OF[f.fmt]}"


def check_outputs(files: list[inputs.IngestFile], out_dir: Path) -> list[str]:
    """Read back what the last pass wrote: every parquet table must hold
    the parsed rows; every csv table the right number of data lines."""
    import pyarrow.parquet as pq

    diffs = []
    for f in files:
        for i, (sheet, cols, rows) in enumerate(f.tables):
            path = output_path(out_dir, f, i)
            if SINK_OF[f.fmt] == "parquet":
                got = pq.read_table(path).to_pylist()
                names = list(got[0]) if got else []
                got_fp = check.fingerprint(names, [tuple(r.values()) for r in got])
                want = check.fingerprint(list(cols), [tuple(r) for r in rows])
                diffs += [f"{path.name}: {d}" for d in check.compare(want, got_fp)]
                continue
            lines = sum(
                max(0, len(p.read_bytes().splitlines()) - 1)
                for p in path.glob("part-*.csv")
            )
            if lines != len(rows):
                diffs.append(f"{path.name}: {lines} data lines, expected {len(rows)}")
    return diffs


def check_ingest(f: inputs.IngestFile, tables) -> list[str]:
    """Differences between what ``parse`` returned and what was written."""
    if len(tables) != len(f.tables):
        return [f"{f.name}: {len(tables)} tables, expected {len(f.tables)}"]
    diffs = []
    for (sheet, info, cols, rows), (exp_sheet, exp_cols, exp_rows) in zip(
        tables, f.tables
    ):
        if sheet != exp_sheet or info != "OK":
            diffs.append(f"{f.name}: table {sheet!r} ({info}), expected {exp_sheet!r}")
            continue
        got = check.fingerprint(list(cols), rows)
        want = check.fingerprint(list(exp_cols), [tuple(r) for r in exp_rows])
        diffs += [f"{f.name}/{sheet}: {d}" for d in check.compare(want, got)]
    return diffs


# --------------------------------------------------------------------------
# metrics


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _quantile(values: list[float], q: float) -> float:
    """Quantile with linear interpolation between the closest ranks."""
    ordered = sorted(values)
    pos = q * (len(ordered) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(ordered) - 1)
    return ordered[lo] + (ordered[hi] - ordered[lo]) * (pos - lo)


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak RSS of the driver JVM plus this Python driver."""
    hwm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (hwm_kb + own_kb) / 1024.0


def output_stats(out_dir: Path) -> tuple[float, int]:
    """Bytes (MB) and data files that the sinks left in ``out_dir``."""
    size, files = 0, 0
    for p in out_dir.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            size += p.stat().st_size
            files += 1
    return size / _MB, files


def op_medians(ops: list[OpResult], value) -> list[float]:
    """Each operation's median of ``value(op)`` over its timed samples."""
    samples: dict[str, list[float]] = {}
    for op in ops:
        samples.setdefault(op.op, []).append(float(value(op)))
    return [_median(v) for v in samples.values()]


def per_pass(ops: list[OpResult], value, combine=sum) -> float:
    """One pass's worth of ``value(op)``: the operations' medians,
    combined (summed by default). A run's last pass may be cut short,
    so whole-pass sums are not used."""
    medians = op_medians(ops, value)
    return float(combine(medians)) if medians else 0.0


def layer_metrics(ops: list[OpResult], stats: dict[str, eventlog.GroupStats],
                  sink_mb: float, sink_files: int, input_mb: float) -> dict[str, float]:
    """The per-layer numbers of the timed passes."""
    out: dict[str, float] = {}

    def g(group: str) -> eventlog.GroupStats:
        return stats.get(group, eventlog.GroupStats())

    for mod in QUERY_MODULES:
        mine = [op for op in ops if op.module == mod]
        out[f"{mod}.build_s"] = per_pass(mine, lambda o: o.phases.get("build", 0.0))
        out[f"{mod}.build_jobs"] = per_pass(mine, lambda o: g(o.groups[0]).jobs)
        out[f"{mod}.exec_s"] = per_pass(mine, lambda o: o.phases.get("exec", 0.0))
        out[f"{mod}.exec_jobs"] = per_pass(mine, lambda o: g(o.groups[1]).jobs)
        out[f"{mod}.stages"] = per_pass(mine, lambda o: g(o.groups[1]).stages)
        out[f"{mod}.tasks"] = per_pass(mine, lambda o: g(o.groups[1]).tasks)
    for fmt in SOURCE_FORMATS:
        mine = [op for op in ops if op.module == f"sources.{fmt}"]
        out[f"sources.{fmt}.parse_s"] = per_pass(mine, lambda o: o.phases.get("parse", 0.0))
        out[f"sources.{fmt}.scan_s"] = per_pass(mine, lambda o: o.phases.get("scan", 0.0))
        out[f"sources.{fmt}.tables"] = per_pass(mine, lambda o: o.counts.get("tables", 0.0))
    for fmt in SINK_FORMATS:
        out[f"sinks.{fmt}.write_s"] = per_pass(ops, lambda o: o.counts.get(f"write.{fmt}", 0.0))
    out["sinks.bytes_written_mb"] = sink_mb
    out["sinks.files_written"] = float(sink_files)
    out["sinks.write_amp"] = sink_mb / input_mb if sink_mb else 0.0

    def op_stats(op: OpResult) -> list[eventlog.GroupStats]:
        return [g(grp) for grp in op.groups]

    for m in SPARK_METRICS:
        combine = max if m in _MAX_METRICS else sum
        out[f"spark.{m}"] = per_pass(
            ops, lambda o: combine(getattr(st, m) for st in op_stats(o)), combine
        )

    def stage_span(op: OpResult) -> float:
        return eventlog.span_s([iv for st in op_stats(op) for iv in st.stage_intervals])

    out["spark.stage_span_s"] = per_pass(ops, stage_span)
    out["driver_gap_s"] = per_pass(ops, lambda o: max(0.0, o.wall - stage_span(o)))
    out["python.sent_mb"] = per_pass(ops, lambda o: sum(st.python_sent_mb for st in op_stats(o)))
    out["python.returned_mb"] = per_pass(
        ops, lambda o: sum(st.python_returned_mb for st in op_stats(o))
    )
    return out


# --------------------------------------------------------------------------
# the run


def run(args) -> dict:
    workload = WORKLOADS[args.workload]
    trace = bool(args.trace)
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    launch_env(run_dir, trace)
    info = {"workload": args.workload, "trace": args.trace}
    start_ticks = cpu_ticks()
    # time the benchmark spends on its own work before the first timed
    # operation (input generation and hashing, output checks): it is
    # kept out of setup_s
    bench_s = 0.0

    t = time.perf_counter()
    in_dir = run_dir / "inputs"
    files: list[inputs.IngestFile] = []
    corpora = sorted({sf for _, sf in workload.ops})
    for sf in corpora:
        inputs.make_corpus(in_dir / corpus_name(sf), sf, CORPUS_SEED)
    if not workload.ops:
        files = inputs.make_ingest_set(in_dir, args.seed, workload.ingest_rows)
    hashes = inputs.file_hashes(in_dir)
    gen_s = time.perf_counter() - t
    bench_s += gen_s
    input_mb = sum((in_dir / p).stat().st_size for p in hashes) / _MB
    info.update(inputs_mb=input_mb, input_sha256=hashes, gen_s=gen_s)

    t = time.perf_counter()
    expected = json.loads((BENCH_DIR / "expected.json").read_text())
    bench_s += time.perf_counter() - t

    layers: dict[str, float] = {"inputs.gen_s": gen_s}
    t = time.perf_counter()
    from almost_any_file_to_pandas_spark.session import get_spark

    spark = get_spark()
    sc = spark.sparkContext
    jvm = sc._gateway.proc
    layers["session.start_s"] = time.perf_counter() - t
    info.update(versions(spark, args.seed))
    fns = {}
    layers["plans.load_all_s"] = 0.0
    if workload.ops:
        t = time.perf_counter()
        from almost_any_file_to_pandas_spark import plans

        plans.load_all()
        layers["plans.load_all_s"] = time.perf_counter() - t
        fns = {name: plans.QUERIES[name] for name, _ in workload.ops}

    tracer = Tracer(sc, tag=trace)
    rng = inputs.np.random.default_rng(args.seed)
    out_dir = run_dir / "outputs"
    problems: list[str] = []
    attempted = failed = 0
    names = [name for name, _ in workload.ops] or [f.name for f in files]
    corpus_of = {name: corpus_name(sf) for name, sf in workload.ops}
    by_name = {f.name: f for f in files}

    def one_pass(pass_no: int, collect: bool, deadline: float) -> list[OpResult]:
        """The operations in a seeded order, up to ``deadline``."""
        nonlocal attempted, failed, bench_s
        root = tracer.open(f"pass/{pass_no}", None)
        done = []
        for k in rng.permutation(len(names)):
            if time.perf_counter() >= deadline:
                break
            name = names[int(k)]
            ticks = cpu_ticks()
            if workload.ops:
                corpus = corpus_of[name]
                op, (cols, rows) = run_query(
                    spark, tracer, fns[name], name, str(in_dir / corpus), pass_no, root,
                    collect,
                )
                t = time.perf_counter()
                op.steal = steal_share(ticks, cpu_ticks())
                diffs = _check_query(expected, name, corpus, cols, rows, hashes) \
                    if collect and not op.failed else []
            else:
                op, tables = run_ingest(
                    spark, tracer, by_name[name], in_dir, out_dir, pass_no, root, collect
                )
                t = time.perf_counter()
                op.steal = steal_share(ticks, cpu_ticks())
                diffs = check_ingest(by_name[name], tables) if collect and not op.failed else []
            bench_s += time.perf_counter() - t
            problems.extend(diffs)
            attempted += 1
            failed += int(op.failed or bool(diffs))
            if op.failed:
                problems.append(f"{name}: failed in pass {pass_no}")
            done.append(op)
        tracer.close(root)
        return done

    t = time.perf_counter()
    bench_before = bench_s
    warm = one_pass(-1, collect=True, deadline=float("inf"))
    layers["warmup_s"] = time.perf_counter() - t - (bench_s - bench_before)
    setup_s = time.perf_counter() - _T0 - bench_s
    setup_steal = steal_share(start_ticks, cpu_ticks())

    # the first timed pass always runs whole, so that every operation
    # has a sample; later ones stop at the deadline
    t = time.perf_counter()
    deadline = t + args.seconds
    timed = one_pass(0, collect=False, deadline=float("inf"))
    pass_no = 1
    while time.perf_counter() < deadline:
        timed += one_pass(pass_no, collect=False, deadline=deadline)
        pass_no += 1
    measured_s = time.perf_counter() - t
    layers["peak_rss_mb"] = peak_rss_mb(jvm.pid)
    sink_mb, sink_files = output_stats(out_dir) if files else (0.0, 0)
    self_times = tracer.self_times()

    spark.stop()
    _stop_jvm(jvm)

    if files:
        diffs = check_outputs(files, out_dir)
        problems.extend(diffs)
        failed += len(diffs)
    stats = {}
    if trace:
        stats = eventlog.read_groups(eventlog.event_log_file(run_dir / "eventlog"))
    layers.update(layer_metrics(timed, stats, sink_mb, sink_files, input_mb))
    # one pass: every operation at its median latency
    wall_s = per_pass(timed, lambda o: o.wall)
    layers["host.steal"] = statistics.mean(op.steal for op in timed)
    layers["host.setup_steal"] = setup_steal
    layers["trace.wall_s"] = wall_s
    layers["fail_ratio"] = failed / attempted
    layers["input_mb_per_s"] = input_mb / wall_s if files else 0.0
    # quantiles over the operations, each at its median latency, so that
    # an operation weighs the same however many samples it got
    op_walls = op_medians(timed, lambda o: o.wall)
    layers["op_p50_s"] = _quantile(op_walls, 0.5)
    raw = {"setup_s": setup_s, "wall_s": wall_s, "op_p90_s": _quantile(op_walls, 0.9)}
    scaled_walls = op_medians(timed, lambda o: o.wall * (1.0 - o.steal))
    e2e = {
        "setup_s": setup_s * (1.0 - setup_steal),
        "wall_s": sum(scaled_walls),
        "op_p90_s": _quantile(scaled_walls, 0.9),
    }
    detail = {
        **info,
        "passes": pass_no,
        "measured_s": measured_s,
        "timed_ops": len(timed),
        "problems": problems,
        "end_to_end": e2e,
        "end_to_end_raw": raw,
        "per_layer": layers,
        "self_s": self_times,
        "ops": [_op_record(op, stats) for op in timed],
        "warmup_ops": [_op_record(op, stats) for op in warm],
        "spans": [vars(s) for s in tracer.spans] if trace else [],
    }
    shutil.rmtree(run_dir, ignore_errors=True)
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    path = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    path.write_text(json.dumps(detail, indent=1))
    print(f"perfbench: {args.workload} seed={args.seed} passes={pass_no} "
          f"timed_ops={len(timed)} gen_s={gen_s:.3f} inputs_mb={input_mb:.2f} "
          f"steal={layers['host.steal']:.3f} detail={path.relative_to(ROOT)}")
    for p in problems:
        print(f"perfbench: problem: {p}")
    if trace:
        _print_shares(timed, layers)
        _print_overhead(args.workload, e2e["wall_s"])
    units = dict(END_TO_END) if not trace else dict(per_layer_names())
    values = e2e if not trace else layers
    return {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


def corpus_name(sf: float) -> str:
    return f"sf{sf:g}"


def _op_record(op: OpResult, stats: dict[str, eventlog.GroupStats]) -> dict:
    """One operation's timings and, when traced, its Spark numbers per phase."""
    rec = {"pass": op.pass_no, "op": op.op, "module": op.module, "wall_s": op.wall,
           "steal": op.steal, "failed": op.failed}
    rec.update({f"{k}_s": v for k, v in op.phases.items()})
    for grp in op.groups:
        if grp in stats:
            phase = grp.rsplit(":", 1)[-1]
            rec.update({f"{phase}.{k}": v for k, v in _stats_dict(stats[grp]).items()})
    return rec


def _stats_dict(st: eventlog.GroupStats) -> dict[str, float]:
    d = dict(vars(st))
    d.pop("stage_intervals")
    d["stage_span_s"] = eventlog.span_s(st.stage_intervals)
    return d


def _check_query(expected: dict, name: str, corpus: str, cols, rows,
                 hashes: dict[str, str]) -> list[str]:
    mine = {k.split("/", 1)[1]: v for k, v in hashes.items() if k.startswith(corpus + "/")}
    if expected["corpus"][corpus]["input_sha256"] != mine:
        return [f"{name}: the generated {corpus} corpus differs from the one "
                "expected.json was made on; rerun perfbench/make_expected.py"]
    want = expected["ops"][name]["fingerprint"]
    return [f"{name}: {d}" for d in check.compare(want, check.fingerprint(cols, rows))]


def _stop_jvm(proc) -> None:
    """End the gateway JVM (it exits when its stdin closes) and wait."""
    try:
        proc.stdin.close()
        proc.wait(timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        proc.kill()
        proc.wait(timeout=30)


def _print_shares(timed: list[OpResult], layers: dict[str, float]) -> None:
    """Where one pass's operation wall goes, by call phase (build and
    exec, or parse, scan and write), and the time no Spark stage was
    running (construction, planning, scheduling, driver collects)."""
    wall = layers["trace.wall_s"]
    phases = dict.fromkeys(ph for op in timed for ph in op.phases)
    shares = [f"{ph} {per_pass(timed, lambda o: o.phases.get(ph, 0.0)) / wall:.1%}"
              for ph in phases]
    print(f"perfbench: share of pass wall {wall:.3f} s: {', '.join(shares)}; "
          f"Spark stages running {layers['spark.stage_span_s'] / wall:.1%}, "
          f"driver gap {layers['driver_gap_s'] / wall:.1%}")


def _print_overhead(workload: str, traced_wall: float) -> None:
    """Tracing overhead against the untraced runs of this workload kept
    in ``.perfbench/results``, both scaled for steal."""
    walls = []
    for p in (WORK / "results").glob(f"{workload}-seed*-trace0.json"):
        walls.append(json.loads(p.read_text())["end_to_end"]["wall_s"])
    if walls:
        base = statistics.median(walls)
        print(f"perfbench: tracing overhead: traced wall_s {traced_wall:.3f} - "
              f"untraced median {base:.3f} over {len(walls)} runs = "
              f"{traced_wall - base:+.3f} s ({(traced_wall / base - 1) * 100:+.1f}%)")


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
