"""Compare two benchmark result files layer by layer.

Usage (from the repository root):

    python3 perfbench/diff.py BEFORE.json AFTER.json [--top N]

The files are the ones a run writes to ``.perfbench/results/``; traced
runs (``--trace 1``) carry the per-layer and per-operation numbers. The
report lists the end-to-end metrics, then the per-layer metrics and the
per-operation medians whose values differ, largest change first, so a
change can show which layer its saving or cost sits in.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from pathlib import Path


def op_medians(result: dict) -> dict[str, float]:
    """Median over timed passes of every numeric per-operation field."""
    values: dict[str, list[float]] = {}
    for op in result.get("ops", []):
        for key, v in op.items():
            if isinstance(v, (int, float)) and not isinstance(v, bool) and key != "pass":
                values.setdefault(f"{op['op']}.{key}", []).append(float(v))
    return {k: statistics.median(v) for k, v in values.items()}


def rows(before: dict[str, float], after: dict[str, float]):
    """``(name, before, after, delta)`` for names whose values differ."""
    out = []
    for name in sorted(set(before) | set(after)):
        a, b = before.get(name, 0.0), after.get(name, 0.0)
        if a != b:
            out.append((name, a, b, b - a))
    out.sort(key=lambda r: -abs(r[3]))
    return out


def _print(title: str, table, top: int) -> None:
    print(f"\n{title}")
    if not table:
        print("  (no difference)")
    for name, a, b, d in table[:top]:
        rel = f"{d / a * 100:+7.1f}%" if a else "      -"
        print(f"  {name:<58} {a:>12.4f} {b:>12.4f} {d:>+12.4f} {rel}")


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("before", type=Path)
    parser.add_argument("after", type=Path)
    parser.add_argument("--top", type=int, default=40)
    args = parser.parse_args(argv)
    a, b = (json.loads(p.read_text()) for p in (args.before, args.after))
    if a["workload"] != b["workload"]:
        print(f"different workloads: {a['workload']} vs {b['workload']}", file=sys.stderr)
        return 2
    print(f"workload {a['workload']}: {args.before} -> {args.after}")
    print(f"{'':<60} {'before':>12} {'after':>12} {'delta':>12}")
    _print("end to end", rows(a["end_to_end"], b["end_to_end"]), args.top)
    _print("per layer", rows(a["per_layer"], b["per_layer"]), args.top)
    _print("self time per span kind (s, whole run)", rows(a["self_s"], b["self_s"]), args.top)
    _print("per operation (median over timed passes)", rows(op_medians(a), op_medians(b)),
           args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
