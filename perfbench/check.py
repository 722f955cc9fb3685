"""Result fingerprints and the tolerant comparator.

A fingerprint keeps a result's exact parts exact and its doubles
comparable to a relative tolerance, so a change in summation order (the
last digits of a double) passes while a changed row fails:

* ``columns`` and ``rows``: the sorted column names and the row count;
* ``exact``: sha256 over the rows' non-double cells (ints, strings,
  dates, lists), plus which doubles are null or NaN, rows sorted;
* ``doubles``: per double column, the column sum within each of up to
  ``GROUPS`` row groups, a row's group chosen by a hash of its exact
  cells. Each group sum is compared to ``REL_TOL``.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

GROUPS = 64
REL_TOL = 1e-9
ABS_TOL = 1e-6


def _is_double(v) -> bool:
    return isinstance(v, (float, decimal.Decimal)) and not isinstance(v, bool)


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if _is_double(v):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(round(f, 6))
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def fingerprint(columns: list[str], rows: list) -> dict:
    """Fingerprint of a result given as column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    double_cols = [
        i
        for i in order
        if any(_is_double(r[i]) for r in rows)
        and all(r[i] is None or _is_double(r[i]) for r in rows)
    ]
    exact_cols = [i for i in order if i not in double_cols]
    keys, sums = [], {columns[i]: {} for i in double_cols}
    for r in rows:
        present = [r[i] is not None and not math.isnan(float(r[i])) for i in double_cols]
        key = "\x1f".join(
            [_canon(r[i]) for i in exact_cols] + ["1" if p else "0" for p in present]
        )
        keys.append(key)
        group = str(int(hashlib.sha256(key.encode()).hexdigest()[:8], 16) % GROUPS)
        for i, p in zip(double_cols, present):
            if p:
                col = sums[columns[i]]
                col[group] = col.get(group, 0.0) + float(r[i])
    keys.sort()
    return {
        "columns": sorted(columns),
        "rows": len(rows),
        "exact": hashlib.sha256("\n".join(keys).encode()).hexdigest(),
        "doubles": {c: dict(sorted(g.items())) for c, g in sums.items()},
    }


def compare(expected: dict, actual: dict) -> list[str]:
    """Differences between two fingerprints; empty when they match."""
    diffs = []
    for key in ("columns", "rows", "exact"):
        if expected[key] != actual[key]:
            diffs.append(f"{key}: expected {expected[key]!r}, got {actual[key]!r}")
    if set(expected["doubles"]) != set(actual["doubles"]):
        diffs.append(
            f"double columns: expected {sorted(expected['doubles'])}, "
            f"got {sorted(actual['doubles'])}"
        )
        return diffs
    for col, exp_groups in expected["doubles"].items():
        act_groups = actual["doubles"][col]
        for g in sorted(set(exp_groups) | set(act_groups)):
            a, b = exp_groups.get(g, 0.0), act_groups.get(g, 0.0)
            if abs(a - b) > REL_TOL * (abs(a) + abs(b)) + ABS_TOL:
                diffs.append(f"{col} group {g}: expected {a!r}, got {b!r}")
                break
    return diffs
