"""Generate the per-query driver-verification table from the
CORRECTNESS_r*.json files (the r4 verdict's task 8: machine-generated,
no hand-maintained counts).

Writes COVERAGE_DRIVER.md: one row per registered query with the last
round it was driver-green (rows+schema+hash), or `local-gate` if it
has only ever been verified by tools/check_oracle.py.

Usage: python tools/driver_green.py
"""

from __future__ import annotations

import glob
import importlib.util
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_registry() -> list[str]:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    spec = importlib.util.spec_from_file_location(
        "se", os.path.join(ROOT, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return list(m._all_queries())


def tally(paths) -> tuple[dict[str, int], dict[str, int]]:
    """(green, attempted) over CORRECTNESS_r<N>.json ``paths``: per
    query, the last round whose record matched rows, schema and value
    hash (a record without ``hash_match`` is not green), and the last
    round that recorded it at all."""
    green: dict[str, int] = {}
    attempted: dict[str, int] = {}
    for path in paths:
        rnd = int(path.rsplit("_r", 1)[1].split(".")[0])
        with open(path) as fh:
            data = json.load(fh)
        for q, rec in data.items():
            attempted[q] = max(attempted.get(q, 0), rnd)
            if (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match")
            ):
                green[q] = max(green.get(q, 0), rnd)
    return green, attempted


def render() -> str:
    """The COVERAGE_DRIVER.md text for the live registry and the
    committed CORRECTNESS_r*.json records."""
    green, attempted = tally(
        sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    )
    queries = load_registry()
    stale = [q for q in green if q not in queries]
    if stale:
        print(f"WARNING: {len(stale)} recorded queries no longer registered: "
              f"{stale[:10]}", file=sys.stderr)
    lines = [
        "# COVERAGE_DRIVER — per-query driver-verification status",
        "",
        "Generated by `python tools/driver_green.py` from the",
        "`CORRECTNESS_r*.json` driver records against the live registry —",
        "do not edit by hand.",
        "",
        f"- registered queries: {len(queries)}",
        f"- driver-green at least once: "
        f"{sum(1 for q in queries if q in green)}",
        f"- local-gate only (tools/check_oracle.py): "
        f"{sum(1 for q in queries if q not in green)}",
        "",
        "| query | last driver-green | note |",
        "|---|---|---|",
    ]
    for q in sorted(queries):
        if q in green:
            lines.append(f"| {q} | r{green[q]} | |")
        elif q in attempted:
            lines.append(
                f"| {q} | — | attempted r{attempted[q]}, not green |"
            )
        else:
            lines.append(f"| {q} | local-gate | |")
    return "\n".join(lines) + "\n"


def main() -> int:
    out = os.path.join(ROOT, "COVERAGE_DRIVER.md")
    with open(out, "w") as fh:
        fh.write(render())
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
