"""Physical-plan audit over the registered queries.

For each query: build the DataFrame (analysis only — fixpoint-loop
operators do execute their label rounds), inspect the executed plan,
and tabulate the shape markers that matter at 100 TB:

- join strategies (BroadcastHashJoin / SortMergeJoin / ShuffledHashJoin)
- CartesianProduct / BroadcastNestedLoopJoin (flagged UNLESS the
  query is a documented exact-baseline brute force)
- Exchange count (shuffles)
- Python stages (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas
  / BatchEvalPython) — the Arrow-batched slow path
- whole-stage-codegen spans

Writes BENCH/PLAN_AUDIT_r4.md and prints one JSON summary line.

Usage:  python tools/plan_audit.py [query ...]   (default: every query)
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# documented exact-baseline brute forces: the broadcast side is the
# tiny query/dim table, the nested loop IS the semantics (exact
# all-pairs against n_queries rows); each has a bucketed/pruned scale
# variant registered alongside.
BNLJ_ALLOWED = {
    "cosine_topk": "exact baseline; scale path = ann_lsh/ivf/pq/sq8",
    "hard_negatives": "exact anti-label baseline over broadcast anchors",
    "embedding_neardup_exact": "exact baseline; scale path = _lsh",
    "knn_sites": "cell-ring candidate join; tiny site table broadcast",
    "point_probe": "footprint-interval join on a 32-row site table",
    "point_probe_bilinear": "same 32-row site footprint join as point_probe",
    "geom_distance": "near-pair candidates via padded-envelope join",
    "rasterize_rows": "broadcast-DIM envelope join (tiles stream); "
    "10^12-scale path = covering-cell equi-join (rasterize.py docstring)",
    "zonal_stats": "same broadcast-dim envelope shape as rasterize",
}

# a BNLJ/cross whose build side is a 1-row global aggregate (corpus
# stats like avgdl / register unions) is O(n) by construction —
# detected via the IdentityBroadcastMode exchange Spark uses for it
SCALAR_BUILD = re.compile(
    r"BroadcastNestedLoopJoin[\s\S]{0,2000}?"
    r"(IdentityBroadcastMode|HashAggregate\(keys=\[\])"
)

MARKERS = {
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "shj": "ShuffledHashJoin",
    "cart": "CartesianProduct",
    "bnlj": "BroadcastNestedLoopJoin",
    "exch": "Exchange",
    "arrow": "ArrowEvalPython",
    "pyeval": "BatchEvalPython",
    "mip": "MapInPandas",
    "fmgp": "FlatMapGroupsInPandas",
}


def audit(names=None):
    import __spark_entry__ as entrymod
    from check_oracle import SF_DIR
    from gdal_spark.session import get_spark

    spark = get_spark("plan_audit", shuffle_partitions=32)
    qs = entrymod.queries()
    names = names or list(qs)
    rows = []
    flagged = []
    for name in names:
        try:
            df = qs[name](spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # pragma: no cover
            rows.append((name, {"error": str(exc)[:80]}))
            flagged.append((name, "build-error"))
            continue
        counts = {k: plan.count(v) for k, v in MARKERS.items()}
        counts["codegen"] = len(re.findall(r"\*\(\d+\)", plan))
        rows.append((name, counts))
        scalar_ok = bool(counts["bnlj"]) and bool(SCALAR_BUILD.search(plan))
        counts["scalar_bcast"] = scalar_ok
        if (
            (counts["cart"] or counts["bnlj"])
            and name not in BNLJ_ALLOWED
            and not scalar_ok
        ):
            flagged.append((name, "cartesian/BNLJ outside allowlist"))
    spark.stop()

    md = Path(__file__).resolve().parent.parent / "BENCH"
    md.mkdir(exist_ok=True)
    lines = [
        "# Physical-plan audit\n",
        f"{len(names)} queries audited (pass names or default to every query).\n",
        "Markers per executed plan; BNLJ/cartesian allowed ONLY for the",
        "documented exact baselines (each has a registered scale path).\n",
        "| query | BHJ | SMJ | SHJ | cart | BNLJ | shuffles | py stages | codegen spans |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    for name, c in rows:
        if "error" in c:
            lines.append(f"| {name} | build-error: {c['error']} |")
            continue
        py = c["arrow"] + c["pyeval"] + c["mip"] + c["fmgp"]
        if (c["cart"] or c["bnlj"]) and name in BNLJ_ALLOWED:
            mark = f" (allowed: {BNLJ_ALLOWED[name]})"
        elif c["bnlj"] and c.get("scalar_bcast"):
            mark = " (allowed: 1-row global-aggregate broadcast)"
        elif c["cart"] or c["bnlj"]:
            mark = " ⚠"
        else:
            mark = ""
        lines.append(
            f"| {name}{mark} | {c['bhj']} | {c['smj']} | {c['shj']} | "
            f"{c['cart']} | {c['bnlj']} | {c['exch']} | {py} | {c['codegen']} |"
        )
    if flagged:
        lines.append("\n## FLAGGED\n")
        for name, why in flagged:
            lines.append(f"- {name}: {why}")
    else:
        lines.append(
            "\nNo query outside the exact-baseline allowlist contains a "
            "CartesianProduct or BroadcastNestedLoopJoin."
        )
    (md / "PLAN_AUDIT_r4.md").write_text("\n".join(lines) + "\n")
    print(json.dumps({
        "audited": len(rows),
        "flagged": [n for n, _ in flagged],
    }))
    return flagged


if __name__ == "__main__":
    audit(sys.argv[1:] or None)
