#!/usr/bin/env python
"""Fold N bench.py result files into ONE min-of-N artifact.

Why (r11 verdict, closed in r12): single-run bench totals on this box
spread ±22% with disjoint per-run outlier sets — environment weather,
not the engine.  The per-query MIN across several same-day idle runs is
the only honest cross-round number, so the round-end checklist commits
it as a first-class artifact (BENCH_IDLE_MIN_r{N}.json) that
tools/bench_compare.py reads by name like any other bench file.

Usage:
    python tools/bench_min.py BENCH_IDLE_r12.run*.json \
        > BENCH_IDLE_MIN_r12.json

The output carries the same shape bench_compare consumes ("value",
"queries", "rows", the r8 subset subtotal recomputed from the min timings)
plus provenance: every source file with its start/end loads and total.
Row counts must agree across runs (a row drift is a semantics change,
not weather) — disagreement is a hard error.
"""

from __future__ import annotations

import json
import sys


def fold(paths: list[str]) -> dict:
    runs = []
    for p in paths:
        with open(p) as fh:
            runs.append((p, json.load(fh)))
    if not runs:
        raise SystemExit("bench_min: no input files")
    base = runs[0][1]
    names = set(base.get("queries", {}))
    for p, r in runs[1:]:
        if set(r.get("queries", {})) != names:
            raise SystemExit(
                f"bench_min: {p} times a different query set than "
                f"{runs[0][0]} — min-of-N across different sets is "
                "meaningless")
    rows = {}
    for p, r in runs:
        for k, n in (r.get("rows") or {}).items():
            if k in rows and rows[k] != n:
                raise SystemExit(
                    f"bench_min: row-count drift on {k}: {rows[k]} vs "
                    f"{n} ({p}) — a semantics change, not weather")
            rows[k] = n
    mins = {k: min(r["queries"][k] for _, r in runs) for k in names}
    out = {
        "metric": "headline_queries_min_of_n_sec",
        "value": round(sum(mins.values()), 3),
        "unit": "sec",
        "queries": {k: mins[k] for k in sorted(mins)},
        "rows": {k: rows[k] for k in sorted(rows)},
        "n_runs": len(runs),
        "timing": f"per_query_min_of_{len(runs)}_runs",
        "materialize": base.get("materialize"),
        "sf": base.get("sf"),
        "n_queries": len(mins),
        "n_failed": max(r.get("n_failed", 0) for _, r in runs),
        "sources": [{"file": p,
                     "value": r.get("value"),
                     "load_avg_1m_start": r.get("load_avg_1m_start"),
                     "load_avg_1m_end": r.get("load_avg_1m_end")}
                    for p, r in runs],
    }
    # recompute the r8 subset subtotal (the BASELINE anchor) from the
    # min timings (membership comes from bench.py's own R8_SET, the same
    # source the per-run files used)
    import os
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import bench
    out["r8_subset_total_sec"] = round(
        sum(v for k, v in mins.items() if k in bench.R8_SET), 3)
    out["r8_subset_n"] = len(bench.R8_SET)
    return out


def main(argv: list[str]) -> int:
    if not argv or argv[0] in ("-h", "--help"):
        print(__doc__)
        return 0
    print(json.dumps(fold(argv), indent=1, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
