"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py [analytics corpus connector]

Runs each workload once, traced, at its smallest size (sf0.001 tables;
1,500 generated documents), one pass, and checks that:

- every end-to-end and per-layer metric named in BENCHMARK.json is
  emitted as a number, with the unit BENCHMARK.json gives it;
- every child span lies within its parent, self times are >= 0, and the
  self times under each job add up to that job's wall time;
- the outputs pass their checks, and a deliberately wrong expected
  result is reported as a failure.

Exit code 0 means every check passed.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import layers  # noqa: E402
import run  # noqa: E402


def wrong_expectation(workload: str, out: dict) -> dict:
    """Expected results that today's correct output cannot match: one
    document too many, or every oracle result minus its last row."""
    wl = out["workload"]
    if workload == "connector":
        return {"insert": wl.truth.n_docs + 1}
    return {name: (lambda want: want.iloc[:-1]) for name in wl.order}


def check_spans(tr, results) -> list[str]:
    errs = []
    by_id = {s.id: s for s in tr.spans}
    selfs = tr.self_times()
    for s in tr.spans:
        if s.parent is not None:
            p = by_id[s.parent]
            if s.start < p.start or s.end > p.end:
                errs.append(f"span {s.name}#{s.id} outside parent {p.name}#{p.id}")
        if selfs[s.id] < 0:
            errs.append(f"span {s.name}#{s.id} self time {selfs[s.id]} < 0")
    kids: dict = {}
    for s in tr.spans:
        kids.setdefault(s.parent, []).append(s.id)
    for s in tr.spans:
        if s.name != "job":
            continue
        stack, total = [s.id], 0.0
        while stack:
            i = stack.pop()
            total += selfs[i]
            stack.extend(kids.get(i, []))
        r = next(r for r in results if r.group == s.attrs["group"])
        if not math.isclose(total, s.end - s.start, abs_tol=1e-6) \
                or r.seconds < s.end - s.start:
            errs.append(f"job {r.group}: self times {total} vs wall {r.seconds}")
    return errs


def check_metrics(metrics: dict, declared: list[dict]) -> list[str]:
    errs = []
    for d in declared:
        if d["name"] not in metrics:
            errs.append(f"metric {d['name']} missing")
            continue
        m = metrics[d["name"]]
        if not isinstance(m["value"], (int, float)) or m["unit"] != d["unit"]:
            errs.append(f"metric {d['name']}: {m} (want unit {d['unit']})")
    return errs


def smoke(workload: str, spec: dict, work: str) -> list[str]:
    os.makedirs(os.path.join(work, "tmp"))
    out = run.measure(workload, 1, 1, True, work, small=True)
    errs = [f"check failed: {r.group}: {r.error or 'wrong result'}"
            for r in out["results"] if r.failed]
    e2e = run.summary(out, out["metrics"], run.E2E_UNITS)["metrics"]
    per_layer, _, _ = layers.report(out, ROOT)
    layer = run.summary(out, per_layer, layers.UNITS)["metrics"]
    errs += check_metrics(e2e, spec["end_to_end"])
    errs += check_metrics(layer, spec["per_layer"])
    errs += check_spans(out["tracer"], out["results"])
    out["workload"].check(out["results"], wrong_expectation(workload, out))
    if not any(r.failed for r in out["results"]):
        errs.append("a wrong expected result was not reported as a failure")
    out["spark"].stop()
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    base = os.path.join(ROOT, ".perfbench", f"smoke-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(base, "tmp"))
    os.environ["TMPDIR"] = os.path.join(base, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={base}/tmp"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEM"] = run.DRIVER_MEM
    failures = {}
    try:
        for name in names:
            errs = smoke(name, spec, os.path.join(base, name))
            print(f"{name}: {'ok' if not errs else 'FAIL'}")
            for e in errs:
                print(f"  - {e}")
            if errs:
                failures[name] = errs
    finally:
        run.stop_jvm()
        shutil.rmtree(base, ignore_errors=True)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
