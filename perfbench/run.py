"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 12 --trace 0

Runs from the root of a checkout of the repository.  ``--trace 0``
measures the end-to-end metrics with tracing off.  ``--trace 1`` first
runs the same workload and seed untraced in a child process, then runs it
traced and reports the per-layer metrics, the per-job ledger and the
tracing overhead (traced minus untraced, per end-to-end metric).

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Everything the
run writes stays under ``.perfbench/`` in the checkout; the spans of a
traced run are written to ``.perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
DRIVER_MEM = "2g"
E2E_UNITS = {"setup_s": "s", "total_s": "s", "job_s.p50": "s",
             "job_s.tail": "s", "peak_rss_mb": "MB"}


def tail_percentile(n: int) -> int:
    """The highest whole percentile with at least 10 of ``n`` samples
    beyond it; 50 when there are fewer than 20 samples."""
    p = int(100 * (1 - 10 / n)) if n else 50
    return max(50, min(99, p))


def percentile(values: list[float], p: int) -> float:
    s = sorted(values)
    k = (len(s) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def start_spark(work: str):
    from mongo_hadoop_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size, so peak RSS does not depend on when the heap
        # happened to grow
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run_phase(wl, tr, status, run_id: str) -> list:
    from workloads import Result

    results = []
    for p in range(wl.passes):
        for k, job in enumerate(wl.jobs()):
            group = f"{run_id}:{p}:{k}:{job.name}"
            r = Result(job.name, time.perf_counter(), 0.0, group=group)
            with tr.span("job", job=job.name, group=group):
                try:
                    r.observed = job.run(tr, group)
                except Exception as exc:  # noqa: BLE001 — count it, keep going
                    r.error = f"{type(exc).__name__}: {exc}"[:500]
                    traceback.print_exc(file=sys.stderr)
            r.seconds = time.perf_counter() - r.start
            results.append(r)
            if status is not None:
                status.drain()
                r.spark = {ph: status.group(f"{group}:{ph}")
                           for ph in ("build", "exec")}
                status.mark()
        end = getattr(wl, "end_pass", None)
        if end:
            end(last=p == wl.passes - 1)
    return results


def end_to_end(results, setup_s: list[float], rss_mb: float) -> tuple[dict, dict]:
    secs = [r.seconds for r in results]
    p = tail_percentile(len(secs))
    metrics = {
        "setup_s": statistics.median(setup_s),
        "total_s": max(r.start + r.seconds for r in results)
        - min(r.start for r in results),
        "job_s.p50": statistics.median(secs),
        "job_s.tail": percentile(secs, p),
        "peak_rss_mb": rss_mb,
    }
    return metrics, {"tail_percentile": p, "n_jobs": len(secs)}


def measure(workload: str, seed: int, seconds: int, traced: bool,
            work: str, small: bool = False) -> dict:
    """Set up ``SETUP_REPS`` times, run the timed phase, check it.  Returns
    the end-to-end metrics and, when ``traced``, everything the per-layer
    report needs.

    The first set-up starts the JVM and the SparkContext; each later one
    takes the workload's next session on that context and repeats its
    table or collection set-up and warm-up.  ``setup_s`` is their
    median."""
    import tracing
    from workloads import WORKLOADS

    load_start = os.getloadavg()[0]
    cpu0 = tracing.cpu_times()
    wl = WORKLOADS[workload](seed, seconds, work, small=small)
    wl.traced = traced
    run_id = f"{workload}-{seed}-{'traced' if traced else 'untraced'}"
    tr = tracing.Tracer(run_id) if traced else tracing.NullTracer()
    if traced:
        # import every operator module first, so patch() sees their names
        from mongo_hadoop_spark import operators, session  # noqa: F401
        from mongo_hadoop_spark.plans import aggpipe
        from mongo_hadoop_spark.sinks import writers

        tr.patch(session, "table", "session.table")
        tr.patch(aggpipe, "aggregate", "aggpipe.aggregate")
        tr.patch(writers, "apply_pending_updates", "writers.apply_pending_updates")
    wl.prepare()
    setup_s, spark = [], None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with tr.span("setup", rep=rep):
            spark = start_spark(work) if spark is None else wl.next_session(spark)
            wl.setup(spark, tr)
        setup_s.append(time.perf_counter() - t0)
    status = tracing.SparkStatus(spark) if traced else None
    if status is not None:
        status.mark()
    results = run_phase(wl, tr, status, run_id)
    if traced:
        tr.unpatch()
    host = tracing.host_deltas(cpu0, tracing.cpu_times())
    rss = tracing.peak_rss_mb(tracing.jvm_pid(spark))
    t0 = time.perf_counter()
    checks = wl.check(results)
    check_s = time.perf_counter() - t0
    out = {"workload": wl, "tracer": tr, "results": results, "checks": checks,
           "spark": spark, "host": {**host, "host.load_1m_start": load_start,
                                    "host.load_1m_end": os.getloadavg()[0]}}
    out["metrics"], out["tail"] = end_to_end(results, setup_s, rss)
    out["setup_samples"], out["check_s"] = setup_s, check_s
    return out


def summary(out: dict, metrics: dict, units: dict) -> dict:
    results = out["results"]
    failed = sum(r.failed for r in results)
    return {"correct": failed == 0, "attempted": len(results), "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}


def untraced_child(args) -> dict:
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=170)
    sys.stderr.write(proc.stderr[-4000:])
    if proc.returncode != 0:
        raise RuntimeError(f"untraced run failed with code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["queries", "connector"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mongo_hadoop_spark")):
        print(f"no mongo_hadoop_spark package under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    child = untraced_child(args) if args.trace else None

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher's too, keeps its files in the run
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    try:
        out = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
        info = {"workload": args.workload, "seed": args.seed,
                "passes": out["workload"].passes, **out["tail"],
                "setup_samples_s": out["setup_samples"], "check_s": out["check_s"],
                "job_s": {r.group.split(":", 1)[1]: r.seconds for r in out["results"]},
                "host": out["host"],
                "checks": out["checks"],
                "failures": {r.group: r.error or "wrong result"
                             for r in out["results"] if r.failed}}
        print(json.dumps(info, default=str))
        if args.trace:
            import layers

            per_layer, ledger, spans_path = layers.report(out, ROOT)
            overhead = {k: out["metrics"][k] - child["metrics"][k]["value"]
                        for k in E2E_UNITS}
            print(json.dumps({"ledger": ledger}))
            print(json.dumps({"tracing_overhead": overhead,
                              "traced": out["metrics"],
                              "untraced": {k: v["value"] for k, v in
                                           child["metrics"].items()},
                              "spans": os.path.relpath(spans_path, ROOT)}))
            result = summary(out, per_layer, layers.UNITS)
            result["correct"] = result["correct"] and child["correct"]
        else:
            result = summary(out, out["metrics"], E2E_UNITS)
        out["spark"].stop()
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
