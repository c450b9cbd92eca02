"""Per-layer metrics and the per-job ledger of a traced run.

Every workload reports every metric; a layer its jobs never reach
reports 0.  See NOTES.md for the end-to-end metric each one should move.
"""

from __future__ import annotations

import os
import statistics
import time

from tracing import write_json
from workloads import Connector

UNITS = {
    "session.table_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "operators.exec_s": "s", "operators.exec_jobs": "count",
    "spark.plan_s": "s", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.python_s": "s",
    "spark.stage_skew": "ratio",
    "aggpipe.compile_s": "s",
    "sources.load_s": "s", "sources.plan_s": "s", "sources.partitions": "count",
    "sources.rows_out": "count", "sources.scan_efficiency": "ratio",
    "store.segments": "count", "store.segments_pruned_frac": "ratio",
    "store.bytes_ratio": "ratio",
    "bsonio.encode_docs_per_s": "1/s", "bsonio.decode_docs_per_s": "1/s",
    "writers.insert_s": "s", "writers.journal_s": "s", "writers.replay_s": "s",
    "writers.mutations": "count", "writers.matched": "count",
    "writers.upserted": "count",
    "op.insert_s": "s", "op.scan_s": "s", "op.pushdown_scan_s": "s",
    "op.aggregate_s": "s", "op.upsert_s": "s",
    "host.steal_frac": "ratio", "host.busy_frac": "ratio",
    "host.load_1m_start": "load",
}
_SPARK = ("stages", "tasks", "shuffle_write_bytes", "executor_run_s",
          "executor_cpu_s", "gc_s", "python_s")


def span_total(tr, name: str, under: str | None = None) -> float:
    """Summed duration of the outermost spans called ``name`` (a nested
    span of the same name, e.g. a recursive aggregate(), is inside its
    outer one already), counting only spans below a span called ``under``
    when given."""
    by_id = {s.id: s for s in tr.spans}

    def ancestors(s):
        p = s.parent
        while p is not None:
            yield by_id[p].name
            p = by_id[p].parent

    return sum(s.end - s.start for s in tr.spans if s.name == name
               and name not in ancestors(s)
               and (under is None or under in ancestors(s)))


def _median_or_0(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def codec_probe(wl, tr) -> dict:
    """Single-threaded codec rates on the last pass's written segments,
    plus per-segment document counts."""
    from mongo_hadoop_spark import bsonio
    from mongo_hadoop_spark.store import DocumentStore

    coll = DocumentStore(wl.store_path).collection(f"docs_{wl.passes - 1}")
    per_seg, docs = {}, []
    t0 = time.perf_counter()
    with tr.span("bsonio.decode_file_iter"):
        for seg in coll.segments():
            with bsonio.open_bson(seg) as f:
                got = list(bsonio.decode_file_iter(f))
            per_seg[seg] = len(got)
            docs.extend(got)
    decode_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    with tr.span("bsonio.encode"):
        for d in docs:
            bsonio.encode(d)
    encode_s = time.perf_counter() - t0
    disk = sum(os.path.getsize(os.path.join(coll.path, f))
               for f in os.listdir(coll.path))
    return {"per_seg": per_seg, "decode": len(docs) / decode_s,
            "encode": len(docs) / encode_s, "bytes_ratio": disk / wl.truth.bson_bytes}


def connector_layers(wl, tr, results) -> dict:
    probe = codec_probe(wl, tr)
    segs = probe["per_seg"]
    last = [s for s in tr.spans if s.name == "sources.partitions"
            and s.attrs.get("segments") and set(s.attrs["segments"]) <= set(segs)]
    full = [s for s in last if not s.attrs["pushdown"]]
    push = [s for s in last if s.attrs["pushdown"]]
    last_pass = str(wl.passes - 1)
    push_rows = [r.observed or 0 for r in results if r.name == "pushdown_scan"
                 and r.group.split(":")[1] == last_pass]
    scanned = sum(segs[g] for s in push for g in s.attrs["segments"])
    upserts = [r.observed for r in results if r.name == "upsert" and r.observed]
    replay = span_total(tr, "writers.apply_pending_updates")
    return {
        "sources.load_s": span_total(tr, "sources.load", under="job"),
        "sources.plan_s": span_total(tr, "sources.partitions"),
        "sources.partitions": _median_or_0(
            s.attrs["partitions"] for s in full),
        "sources.rows_out": sum(
            r.observed[0] if r.name == "scan" else r.observed
            for r in results if r.name in ("scan", "pushdown_scan")
            and r.observed is not None),
        "sources.scan_efficiency": sum(push_rows) / scanned if scanned else 0.0,
        "store.segments": len(segs),
        "store.segments_pruned_frac": _median_or_0(
            1 - len(s.attrs["segments"]) / len(segs) for s in push),
        "store.bytes_ratio": probe["bytes_ratio"],
        "bsonio.encode_docs_per_s": probe["encode"],
        "bsonio.decode_docs_per_s": probe["decode"],
        "writers.insert_s": span_total(tr, "writers.insert"),
        "writers.journal_s": span_total(tr, "writers.write_documents") - replay,
        "writers.replay_s": replay,
        "writers.mutations": sum(u["applied"] for u in upserts),
        "writers.matched": sum(u["matched"] for u in upserts),
        "writers.upserted": sum(u["upserted"] for u in upserts),
        **{f"op.{op}_s": _median_or_0(r.seconds for r in results if r.name == op)
           for op in ("insert", "scan", "pushdown_scan", "aggregate", "upsert")},
    }


def ledger(tr, results) -> dict:
    """Per job name: build/execute seconds and job counts, stages, tasks
    and shuffle bytes, summed over the run's passes."""
    by_job = {s.attrs["group"]: s.id for s in tr.spans if s.name == "job"}
    kids: dict[int, list] = {}
    for s in tr.spans:
        kids.setdefault(s.parent, []).append(s)
    out: dict[str, dict] = {}
    for r in results:
        row = out.setdefault(r.name, {
            "runs": 0, "wall_s": 0.0, "build_s": 0.0, "exec_s": 0.0,
            "build_jobs": 0, "exec_jobs": 0, "stages": 0, "tasks": 0,
            "shuffle_write_bytes": 0})
        spans = kids.get(by_job.get(r.group), [])
        build = sum(s.end - s.start for s in spans if s.name == "operators.build")
        execute = sum(s.end - s.start for s in spans if s.name == "operators.exec")
        row["runs"] += 1
        row["wall_s"] += r.seconds
        row["build_s"] += build
        # a connector operation has no build/exec spans: all of it executes
        row["exec_s"] += execute if execute else r.seconds - build
        for ph in ("build", "exec"):
            st = r.spark.get(ph, {})
            row[f"{ph}_jobs"] += st.get("jobs", 0)
            for k in ("stages", "tasks", "shuffle_write_bytes"):
                row[k] += st.get(k, 0)
    return out


def report(out: dict, root: str) -> tuple[dict, dict, str]:
    wl, tr, results = out["workload"], out["tracer"], out["results"]
    groups = [st for r in results for st in r.spark.values()]
    m = {k: 0.0 for k in UNITS}
    m.update({
        "session.table_s": span_total(tr, "session.table"),
        "operators.build_s": span_total(tr, "operators.build"),
        "operators.exec_s": span_total(tr, "operators.exec"),
        "operators.build_jobs": sum(r.spark["build"]["jobs"] for r in results
                                    if "build" in r.spark),
        "operators.exec_jobs": sum(r.spark["exec"]["jobs"] for r in results
                                   if "exec" in r.spark),
        "spark.plan_s": span_total(tr, "spark.plan"),
        **{f"spark.{k}": sum(g[k] for g in groups) for k in _SPARK},
        "spark.stage_skew": _median_or_0(
            r.spark["exec"]["stage_skew"] for r in results
            if r.spark.get("exec", {}).get("stages")),
        "aggpipe.compile_s": span_total(tr, "aggpipe.aggregate"),
        **{k: v for k, v in out["host"].items() if k in UNITS},
    })
    if isinstance(wl, Connector):
        m.update(connector_layers(wl, tr, results))
    path = os.path.join(root, ".perfbench", "out", f"spans-{tr.run_id}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tr.dump(path)
    led = ledger(tr, results)
    write_json(path.replace("spans-", "ledger-").replace(".jsonl", ".json"), led)
    return m, led, path
