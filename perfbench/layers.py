"""Per-layer metrics for a traced run.

Spans come from two places. The benchmark records pass -> key ->
{call, collect} around its calls into sparkgraft (``run.py``). Spark's
JSON event log gives the jobs, stages, tasks, SQL metrics and streaming
progress beneath them. A job belongs to the key whose wall interval holds
its submission time: keys run one at a time, so this also catches
micro-batch jobs, which carry the stream's run id instead of a job group.
A stream's progress events belong to the key that started the stream.

Every metric is per timed pass (sums over the timed passes divided by
their count), except the setup spans, the stored-bytes state after the
last pass and the batch-duration percentiles.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics
from datetime import datetime

MODULES = ("aggregates", "joins", "sorts", "windows", "textops", "vectorops",
           "udfs", "avroio", "multimodal", "scans", "streaming")
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch",
                 "walCommit", "commitOffsets")
PYWORKER_SQL = {
    "time to start Python workers": "pyworker.start_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.run_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
# SQL metric types (SQLMetrics) -> factor to seconds; other types are counts/bytes
TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in output order."""
    u = {"session.start_s": "s", "registry.load_s": "s"}
    for m in MODULES:
        u[f"{m}.call_s"] = "s"
        u[f"{m}.collect_s"] = "s"
    u.update({
        "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
        "scheduler.deserialize_s": "s", "scheduler.driver_gap_s": "s",
        "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
        "executor.slot_busy_frac": "fraction",
        "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
        "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
        "scan.input_bytes": "bytes", "scan.input_rows": "rows",
        "arrow.rows": "rows", "arrow.bytes": "bytes",
        "pyworker.start_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
        "pyworker.bytes_sent": "bytes", "pyworker.bytes_returned": "bytes",
        "streaming.queries": "count", "streaming.batches": "count", "streaming.start_s": "s",
    })
    for p in STREAM_PHASES:
        u[f"streaming.{p}_ms"] = "ms"
    u.update({
        "streaming.input_rows": "rows", "streaming.batch_p50_ms": "ms",
        "streaming.batch_p75_ms": "ms",
        "scans.files_stored": "count", "scans.bytes_stored": "bytes", "scans.space_amp": "ratio",
        "sink.output_bytes": "bytes", "sink.output_rows": "rows",
        "jvm.peak_rss_mb": "MB", "bench.failed_frac": "fraction", "trace.pass_s": "s",
    })
    return u


def module_of(fn) -> str:
    """Layer name of a registered query: its sparkgraft submodule."""
    parts = fn.__module__.split(".")
    return parts[1] if len(parts) > 1 and parts[0] == "sparkgraft" else "other"


def read_events(evdir: str):
    """Yield the event-log records under ``evdir`` in write order
    (Spark 4 rolls the log into ``eventlog_v2_*/events_<n>_*`` files)."""
    files = [f for f in glob.glob(os.path.join(evdir, "**", "*"), recursive=True)
             if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-"))]

    def order(path: str) -> tuple[int, str]:
        base = os.path.basename(path)
        idx = base.split("_")[1] if base.startswith("events_") else "0"
        return (int(idx) if idx.isdigit() else 0, base)

    for path in sorted(files, key=order):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                yield json.loads(line)


def _iso_ms(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp() * 1000.0


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def _percentile(values: list[float], q: int) -> float:
    """q-th percentile, interpolated between samples; 0 with no samples."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class _Attributor:
    """Maps an epoch-ms instant to the key span (index) that contains it."""

    def __init__(self, spans: list[dict]):
        self.spans = sorted(spans, key=lambda s: s["start"])
        self.starts = [s["start"] * 1000.0 for s in self.spans]

    def find(self, ms: float) -> dict | None:
        i = bisect.bisect_right(self.starts, ms) - 1
        if i >= 0 and ms <= self.spans[i]["end"] * 1000.0:
            return self.spans[i]
        return None


def compute(evdir: str, spans: list[dict], timed_pass_s: list[float], cores: int,
            extra: dict[str, float]) -> dict[str, float]:
    """Per-layer metrics of one traced run.

    ``spans``: one dict per key execution with ``timed`` (False in the
    warm-up passes), ``key``, ``module``, epoch-second ``start``/``call_end``/``end`` and
    ``rows``. ``timed_pass_s``: wall time of each timed pass. ``extra``
    carries the values measured outside the event log (setup spans, stored
    bytes, failure share, ``trace.pass_s``).
    """
    n_pass = max(1, len(timed_pass_s))
    attr = _Attributor(spans)
    out = dict.fromkeys(units(), 0.0)
    out.update(extra)

    for s in spans:
        if s["timed"] and s["module"] in MODULES:
            out[f"{s['module']}.call_s"] += s["call_end"] - s["start"]
            out[f"{s['module']}.collect_s"] += s["end"] - s["call_end"]
        if s["timed"]:
            out["arrow.rows"] += s["rows"]

    jobs: dict[int, dict] = {}  # job id -> {span, submit, end, collect}
    stage_job: dict[int, dict] = {}
    acc_type: dict[int, str] = {}
    stream_start: dict[str, float] = {}  # run id -> start, for streams a timed key began
    first_batch: dict[str, float] = {}
    batch_ms: list[float] = []

    def walk_plan(node: dict) -> None:
        for m in node.get("metrics", []):
            acc_type[m["accumulatorId"]] = m.get("metricType", "")
        for child in node.get("children", []):
            walk_plan(child)

    for ev in read_events(evdir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            span = attr.find(ev["Submission Time"])
            job = {"span": span, "submit": ev["Submission Time"], "end": ev["Submission Time"]}
            if span is not None:
                job["collect"] = ev["Submission Time"] >= span["call_end"] * 1000.0
            jobs[ev["Job ID"]] = job
            for st in ev.get("Stage Infos", []):
                stage_job[st["Stage ID"]] = job
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind.endswith("SparkListenerSQLExecutionStart") or \
                kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            walk_plan(ev.get("sparkPlanInfo", {}))
        elif kind == "SparkListenerStageCompleted":
            job = stage_job.get(ev["Stage Info"]["Stage ID"])
            if job and job["span"] and job["span"]["timed"]:
                out["scheduler.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = stage_job.get(ev["Stage ID"])
            if not (job and job["span"] and job["span"]["timed"]):
                continue
            _add_task(out, ev, acc_type, job.get("collect", False))
        elif kind.endswith("QueryStartedEvent"):
            t = _iso_ms(ev["timestamp"])
            span = attr.find(t)
            if span is not None and span["timed"]:
                stream_start[ev["runId"]] = t
                out["streaming.queries"] += 1
        elif kind.endswith("QueryProgressEvent"):
            prog = ev["progress"]
            run_id = prog["runId"]
            if run_id not in stream_start:
                continue
            dur = prog.get("durationMs", {})
            out["streaming.batches"] += 1
            batch_ms.append(float(dur.get("triggerExecution", 0)))
            for p in STREAM_PHASES:
                out[f"streaming.{p}_ms"] += float(dur.get(p, 0))
            out["streaming.input_rows"] += sum(
                max(0, src.get("numInputRows", 0)) for src in prog.get("sources", []))
            first_batch.setdefault(run_id, _iso_ms(prog["timestamp"]))

    by_span: dict[int, list[tuple[float, float]]] = {}
    for job in jobs.values():
        if job["span"] is not None and job["span"]["timed"]:
            out["scheduler.jobs"] += 1
            by_span.setdefault(id(job["span"]), []).append((job["submit"], job["end"]))
    for s in spans:
        if s["timed"]:
            lo, hi = s["start"] * 1000.0, s["end"] * 1000.0
            out["scheduler.driver_gap_s"] += (hi - lo - _covered(lo, hi, by_span.get(id(s), []))) / 1000.0
    for run_id, t0 in stream_start.items():
        if run_id in first_batch:
            out["streaming.start_s"] += (first_batch[run_id] - t0) / 1000.0

    per_pass_skip = {"session.start_s", "registry.load_s", "scans.files_stored",
                     "scans.bytes_stored", "scans.space_amp", "jvm.peak_rss_mb",
                     "bench.failed_frac", "trace.pass_s"}
    for name in out:
        if name not in per_pass_skip:
            out[name] /= n_pass
    out["streaming.batch_p50_ms"] = _percentile(batch_ms, 50)
    out["streaming.batch_p75_ms"] = _percentile(batch_ms, 75)
    pass_s = out["trace.pass_s"]
    out["executor.slot_busy_frac"] = out["executor.run_s"] / (pass_s * cores) if pass_s else 0.0
    return out


def _add_task(out: dict[str, float], ev: dict, acc_type: dict[int, str], collect: bool) -> None:
    out["scheduler.tasks"] += 1
    tm = ev.get("Task Metrics") or {}
    out["scheduler.deserialize_s"] += tm.get("Executor Deserialize Time", 0) / 1000.0
    out["executor.run_s"] += tm.get("Executor Run Time", 0) / 1000.0
    out["executor.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    out["executor.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    if collect:
        out["arrow.bytes"] += tm.get("Result Size", 0)
    sr = tm.get("Shuffle Read Metrics", {})
    out["shuffle.read_bytes"] += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
    out["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
    out["shuffle.write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    out["shuffle.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    inp = tm.get("Input Metrics", {})
    out["scan.input_bytes"] += inp.get("Bytes Read", 0)
    out["scan.input_rows"] += inp.get("Records Read", 0)
    outp = tm.get("Output Metrics", {})
    out["sink.output_bytes"] += outp.get("Bytes Written", 0)
    out["sink.output_rows"] += outp.get("Records Written", 0)
    for acc in ev["Task Info"].get("Accumulables", []):
        name = PYWORKER_SQL.get(acc.get("Name"))
        if name is None:
            continue
        value = float(acc.get("Update", 0))
        if name.endswith("_s"):
            value *= TIME_SCALE.get(acc_type.get(acc["ID"]), 1e-3)
        out[name] += value
