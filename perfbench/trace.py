"""Traced runs: spans around the public calls into each layer, and the
executor / Python-worker / streaming metrics read back from Spark's event
log (uncompressed JSON lines).

Spans are kept in memory per operation and folded into per-pass layer
totals when the run ends.  Jobs are attributed to an operation by the job
group the harness sets around it; jobs submitted from other threads
(streaming micro-batches) fall back to the operation whose time window
holds their submission.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4 defaults to zstd, which no Python reader here can open
    "spark.eventLog.compress": "false",
    # one plain file instead of Spark 4's rolling eventlog_v2 directory
    "spark.eventLog.rolling.enabled": "false",
}

#: (module path, attribute, layer metric): public calls timed in a traced
#: run.  Plan-stage builders are looked up through their module at call
#: time by ``run_dx_group``/``run_dx_group_api``, so patching the module
#: attribute times every call.
PATCHES = [
    ("dataengineer_spark.catalog", "Catalog.write", "catalog.write_s"),
    ("dataengineer_spark.catalog", "Catalog.read_batch", "catalog.read_batch_s"),
    ("dataengineer_spark.batch", "BatchAllocator.open_batch", "batch.open_batch_s"),
    ("dataengineer_spark.sources.files", "read_csv", "sources.read_csv_s"),
    ("dataengineer_spark.sources.files", "write_csv", "sources.write_csv_s"),
    ("dataengineer_spark.plans.dx_group", "clean_stage", "plans.build_s"),
    ("dataengineer_spark.plans.dx_group", "prep_stage", "plans.build_s"),
    ("dataengineer_spark.plans.dx_group", "predict_stage", "plans.build_s"),
    ("dataengineer_spark.plans.api_variant", "publish_stage", "plans.build_s"),
    ("dataengineer_spark.plans.prostate", "run_prostate", "plans.build_s"),
]

_PY_NODE_MARKERS = ("Python", "Arrow", "Pandas")


class Tracer:
    """Per-operation spans and counters, keyed by operation sequence id."""

    def __init__(self) -> None:
        self.ops: list[dict] = []  # {"id", "name", "pass", "t0", "t1", "t2"}
        self.spans: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self._current: int | None = None
        self._saved: list[tuple] = []

    @contextmanager
    def op(self, seq: int, name: str, pass_no: int):
        self._current = seq
        self.ops.append({"id": seq, "name": name, "pass": pass_no})
        try:
            yield self.ops[-1]
        finally:
            self._current = None

    def add(self, metric: str, value: float) -> None:
        if self._current is not None:
            self.spans[self._current][metric] += value

    def install(self) -> None:
        import importlib

        for mod_name, attr, metric in PATCHES:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = getattr(owner, leaf)
            self._saved.append((owner, leaf, orig))
            setattr(owner, leaf, self._timed(orig, metric))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._saved):
            setattr(owner, leaf, orig)
        self._saved.clear()

    def _timed(self, fn, metric: str):
        tracer = self

        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.add(metric, time.perf_counter() - t0)

        return wrapper


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


def _python_metric_ids(plan: dict, out: dict[int, str]) -> None:
    if any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKERS):
        for m in plan.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for child in plan.get("children", []):
        _python_metric_ids(child, out)


def read_event_log(path: str) -> dict:
    """Jobs, stages (with task durations) and streaming progress."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    py_ids: dict[int, str] = {}
    progress: list[dict] = []
    starts: dict[str, float] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "group": props.get("spark.jobGroup.id"),
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                task_ms[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a["ID"]: (a.get("Name"), a.get("Value")) for a in info.get("Accumulables", [])}
                stages[info["Stage ID"]] = {"tasks": info["Number of Tasks"], "acc": acc}
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _python_metric_ids(ev.get("sparkPlanInfo", {}), py_ids)
            elif kind.endswith("QueryStartedEvent"):
                starts[ev["id"]] = _iso_seconds(ev["timestamp"])
            elif kind.endswith("QueryProgressEvent"):
                progress.append(ev["progress"])
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
        st["task_ms"] = task_ms.get(sid, [])
    return {"jobs": jobs, "stages": stages, "py_ids": py_ids, "progress": progress, "starts": starts}


def _iso_seconds(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _metric(acc: dict, name: str) -> float:
    return sum(float(v) for n, v in acc.values() if n == name and v is not None)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(tracer: Tracer, log: dict, traced_passes: list[int]) -> dict[str, float]:
    """Per-pass layer totals (median over the traced passes) and the
    per-operation split of every traced operation (median over passes)."""
    by_id = {o["id"]: o for o in tracer.ops}
    op_of_job: dict[int, int] = {}
    for jid, job in log["jobs"].items():
        group = job["group"]
        if group and group.startswith("perfbench-") and int(group[10:]) in by_id:
            op_of_job[jid] = int(group[10:])
            continue
        for o in tracer.ops:
            if o["t0"] <= job["start"] <= o["t2"]:
                op_of_job[jid] = o["id"]
                break

    per_op: dict[int, dict[str, float]] = {o["id"]: defaultdict(float) for o in tracer.ops}
    job_spans: dict[int, list] = defaultdict(list)
    for jid, job in log["jobs"].items():
        if jid in op_of_job:
            per_op[op_of_job[jid]]["entry.jobs"] += 1
            job_spans[op_of_job[jid]].append((job["start"], job.get("end", job["start"])))
    py_ids = set(log["py_ids"])
    skew: dict[int, float] = defaultdict(float)
    for st in log["stages"].values():
        oid = op_of_job.get(st["job"])
        if oid is None:
            continue
        m, acc = per_op[oid], st["acc"]
        run_s = _metric(acc, "internal.metrics.executorRunTime") / 1e3
        m["executor.stages"] += 1
        m["executor.tasks"] += st["tasks"]
        m["executor.run_s"] += run_s
        m["executor.cpu_s"] += _metric(acc, "internal.metrics.executorCpuTime") / 1e9
        m["executor.gc_s"] += _metric(acc, "internal.metrics.jvmGCTime") / 1e3
        m["executor.shuffle_write_mb"] += _metric(acc, "internal.metrics.shuffle.write.bytesWritten") / 1e6
        m["executor.shuffle_read_mb"] += (
            _metric(acc, "internal.metrics.shuffle.read.localBytesRead")
            + _metric(acc, "internal.metrics.shuffle.read.remoteBytesRead")
        ) / 1e6
        m["executor.spill_mb"] += (
            _metric(acc, "internal.metrics.memoryBytesSpilled")
            + _metric(acc, "internal.metrics.diskBytesSpilled")
        ) / 1e6
        m["executor.input_mb"] += _metric(acc, "internal.metrics.input.bytesRead") / 1e6
        if len(st["task_ms"]) >= 2:
            med = statistics.median(st["task_ms"])
            skew[oid] = max(skew[oid], max(st["task_ms"]) / med if med > 0 else 1.0)
        py = {log["py_ids"][i]: float(v) for i, (_, v) in acc.items() if i in py_ids and v is not None}
        if py:
            m["python_worker.stage_run_s"] += run_s
            m["python_worker.mb_sent"] += py.get("data sent to Python workers", 0.0) / 1e6
            m["python_worker.mb_received"] += py.get("data returned from Python workers", 0.0) / 1e6
            m["python_worker.rows"] += py.get("number of output rows", 0.0)

    for o in tracer.ops:
        m = per_op[o["id"]]
        m.update(tracer.spans.get(o["id"], {}))
        m["entry.build_s"] = o["t1"] - o["t0"]
        m["entry.exec_s"] = o["t2"] - o["t1"]
        m["entry.driver_gap_s"] = m["entry.exec_s"] - _covered(job_spans[o["id"]], o["t1"], o["t2"])
        m["executor.stage_skew"] = skew.get(o["id"], 0.0)

    out: dict[str, float] = {}
    passes = defaultdict(lambda: defaultdict(float))
    for o in tracer.ops:
        if o["pass"] not in traced_passes:
            continue
        for k, v in per_op[o["id"]].items():
            if k == "executor.stage_skew":
                passes[o["pass"]][k] = max(passes[o["pass"]][k], v)
            else:
                passes[o["pass"]][k] += v
    keys = {k for p in passes.values() for k in p}
    for k in keys:
        out[k] = statistics.median(passes[p].get(k, 0.0) for p in traced_passes)

    split = defaultdict(list)
    for o in tracer.ops:
        if o["pass"] in traced_passes:
            m = per_op[o["id"]]
            for k in ("entry.build_s", "entry.driver_gap_s", "executor.run_s", "python_worker.stage_run_s"):
                split[(o["name"], k)].append(m.get(k, 0.0))
    for (name, k), vals in split.items():
        out[f"{name}.{k}"] = statistics.median(vals)
    out.update(_streaming(log, tracer, traced_passes))
    return out


def _streaming(log: dict, tracer: Tracer, traced_passes: list[int]) -> dict[str, float]:
    windows = [(o["t0"], o["t2"]) for o in tracer.ops if o["pass"] in traced_passes]

    def traced(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    prog = [p for p in log["progress"] if traced(_iso_seconds(p["timestamp"]))]
    if not prog:
        return {}
    n = max(len(traced_passes), 1)
    dur = [p.get("durationMs", {}) for p in prog]
    trig = sorted(d.get("triggerExecution", 0) for d in dur)
    first = {}
    for p in prog:
        first.setdefault(p["id"], _iso_seconds(p["timestamp"]))
    starts = [first[q] - log["starts"][q] for q in first if q in log["starts"]]
    return {
        "streaming.batches": len(prog) / n,
        "streaming.start_s": statistics.median(starts) if starts else 0.0,
        "streaming.trigger_ms_p50": statistics.median(trig),
        "streaming.trigger_ms_p90": trig[math.ceil(0.9 * len(trig)) - 1],  # nearest rank
        "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur) / n,
        "streaming.planning_ms": sum(d.get("queryPlanning", 0) for d in dur) / n,
        "streaming.wal_commit_ms": sum(d.get("walCommit", 0) for d in dur) / n,
        "streaming.state_rows": sum(
            s.get("numRowsTotal", 0) for p in prog for s in p.get("stateOperators", [])
        ) / n,
    }
