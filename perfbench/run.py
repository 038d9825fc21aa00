"""perfbench — end-to-end and per-layer benchmark of the spark-graft engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload clinical_etl --seed 1 --seconds 16 --trace 0

One process, one client, closed loop: each operation starts when the
previous one finished.  The session is ``build_session(master=local[nproc])``.
Inputs are generated from ``--seed`` under ``.perfbench_work/`` (removed on
exit); the seed also fixes the operation order of every pass.

A run: set up (session, JVM warm-up query, µs-normalized lake, table
preload) → one cold pass, which collects every result and checks it once
the pass has ended, outside the timed region → warm passes (``noop``
writes) until ``--seconds`` have been measured.  Traced runs
(``--trace 1``) measure half of that, then restart the context with the
event log on, time the public calls into each layer for the other half,
and report per-layer metrics plus the tracing overhead against this run's
untraced passes.

Stdout ends with a report line (host, configuration, every metric) and the
result line ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import random
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
WORKLOAD_NAMES = ("clinical_etl", "text_dedup")
DRIVER_MEMORY_MB = 2048
#: full-GC heap readings behind ``jvm_live_mb``
LIVE_READINGS = 10
#: a run holds a few warm operations (two to six passes at the
#: benchmark's run length), too few for any tail percentile with ten
#: samples beyond it, so operation latency is reported as a median
REPORTED_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "jvm_live_mb": "MB",
}
#: the end-to-end metrics of the result line (BENCHMARK.json).  cold_pass_s
#: is one sample per fresh JVM and op_p50_s on text_dedup falls between
#: three unlike operations, so over ten seeds both spread past any bound
#: the host's speed drift allows; they stay in the report line
END_TO_END_UNITS = {k: REPORTED_UNITS[k] for k in ("setup_s", "pass_s", "jvm_live_mb")}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _git_commit() -> str:
    """HEAD of the checkout, read from ``.git`` without leaving the root."""
    try:
        ref = (ROOT / ".git" / "HEAD").read_text().strip()
        if ref.startswith("ref: "):
            return (ROOT / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return "unknown"


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _tree(path: Path) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    files = [p for p in path.rglob("*") if p.is_file()] if path.exists() else []
    return len(files), sum(p.stat().st_size for p in files)


def pass_order(seed: int, pass_no: int, n_ops: int) -> list[int]:
    """Operation order of one pass, fixed by the seed."""
    return random.Random(f"{seed}:{pass_no}").sample(range(n_ops), n_ops)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.nproc = _nproc()
        self.spark = None
        self.ctx = None
        self.latencies: dict[int, list[float]] = {}  # pass -> op latencies
        self.blocks_left: dict[int, int] = {}  # pass -> persisted RDDs left
        self.errors: list[str] = []
        self.attempted = self.failed = self.seq = 0

    # -- session ----------------------------------------------------------

    def start_session(self, extra: dict[str, str] | None = None):
        from dataengineer_spark.session import build_session

        conf = {
            "spark.local.dir": str(WORK / "spark-local"),
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            **(extra or {}),
        }
        spark = build_session("perfbench", master=f"local[{self.nproc}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        par = spark.sparkContext.defaultParallelism
        if par != self.nproc:
            raise RuntimeError(f"defaultParallelism {par} != requested cores {self.nproc}")
        self.spark = spark
        return spark

    def setup(self) -> dict[str, float]:
        """One full set-up in a fresh JVM; returns its phase times."""
        from dataengineer_spark.testdata import TABLES, load_table, normalized_sf_dir

        t0 = time.perf_counter()
        spark = self.start_session()
        t1 = time.perf_counter()
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        shutil.rmtree(WORK / "lake_sf", ignore_errors=True)
        self.sf_dir = normalized_sf_dir(spark, self.inputs.sf_dir, str(WORK / "lake_sf"))
        t3 = time.perf_counter()
        for t in TABLES:
            load_table(spark, self.sf_dir, t).count()
        t4 = time.perf_counter()
        return {
            "setup_s": t4 - t0,
            "session.start_s": t1 - t0,
            "session.warmup_s": t2 - t1,
            "testdata.normalize_s": t3 - t2,
            "testdata.preload_s": t4 - t3,
        }

    def stop_jvm(self) -> None:
        """Stop the session and the gateway JVM, and wait for it to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
            gw.proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    # -- operations -------------------------------------------------------

    def hygiene(self) -> int:
        """Free what the last operation left cached; return how many
        persisted RDDs were still registered after GC."""
        from py4j.protocol import Py4JError

        gc.collect()
        spark = self.spark
        spark.catalog.clearCache()
        for t in spark.catalog.listTables():
            if t.isTemporary and t.name.startswith(("stream_", "stateful_", "anomaly_")):
                spark.catalog.dropTempView(t.name)
        try:
            rdds = spark.sparkContext._jsc.getPersistentRDDs()
        except (AttributeError, Py4JError) as exc:
            raise RuntimeError("block hygiene: _jsc.getPersistentRDDs is unavailable") from exc
        left = int(rdds.size())
        for rdd in list(rdds.values()):
            rdd.unpersist()
        return left

    def run_pass(self, ops, pass_no: int, check: bool = False, tracer=None) -> float:
        """Run every op once in the seed's order; returns the pass wall
        (sum of op latencies, hygiene excluded).  A checked pass collects
        each result's rows in place of the noop write and checks them once
        the pass has ended, so no check warms the JVM for a later op."""
        lat, left, done = [], 0, []
        for i in pass_order(self.seed, pass_no, len(ops)):
            latency, rows, tmp = self.run_op(ops[i], pass_no, check, tracer)
            lat.append(latency)
            done.append((ops[i], rows, tmp))
            left += self.hygiene()
        for op, rows, tmp in done:
            if rows is not None:
                try:
                    self.count(op.check(rows))
                except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
                    self.count([f"{op.name}: check: {type(exc).__name__}: {str(exc)[:300]}"])
            shutil.rmtree(tmp, ignore_errors=True)  # checks read CSV exports here
        self.latencies[pass_no] = lat
        self.blocks_left[pass_no] = left
        return sum(lat)

    def count(self, problems: list[str]) -> None:
        if problems:
            self.failed += 1
            self.errors += problems

    def run_op(self, op, pass_no: int, collect: bool, tracer):
        """Run one op; returns (latency, collected rows or None, temp dir)."""
        self.seq += 1
        self.attempted += 1
        tmp = WORK / "ops" / str(self.seq)
        tmp.mkdir(parents=True)
        tempfile.tempdir = str(tmp)  # effectful queries mkdtemp here
        sc = self.spark.sparkContext
        sc.setJobGroup(f"perfbench-{self.seq}", op.name)
        span = tracer.op(self.seq, op.name, pass_no) if tracer else nullcontext({})
        rows = None
        t0 = time.time()
        try:
            with span as rec:
                rec["t0"] = t0
                df = op.build(str(tmp))
                rec["t1"] = time.time()
                if collect:
                    rows = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
                t2 = rec["t2"] = time.time()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            t2 = time.time()
            self.count([f"{op.name}: {type(exc).__name__}: {str(exc)[:300]}"])
        finally:
            tempfile.tempdir = str(WORK / "tmp")
            sc.setLocalProperty("spark.jobGroup.id", None)
        return t2 - t0, rows, tmp

    def measure(self, ops, first_pass: int, seconds: float, tracer=None) -> list[int]:
        """Warm passes until ``seconds`` of them have run; returns pass numbers."""
        done, spent = [], 0.0
        while not done or spent < seconds:
            p = first_pass + len(done)
            spent += self.run_pass(ops, p, tracer=tracer)
            done.append(p)
        return done

    # -- run --------------------------------------------------------------

    def make_ops(self):
        from perfbench import oracle
        from perfbench.workloads import WORKLOADS, Context

        if self.ctx is None:
            self.ctx = Context(
                spark=self.spark,
                sf_dir=self.sf_dir,
                raw_sf_dir=self.inputs.sf_dir,
                lake=str(WORK / "lake"),
                batch_paths=self.inputs.batch_paths,
                dup_pairs=self.inputs.dup_pairs,
                duck=oracle.connect(self.inputs.sf_dir),
            )
        self.ctx.spark = self.spark
        self.ctx.extra.clear()
        return WORKLOADS[self.workload](self.ctx)

    def run(self) -> dict:
        from perfbench.gen import generate

        self.inputs = generate(str(WORK / "inputs"), self.seed)
        setup = self.setup()
        ops = self.make_ops()
        cold = self.run_pass(ops, 0, check=True)
        live_mb = self.live_mb()
        passes = self.measure(ops, 1, self.seconds / 2 if self.trace else self.seconds)
        pass_walls = [sum(self.latencies[p]) for p in passes]
        warm_ops = [x for p in passes for x in self.latencies[p]]
        from pyspark import SparkContext

        host = self.host()
        host["jvm_peak_rss_mb"] = _vm_hwm_mb(SparkContext._gateway.proc.pid)
        working_set_mb = (_tree(WORK / "lake")[1] + _tree(WORK / "inputs")[1]) / 1e6
        host.update(working_set_mb=working_set_mb, fits_driver_memory=working_set_mb < DRIVER_MEMORY_MB)
        metrics = {
            "cold_pass_s": cold,
            "pass_s": statistics.median(pass_walls),
            "op_p50_s": statistics.median(warm_ops),
            "jvm_live_mb": live_mb,
        }
        layers: dict[str, float] = {}
        if self.trace:
            layers = self.traced(passes[-1] + 1, metrics["pass_s"])
            layers.update({k: v for k, v in setup.items() if k != "setup_s"})
        metrics["setup_s"] = setup["setup_s"]
        reported = {k: {"value": metrics[k], "unit": u} for k, u in REPORTED_UNITS.items()}
        e2e = {k: reported[k] for k in END_TO_END_UNITS}
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "host": host,
            "end_to_end": reported,
            "fail_ratio": {"value": self.failed / self.attempted, "unit": "1"},
            "samples": {"warm_ops": len(warm_ops), "warm_passes": len(passes)},
            # last over first measured pass: JVM warm-up left in the
            # measured passes shows here instead of skewing the medians
            "drift": pass_walls[-1] / pass_walls[0],
            "pass_walls_s": [sum(self.latencies[p]) for p in sorted(self.latencies)],
            "per_layer": {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())},
            "op_median_s": self.op_medians(ops, passes),
            "errors": self.errors[:20],
        }
        return {
            "report": report,
            "result": {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {
                    k: {"value": layers.get(k, 0.0), "unit": layer_unit(k)} for k in PER_LAYER
                } if self.trace else e2e,
            },
        }

    def op_medians(self, ops, passes: list[int]) -> dict[str, float]:
        by_name: dict[str, list[float]] = {}
        for p in passes:
            for i, lat in zip(pass_order(self.seed, p, len(ops)), self.latencies[p]):
                by_name.setdefault(ops[i].name, []).append(lat)
        return {k: statistics.median(v) for k, v in by_name.items()}

    def traced(self, first_pass: int, untraced_pass_s: float) -> dict[str, float]:
        """Restart the context with the event log on and measure traced passes."""
        from perfbench import trace

        log_dir = WORK / "eventlog"
        log_dir.mkdir()
        self.spark.stop()
        self.start_session({**trace.EVENT_LOG_CONF, "spark.eventLog.dir": log_dir.as_uri()})
        ops = self.make_ops()
        tracer = trace.Tracer()
        tracer.install()
        try:
            lake_before = _tree(WORK / "lake")
            passes = self.measure(ops, first_pass, self.seconds / 2, tracer)
            lake_after = _tree(WORK / "lake")
        finally:
            tracer.uninstall()
        self.stop_jvm()
        log = trace.read_event_log(trace.event_log_file(str(log_dir)))
        out = trace.layer_metrics(tracer, log, passes)
        traced_pass_s = statistics.median(sum(self.latencies[p]) for p in passes)
        batches = sum(o["name"].startswith("dx_group_api") for o in tracer.ops if o["pass"] in passes)
        csv_bytes = self.inputs.batch_bytes * batches
        out.update({
            "tuning.blocks_left": statistics.median(self.blocks_left[p] for p in passes),
            "catalog.files_written": (lake_after[0] - lake_before[0]) / len(passes),
            "catalog.bytes_per_input_byte": (lake_after[1] - lake_before[1]) / csv_bytes if csv_bytes else 0.0,
            "trace.pass_s": traced_pass_s,
            "trace.untraced_pass_s": untraced_pass_s,
            "trace.overhead": traced_pass_s / untraced_pass_s - 1.0,
        })
        return out

    def live_mb(self) -> float:
        """JVM heap in use after a full GC: what the run keeps alive.  Taken
        after the cold pass, when every run has done the same number of
        operations (the measured passes vary in number).  Objects that
        Python has just dropped are released to the JVM only after a later
        GC, up to a second later, so the least of readings spread over two
        seconds is reported.  The peak RSS follows GC timing and JIT code
        growth, so it is recorded as host information only."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        readings = []
        for _ in range(LIVE_READINGS):
            gc.collect()
            jvm.java.lang.System.gc()
            readings.append(heap.getHeapMemoryUsage().getUsed() / 1e6)
            time.sleep(0.2)
        return min(readings)

    def host(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "nproc": self.nproc,
            "default_parallelism": sc.defaultParallelism,
            "master": sc.master,
            "driver_memory": sc.getConf().get("spark.driver.memory"),
            "spark": pyspark.__version__,
            "python": platform.python_version(),
            "java": sc._jvm.System.getProperty("java.version"),
            "commit": _git_commit(),
            "machine": platform.machine(),
        }


#: operations whose traced wall is split into layers (the three
#: unexplained r12 regressions of ROADMAP.md)
SPLIT_OPS = ["q_e2_minhash_neardup", "q_f9_bpe_train", "q_graph_pagerank"]
SPLIT_LAYERS = ["entry.build_s", "entry.driver_gap_s", "executor.run_s", "python_worker.stage_run_s"]


def layer_unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s"):
        return "s"
    if leaf.endswith("_ms") or leaf.startswith("trigger_ms"):
        return "ms"
    if leaf.endswith("_mb") or leaf.startswith("mb_"):
        return "MB"
    if leaf in ("stage_skew", "overhead", "bytes_per_input_byte"):
        return "1"
    return "count"


#: every per-layer metric a traced run prints (0 where the workload does
#: not run that layer); BENCHMARK.json lists the same names
PER_LAYER = [
    "session.start_s", "session.warmup_s", "testdata.normalize_s", "testdata.preload_s",
    "entry.build_s", "entry.exec_s", "entry.driver_gap_s", "entry.jobs",
    "executor.stages", "executor.tasks", "executor.run_s", "executor.cpu_s", "executor.gc_s",
    "executor.shuffle_write_mb", "executor.shuffle_read_mb", "executor.spill_mb",
    "executor.input_mb", "executor.stage_skew",
    "python_worker.mb_sent", "python_worker.mb_received", "python_worker.rows",
    "python_worker.stage_run_s",
    "catalog.write_s", "catalog.read_batch_s", "catalog.files_written",
    "catalog.bytes_per_input_byte", "batch.open_batch_s", "sources.read_csv_s",
    "sources.write_csv_s", "plans.build_s",
    "streaming.batches", "streaming.start_s", "streaming.trigger_ms_p50",
    "streaming.trigger_ms_p90", "streaming.add_batch_ms", "streaming.planning_ms",
    "streaming.wal_commit_ms", "streaming.state_rows",
    "tuning.blocks_left", "trace.pass_s", "trace.untraced_pass_s", "trace.overhead",
] + [f"{op}.{layer}" for op in SPLIT_OPS for layer in SPLIT_LAYERS]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft end-to-end and per-layer benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file() or not (ROOT / "dataengineer_spark").is_dir():
        print(f"perfbench: no program under test in {ROOT}", file=sys.stderr)
        return 2

    prepare()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        out = bench.run()
    finally:
        bench.stop_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(out["report"]))
    print(json.dumps(out["result"]), flush=True)
    return 0


def prepare() -> None:
    """Fresh work dir; every temp, spill and worker path points into it."""
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEMORY_MB}m",
        "TMPDIR": str(WORK / "tmp"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # no /tmp/hsperfdata_* files
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
    })
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    tempfile.tempdir = str(WORK / "tmp")


if __name__ == "__main__":
    sys.exit(main())
