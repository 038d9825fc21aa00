"""SparkSession factory.

The reference ran single-node ``airflow standalone`` with one OS process per
task (reference Dockerfile:14-16, SURVEY.md §6); here one SparkSession hosts
the whole pipeline graph. Defaults are tuned so the same code is correct on
``local[N]`` for tests and sane on a multi-executor cluster:

- Shuffle width = cores: a ``local[N]`` session gets
  ``spark.sql.shuffle.partitions`` = N, and ``local[*]`` (or the default
  master when ``SPARK_GRAFT_CPUS`` is unset) gets the usable host cores
  (the process's CPU affinity).  Every shuffle stage is then one wave of
  tasks; on a small host a wider conf schedules several waves of
  near-empty tasks per stage, and iterative operators (PageRank rounds,
  BPE merges, MinHash banding) pay that per round.  A caller's
  ``extra_conf`` wins; a non-local master keeps the launcher's (or
  Spark's) width.
- AQE on (runtime partition coalescing + skew-join splitting) so the static
  ``spark.sql.shuffle.partitions`` choice is a ceiling, not a bet.
- Arrow on: every pandas UDF / ``toPandas`` boundary is columnar-batched.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (which is UTC-naive) and are deployment-independent.
- Python workers run under the engine daemon, ``dataengineer_spark.pyworker``
  (``spark.python.daemon.module``).  Before CPython 3.13 PySpark's
  per-task ``importlib.invalidate_caches()`` re-read every zip archive on
  the worker's path (``pyspark.zip``, py4j, the ``spark-core`` jar):
  ~170–230 ms of fixed cost per Python task.  The daemon re-reads an
  archive only when its stat changed.  ``dataengineer_spark`` must then
  import on the workers, as the engine's pandas UDFs already require.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # reliable-checkpoint files (tuning.lineage_cut's fault-tolerant
    # branch, active when a checkpoint dir is set) are deleted when the
    # owning frame is garbage collected — Spark's default (false) keeps
    # every checkpoint for the app's lifetime and an iterative operator
    # would grow the dir without bound
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet scans: keep partitions near 128MB so a 100 TB table splits into
    # ~800k tasks, not 8 giant ones; local tests never hit the cap anyway.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # auto-broadcast small dims (reference collected config tables on the
    # driver and re-applied them per row — dx_group.py:179-183); 64MB is
    # roomy for dimension tables while keeping executor memory safe.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # nanosecond parquet timestamps (events.ts) surface as ns-longs; the
    # testdata loader converts to TimestampType (µs, floor) — matching what
    # DuckDB reports for the same files (FIXTURES.md precision warning)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Python workers fork from the engine's daemon (pyworker.py), which
    # stops each task re-reading every zip archive on the worker's path
    "spark.python.daemon.module": "dataengineer_spark.pyworker",
    # local[N] puts driver and executors in ONE JVM whose default heap is
    # 1g — far too small next to the 64MB broadcast threshold once a long
    # session accumulates broadcast refs (a 70-query bench loop OOMed the
    # build side of a broadcast exchange).  Only read at JVM launch; a
    # cluster launcher's --driver-memory simply overrides it.
    # (SPARK_GRAFT_DRIVER_MEM is resolved in build_session, at call time —
    # an env var set after import must not be silently ignored.)
}


def host_cores() -> int:
    """Cores this process may run on (its CPU affinity, not the machine's
    core count — a container or ``taskset`` narrows it)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def local_cores(master: str) -> int | None:
    """Task slots of a local master — N for ``local[N]`` /
    ``local[N,F]``, :func:`host_cores` for ``local[*]``, 1 for ``local``
    — or None for any other master (cluster sizing is the launcher's)."""
    m = re.fullmatch(r"local(?:\[(\*|\d+)(?:\s*,\s*\d+)?\])?", master.strip())
    if m is None:
        return None
    n = m.group(1)
    if n is None:
        return 1
    return host_cores() if n == "*" else int(n)


def _cluster_master_configured() -> bool:
    """True when a launcher already chose the master — never force local then.

    Before the py4j gateway attaches, ``SparkConf()`` is dict-backed and
    ``contains("spark.master")`` is always False even under
    ``spark-submit --master yarn`` — so checking it alone would clobber a
    cluster master with local[N].  The launcher's intent IS visible pre-JVM
    through the environment: ``spark-submit`` exports the master via
    ``PYSPARK_SUBMIT_ARGS`` and a driver-side gateway via
    ``PYSPARK_GATEWAY_PORT``/``SECRET``; ``MASTER``/``SPARK_MASTER`` are the
    documented env fallbacks SparkContext itself honours.  Once a JVM is
    live (re-entrant getOrCreate), the system property check works too.
    """
    env = os.environ
    if "--master" in env.get("PYSPARK_SUBMIT_ARGS", ""):
        return True
    if env.get("PYSPARK_GATEWAY_PORT") or env.get("PYSPARK_GATEWAY_SECRET"):
        # launched by spark-submit: the JVM holds the launcher's conf and
        # getOrCreate will inherit it — don't override.
        return True
    if env.get("MASTER") or env.get("SPARK_MASTER"):
        return True
    from pyspark import SparkConf, SparkContext

    if SparkContext._active_spark_context is not None:
        return True
    try:
        if SparkContext._jvm is not None and SparkConf().contains(
            "spark.master"
        ):
            return True
    except Exception:  # pragma: no cover - defensive: conf probe only
        pass
    return False


def build_session(
    app_name: str = "dataengineer_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default the
    usable host cores, :func:`host_cores`) ONLY when no cluster master is
    configured — on a real cluster the launcher sets ``--master`` (visible
    as the ``spark.master`` system property) and this argument is left
    None; forcing local there would silently run the whole job single-node
    on the driver.

    ``spark.sql.shuffle.partitions`` is the local master's core count
    (:func:`local_cores`), so each shuffle stage runs as one wave of
    tasks.  ``extra_conf`` overrides it like any other default; a
    non-local master (or a live context whose master this call does not
    choose) is left at its existing width.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and not _cluster_master_configured():
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS') or host_cores()}]"
    conf = dict(_DEFAULTS)
    if master is not None:
        builder = builder.master(master)
        cores = local_cores(master)
        if cores is not None:
            conf["spark.sql.shuffle.partitions"] = str(cores)
    conf["spark.driver.memory"] = os.environ.get(
        "SPARK_GRAFT_DRIVER_MEM", "8g"
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_session(spark: SparkSession) -> None:
    spark.stop()
