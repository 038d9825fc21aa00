"""Plan-tuning helpers.

``fan_out`` addresses a local/small-file artifact: a parquet file with one
row group scans as ONE task no matter what ``maxPartitionBytes`` says, so a
CPU-heavy map stage (regex chains, MinHash signatures, pandas UDFs) runs
single-threaded. The helper repartitions **only when** the scan's partition
count is below the session's parallelism — at production scale (100 TB =
hundreds of thousands of splits) it is a structural no-op, while on a
single-file local input it buys cores× speedup for one cheap shuffle of the
narrow projected input.

Use it at the *source* end of compute-bound stages, never mid-plan on bulk
intermediates.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: plan-node match for a round-robin SHUFFLE repartition with its width —
#: ``df.repartition(n)`` prints ``Repartition n, true``.  Deliberately
#: narrow (review r9): keyed ``repartition(n, col)`` / ``repartitionByRange``
#: print ``RepartitionByExpression`` and ``coalesce`` prints
#: ``Repartition n, false`` — those may target FEWER partitions than the
#: session parallelism (shard writers, range layouts, coalesce(1)), so
#: treating any Repartition* as "already fanned" would skip fanning
#: exactly the under-partitioned frames this helper exists to widen.
#: They fall through to the (cached) probe instead.
_REPART_RE = re.compile(r"\bRepartition (\d+), true\b")
#: narrowing nodes: ``coalesce(n)`` prints ``Repartition n, false`` and
#: keyed/range repartitions print ``RepartitionByExpression``.  A wide
#: round-robin only proves the frame is fanned if none of these sits
#: ABOVE it in the plan (closer to the root = earlier in the string) —
#: ``df.repartition(64).coalesce(1)`` is 1 partition at the top even
#: though the wide node is still in the plan (ADVICE r9).
_NARROW_RE = re.compile(r"\bRepartition \d+, false\b|\bRepartitionByExpression\b")
#: attribute exprIds (``doc_id#123L``) differ per scan instantiation of the
#: same query — strip them so the probe cache hits across invocations
_EXPRID_RE = re.compile(r"#\d+")
_PROBE_CACHE: dict[str, int] = {}
_PROBE_CACHE_MAX = 256


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition up to the session default parallelism when the input is

    under-partitioned; identity otherwise.  Streaming frames pass through
    unchanged (``.rdd`` on a streaming plan raises; their parallelism
    comes from the source) — the guard lives HERE so no caller can
    forget it.

    Probe cost is driver-load-bearing (round-9 profile: the ``.rdd``
    partition-count probe physically plans its subtree, ~0.1 s per call
    at sf0.1, and pipelines stack 3-5 fan_out sites), so two fast paths
    short-circuit it:

    - a plan containing a round-robin shuffle repartition at or above
      the target is respected as-is (in-engine the only producer of
      that node ahead of a fan_out site is a previous fan_out) — one
      plan-string fetch, no planning; keyed repartitions, range
      repartitions, coalesce, and narrower round-robins fall through
      to the probe, since they may leave the frame under-partitioned;
    - otherwise the probed partition count is memoized by the plan
      string with exprIds normalized out, so the per-query rebuild of
      the same scan (every ``queries()`` callable reloads its tables)
      probes once per session, not once per call.  The cache can go
      stale if the SAME path is rewritten with a different file count
      mid-session — consequence is a missed or redundant fan-out
      (performance, never correctness), and in-engine lake writes land
      under fresh temp dirs.
    """
    if df.isStreaming:
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    try:
        plan = _EXPRID_RE.sub("", df._jdf.queryExecution().logical().toString())
    except Exception:  # non-classic frame / private-surface drift
        plan = None
    if plan is not None:
        # fast path: an explicit round-robin shuffle repartition at or
        # above the target means the frame is already fanned (in-engine
        # the only producer of that node ahead of a fan_out site is a
        # previous fan_out); a NARROWER one, keyed repartitions, and
        # coalesce fall through to the probe (review r9 — they may
        # target fewer partitions than the session parallelism).  The
        # wide node only counts when NO narrowing node sits above it in
        # the plan string (ADVICE r9: a later coalesce/keyed repartition
        # over the wide one leaves the frame narrow; string order is
        # root-first, so "above" = smaller index).  A narrow node in a
        # sibling branch falls through to the probe too — a missed fast
        # path, never a wrong answer.
        m_narrow = _NARROW_RE.search(plan)
        shadow_at = m_narrow.start() if m_narrow else len(plan) + 1
        if any(
            int(m.group(1)) >= target and m.start() < shadow_at
            for m in _REPART_RE.finditer(plan)
        ):
            return df
        parts = _PROBE_CACHE.get(plan)
        if parts is None:
            parts = df.rdd.getNumPartitions()
            if len(_PROBE_CACHE) >= _PROBE_CACHE_MAX:
                _PROBE_CACHE.clear()
            _PROBE_CACHE[plan] = parts
    else:
        parts = df.rdd.getNumPartitions()
    if parts >= target:
        return df
    return df.repartition(target)


def fan_out_stream(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Streaming analog of :func:`fan_out` for compute-bound micro-batch

    map/partial-agg stages: repartitions the stream to the session
    default parallelism.  A file-source micro-batch arrives with one
    partition per input file (``maxFilesPerTrigger`` × files), so a
    CPU-heavy map-only stream (gram hashing, per-row set intersects,
    HLL partial aggregation) runs SINGLE-THREADED without it — measured
    7× on the stream-decontamination audit at sf0.1 (5.9 s → 0.9 s for
    the identical batch plan once fanned).

    Unlike ``fan_out`` the partition count cannot be probed (``.rdd``
    raises on a streaming plan), so the repartition is unconditional:
    one narrow in-batch shuffle of the raw rows.  On a deployment source
    that is already wide (partitioned kafka/kinesis topic) redistributing
    CPU-bound work is usually still the right trade; callers with a
    genuinely wide source and a light map stage should skip the helper.
    Batch frames pass through to :func:`fan_out` (probed, structural
    no-op at production split counts) so operators shared between modes
    can call this unconditionally.
    """
    if not df.isStreaming:
        return fan_out(df, min_partitions)
    sc = df.sparkSession.sparkContext
    return df.repartition(min_partitions or sc.defaultParallelism)


def transient_persist(df: DataFrame) -> DataFrame:
    """Serialized persist for INTRA-QUERY reuse of a multi-consumer
    intermediate (candidate-pair sets, sorted token arrays) WITHOUT the
    plan-build cost of a lineage cut: under AQE, ``localCheckpoint`` —
    even ``eager=False`` — forces ``getFinalPhysicalPlan`` at ``.rdd``
    creation, which EXECUTES every upstream query stage at plan-build
    time (round-9 profile: 1.7 s of the q_prep_decontaminate wall was
    the cut running the candidate pipeline during ``fn()``, before the
    action even started).  A persist is metadata-only at build; the
    cache materializes at most once inside the consuming action and
    every consumer reads it.

    Lifetime: the producer MUST route its result frame through
    ``tie_lifetime(out, cached)`` so the cache unpersists when the
    result is garbage-collected — the same frees-on-frame-GC contract
    ``lineage_cut`` gives, with none of the session-lifetime leak a
    bare ``.persist()`` has.  Blocks are MEMORY_AND_DISK serialized
    (the corpus-sized-cut rule from the sf10 probe).

    A persisted frame keeps its physical partitioning: its scan reports
    the cached plan's ``outputPartitioning``, so a frame stored with
    ``repartition(n, key)`` lets a later aggregate or join on ``key``
    read the blocks in place, with no exchange.  A ``lineage_cut`` frame
    does not (its scan reports an unknown partitioning).

    Use ``lineage_cut`` instead when the PLAN must actually be
    truncated (iterative algorithms whose chained plans grow per
    round).
    """
    from pyspark import StorageLevel

    # PySpark's MEMORY_AND_DISK is the SERIALIZED form
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def tie_lifetime(out: DataFrame, cached: DataFrame) -> DataFrame:
    """Unpersist ``cached`` when ``out`` is garbage-collected.  The
    finalizer holds the only strong reference to ``cached`` needed, so
    the cache lives as long as a PYTHON holder of ``out`` exists.

    DERIVED frames do not extend that lifetime: ``tie_lifetime(out,
    c).select(...)`` returns a new DataFrame holding no Python
    reference to ``out``, so once the original goes out of scope the
    finalizer fires and the action recomputes the cached subtree per
    consumer — correct, but the compute-once optimization is silently
    lost (review r9).  Callers that wrap a tied result before the
    action must move the tie onto the wrapper with
    :func:`carry_lifetime`.  The ties are recorded on the frame
    (``_graft_ties``) precisely so carry can find and detach them.
    """
    import weakref

    fin = weakref.finalize(out, _unpersist_quietly, cached)
    ties = getattr(out, "_graft_ties", [])
    out._graft_ties = ties + [(cached, fin)]
    return out


def carry_lifetime(derived: DataFrame, src: DataFrame) -> DataFrame:
    """Move ``src``'s cache ties onto ``derived`` — REQUIRED whenever an
    in-repo caller derives a new frame (select/orderBy/filter/...) from
    a ``tie_lifetime``'d result and lets the original go out of scope
    before the action: without the carry the finalizer fires at frame
    GC and the transient cache unpersists before it is ever read.
    Detaches ``src``'s finalizers (no double-unpersist, no early fire)
    and re-ties each cache to ``derived``.  A ``src`` with no ties
    passes through untouched, so the helper is safe to apply
    unconditionally."""
    import weakref

    for cached, fin in getattr(src, "_graft_ties", []):
        fin.detach()
        new_fin = weakref.finalize(derived, _unpersist_quietly, cached)
        derived._graft_ties = getattr(derived, "_graft_ties", []) + [
            (cached, new_fin)
        ]
    if getattr(src, "_graft_ties", None):
        src._graft_ties = []
    return derived


def lineage_cut(
    df: DataFrame, eager: bool = True, serialized: bool = False
) -> DataFrame:
    """Truncate lineage: reliable ``checkpoint`` when the session has a
    checkpoint dir configured, ``localCheckpoint`` otherwise.

    ``serialized=True`` stores the cut's blocks MEMORY_AND_DISK_SER
    instead of the deserialized default — mandatory for corpus-sized
    frames: the round-8 sf10 probe killed a 48 GB local JVM re-loading
    a ~200 M-row deserialized localCheckpoint block from disk
    (``maybeCacheDiskValuesInMemory`` materializes per-row Java
    objects; GCLocker allocation death), while serialized blocks hold
    one byte buffer per block and survive.  Values are identical; the
    only cost is a per-scan deserialize of already compact UnsafeRows.
    Control-plane-sized cuts (node sets, rank vectors, label tables)
    keep the faster deserialized default.

    ``localCheckpoint`` stores blocks on executors — fast, zero shared
    storage, and exactly right on local[*] or when the caller can
    re-run the job on executor loss; its blocks are reclaimed by the
    ContextCleaner once the frame is garbage collected.  On a
    1000-executor cluster those blocks die with their executor and the
    frame becomes unreadable mid-job, so production deployments that
    care set ``spark.sparkContext.setCheckpointDir(hdfs_path)`` once
    and every lineage cut in the engine silently upgrades to the
    fault-tolerant form.  Values and the frozen ``spark_partition_id``
    assignments the percentile/PPS operators rely on are identical
    either way.

    The cut keeps which row sits in which partition, but not the
    partitioning the planner sees: the cut frame scans with an unknown
    partitioning (Spark 4.1, eager or lazy, AQE on or off), so a join or
    aggregate on the key the input was hash-partitioned by shuffles
    again.  When the planner must see the partitioning, store the frame
    with :func:`transient_persist` instead.

    The reliable branch checkpoints THROUGH a transient cache: a bare
    ``Dataset.checkpoint`` computes the plan once for the action and
    AGAIN for the checkpoint-write job (RDD.doCheckpoint re-runs an
    unpersisted lineage), and a reliable checkpoint — unlike
    ``localCheckpoint`` — does not cache, so multi-consumer callers
    (the rank-offset self-join) would recompute upstream work per
    consumer.  Eager cuts drop the cache as soon as the checkpoint
    file is the source of truth; ``eager=False`` is honored too (the
    cut stays build-time-silent under a checkpoint dir — ADVICE r7) by
    deferring the checkpoint-write job to the first action and freeing
    the transient cache when the returned frame is garbage-collected
    (``weakref.finalize``), the same frees-on-frame-GC contract the
    local branch gets from the ContextCleaner.  A frame the CALLER
    already persisted is cut through its existing cache — no
    re-persist (PySpark raises on storage-level change), and its
    lifetime stays caller-owned.  Checkpoint FILES are reclaimed on
    frame GC because the session factory sets
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (the
    Spark default of false would grow the dir for the app's lifetime);
    sessions not built by :mod:`dataengineer_spark.session` should set
    it too.
    """
    from pyspark import StorageLevel

    # PySpark's MEMORY_AND_DISK is the SERIALIZED form (the JVM-side
    # DataFrame default is MEMORY_AND_DISK_DESER)
    level = StorageLevel.MEMORY_AND_DISK if serialized else None
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        lvl = df.storageLevel
        caller_owned = lvl.useMemory or lvl.useDisk
        cached = df if caller_owned else (
            df.persist(level) if level is not None else df.persist()
        )
        if eager:
            try:
                return cached.checkpoint(eager=True)
            finally:
                if not caller_owned:
                    cached.unpersist()
        out = cached.checkpoint(eager=False)
        if not caller_owned:
            import weakref

            weakref.finalize(out, _unpersist_quietly, cached)
        return out
    return df.localCheckpoint(eager=eager, storageLevel=level)


def _unpersist_quietly(cached: DataFrame) -> None:
    """GC finalizer for a transient cache (``tie_lifetime``, lineage_cut's
    lazy-reliable branch): drops the frame's :func:`temp_view`, if it has
    one, then unpersists — the JVM may already be gone at interpreter
    shutdown."""
    try:
        view = getattr(cached, "_graft_view", None)
        if view is not None:
            cached.sparkSession.catalog.dropTempView(view)
        cached.unpersist()
    except Exception:
        pass


def temp_view(df: DataFrame) -> str:
    """Register ``df`` as a temp view under a fresh name and return the
    name, for SQL text that reads a stored frame.

    The view is dropped by the finalizer that :func:`tie_lifetime` sets
    up for ``df``, so tie ``df`` to the result frame.  Dropping a view
    uncaches the persisted plan it names, which is why the drop waits
    for the result's GC: ``spark.sql(text, **frames)`` drops its views
    as soon as the call returns, and a persisted frame passed that way
    is recomputed by every consumer of the result.
    """
    import uuid

    name = f"_graft_{uuid.uuid4().hex}"
    df.createOrReplaceTempView(name)
    df._graft_view = name
    return name


def array_lit(values) -> "Column":
    """Literal array column from a Python list (1-D numbers or 2-D nested).

    Built as ONE parsed SQL expression string instead of per-element
    ``F.lit`` calls: py4j pays a JVM round trip per element, which measured
    ~0.5 s of DRIVER time per 16×64 codebook — ~140× slower than letting
    the JVM parser build the same literal tree. Matters because query
    callables construct their plan on every invocation.

    ``None`` elements are supported only in all-float arrays (typed
    ``CAST(NULL AS DOUBLE)``; a bare NULL in ``array()`` would type the
    array as VOID) — pca_power_top's degenerate-state arrays, the one
    user.  A None next to int/bool/str siblings raises instead of
    silently double-coercing the whole array (ADVICE r7).
    """
    from pyspark.sql import functions as F

    def flat(v):
        for x in v:
            if isinstance(x, (list, tuple)):
                yield from flat(x)
            else:
                yield x

    vals = list(values)
    leaves = list(flat(vals))
    if any(x is None for x in leaves) and not all(
        x is None or (isinstance(x, float) and not isinstance(x, bool))
        for x in leaves
    ):
        raise ValueError(
            "array_lit: None elements are only supported in all-float "
            "arrays (NULL is typed as DOUBLE)"
        )

    return F.expr(sql_literal(vals))


def sql_literal(v) -> str:
    """Render a Python scalar / string / (nested) list as a SQL literal —
    the parser-side twin of ``F.lit`` / ``F.array``: one JVM parse of the
    returned text builds the identical literal tree that per-element
    ``F.lit`` calls would, minus the py4j round trip per element.  Shared
    by :func:`array_lit` and the similarity module's single-``F.expr``
    expression builders (round-11: plan-BUILD py4j time was the majority
    of several E3 query walls)."""
    if isinstance(v, (list, tuple)):
        return "array(" + ",".join(sql_literal(x) for x in v) + ")"
    if v is None:
        return "CAST(NULL AS DOUBLE)"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        # bare integral literal: the parser picks INT when it fits,
        # BIGINT otherwise — same typing as F.lit on a Python int
        return str(v)
    if isinstance(v, str):
        # Spark string literals read backslash escapes (\t, \u0041, \'),
        # so the backslash is escaped FIRST, then the quote
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    f = float(v)
    if f != f:  # NaN: repr 'nan' is not a SQL literal
        return "CAST('NaN' AS DOUBLE)"
    if f == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if f == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(f) + "D"


def control_frame(spark, rows, schema):
    """Driver-side control-plane frame (offset tables, codebooks, audit
    manifests — tens to thousands of rows) via the Arrow local-relation
    path: ``createDataFrame`` over plain tuples routes through
    ``parallelize`` + pickle and costs ~0.3–0.5 s per call on a loaded
    driver, while the pandas/Arrow path is one columnar batch (~0.13 s
    measured for 96 rows — round-12).  STRICT type guard: the Arrow path
    is taken only when every value is a plain non-None str/bool/int/
    float (pandas dtype inference is then exact: int64/float64/bool/
    object-string, identical to tuple-path inference); anything else —
    None, Decimal, datetime, nested — falls back to the classic path,
    values identical either way.  ``schema`` is whatever
    ``createDataFrame`` accepts (name list, DDL string, StructType)."""
    simple = (str, bool, int, float)
    if rows and all(type(v) in simple for r in rows for v in r):
        import pandas as pd

        try:
            pdf = pd.DataFrame(list(rows))
            pdf.columns = range(len(pdf.columns))  # positional; schema names win
            return spark.createDataFrame(pdf, schema=schema)
        except Exception:  # noqa: BLE001 — typing doubt: take the slow path
            pass
    return spark.createDataFrame(rows, schema)
