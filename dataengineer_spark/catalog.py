"""Named-table catalog over a parquet lake.

Replaces the reference's Postgres data plane (every task round-tripped the
full dataset through named Postgres tables — reference dx_group.py:129,184,
192,246,261). Here a table name maps to a parquet directory; pipeline
contract outputs (``cleaned_data``, ``preped_data``, ``prediction_table``)
are written ``partitionBy('batch_id')`` so the reference's ubiquitous
``WHERE batch_id={id}`` filter (dx_group.py:153) becomes partition pruning —
at 100 TB a batch read touches only its own partition directories, never the
full table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from dataengineer_spark.tuning import lineage_cut, sql_literal


from dataengineer_spark import schemas as S

#: Hive's NULL partition directory value (what Spark writes for a NULL key)
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: Declared schemas of the engine's own lake tables: the batch-audit table
#: (``batch.AUDIT_TABLE``) and the three DX-Group contract outputs.
#: ``Catalog.read`` hands these to the parquet reader, so a read-back skips
#: Spark's schema inference (one footer-reading job plus ~0.1 s of driver
#: time per read, four reads per clinical batch) and ``batch_id`` reads
#: back as its declared ``bigint`` instead of the ``int`` Spark infers from
#: ``batch_id=N`` directory names.  Partition columns still come last, so
#: read-back column order is the inferred one.  Tables attached from
#: outside the lake and every table not named here keep inference, and a
#: schema passed to ``read`` wins.
LAKE_SCHEMAS: dict[str, T.StructType] = {
    "batch": S.BATCH,
    "cleaned_data": S.CLEANED_DATA,
    "preped_data": S.PREPED_DATA,
    "prediction_table": S.PREDICTION_TABLE,
}


def unescape_partition_value(name: str) -> "str | None":
    """Decode one hive-style partition directory VALUE back to its string.

    Spark/Hive escape special characters in partition paths as uppercase
    ``%XX`` (e.g. ``a/b`` → ``a%2Fb``) and write NULL as
    ``__HIVE_DEFAULT_PARTITION__`` — so matching directories by raw
    f-string interpolation silently misses any partition whose value
    contains an escaped character.  Decoding needs no knowledge of the
    escape SET (any ``%XX`` decodes), which makes directory-diff cleanup
    robust against Hive extending it.
    """
    if name == HIVE_DEFAULT_PARTITION:
        return None
    out: list[str] = []
    i = 0
    while i < len(name):
        c = name[i]
        if c == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def _partition_in(partition_col: str, touched: list):
    """``col IN touched`` that also matches NULL when touched contains None.

    Plain ``isin`` returns SQL NULL (not true) for a NULL partition value,
    so a batch touching the NULL partition would exclude its kept rows
    from the dynamic overwrite and the rewrite would drop them.
    """
    from pyspark.sql import functions as F

    non_null = [v for v in touched if v is not None]
    cond = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if len(non_null) != len(touched):
        cond = cond | F.col(partition_col).isNull()
    return cond


class Catalog:
    """Read/write named tables under a root directory.

    ``root`` is the lake location (a local dir in tests, an object-store
    prefix in production). Testdata tables can be attached read-only from a
    scale-factor directory via ``attach_testdata``.
    """

    #: tables that carry batch lineage and get hive-style batch_id partitions
    #: tables written one ingest batch at a time; ``write`` partitions them
    #: by batch_id so per-batch overwrite/compaction prune to one directory.
    #: ``neardup_signatures`` is the stored MinHash-LSH index
    #: (dedup.signature_table rows + batch_id): every ingested batch
    #: appends its band rows, every later batch probes the whole table,
    #: and compact_batch periodically collapses the per-epoch small files
    #: so probe-scan task counts track index SIZE, not append history.
    BATCH_PARTITIONED = {
        "cleaned_data",
        "preped_data",
        "prediction_table",
        "neardup_signatures",
    }

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self._external: dict[str, str] = {}

    # -- resolution --------------------------------------------------------

    def path(self, table: str) -> str:
        if table in self._external:
            return self._external[table]
        return f"{self.root}/{table}"

    def attach(self, table: str, path: str) -> None:
        """Register an external parquet location under a table name."""
        self._external[table] = path

    def attach_testdata(self, sf_dir: str) -> None:
        """Attach every driver synthetic table from a scale-factor dir."""
        for name in S.TESTDATA_SCHEMAS:
            self.attach(name, os.path.join(sf_dir, f"{name}.parquet"))

    def exists(self, table: str) -> bool:
        p = self.path(table)
        if "://" in p:  # remote FS: let Spark decide at read time
            return True
        return os.path.exists(p)

    def _require_local(self, op: str) -> None:
        """The staged-swap mutations (merge_upsert / apply_cdc /
        merge_aggregate) and emptied-partition cleanup rename/delete
        directories with os/shutil — atomic swap semantics a plain
        object-store prefix cannot provide (and exists() can't even
        probe remotely).  Refuse loudly on a remote root instead of
        failing mid-swap: on object stores these operations belong to a
        transactional table format's commit protocol (the same seam the
        codec/JDBC stubs declare)."""
        if "://" in self.root:
            raise NotImplementedError(
                f"Catalog.{op}: staged-swap table mutation requires a "
                "local (POSIX) lake root; object-store merges need a "
                "transactional table format's commit protocol"
            )

    # -- IO ----------------------------------------------------------------

    def read(self, table: str, schema: T.StructType | None = None) -> DataFrame:
        if schema is None and table not in self._external:
            schema = LAKE_SCHEMAS.get(table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

    def read_batch(self, table: str, batch_id: int) -> DataFrame:
        """Read one batch partition — prunes to batch_id=N directories."""
        from pyspark.sql import functions as F

        return self.read(table).where(F.col("batch_id") == batch_id)

    def write(self, df: DataFrame, table: str, mode: str = "append") -> None:
        writer = df.write.mode(mode)
        if table in self.BATCH_PARTITIONED and "batch_id" in df.columns:
            writer = writer.partitionBy("batch_id")
        writer.parquet(self.path(table))

    def overwrite_batch(self, df: DataFrame, table: str) -> None:
        """Idempotent per-batch write: replace only the touched batch

        partitions (dynamic partition overwrite), so a retried run
        (reference retries=1, dx_group.py:33-34) rewrites its own batch
        without clobbering others.
        """
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(self.path(table))
        )

    def compact_batch(
        self,
        table: str,
        batch_id: int,
        target_files: int | None = None,
        partition_col: str = "batch_id",
    ) -> int:
        """Rewrite one batch partition into ``target_files`` files (default:
        size-based — one file per 128 MB, min 1). Streaming epochs and
        incremental appends accumulate small files; a scan's task count
        follows file layout, so periodic compaction keeps read parallelism
        matched to data size instead of write history. Other batches are
        never touched; idempotent.  ``partition_col`` generalizes the
        same staged-swap rewrite to other partition keys (the streaming
        sinks' ``_epoch=N`` layout — compact_neardup_ingest).

        Crash-safety: the compacted files are fully materialized to a
        staging location BEFORE the live partition is replaced — the
        rewrite never reads lazily from the directory it is overwriting.
        On a local/posix lake the replacement is two directory renames
        (source preserved until the staged write succeeded); on an object
        store there is no atomic rename, so the window between the staged
        materialization and the dynamic-overwrite commit is non-atomic —
        a crash inside it can leave the partition mid-replace, and the
        (idempotent) compaction must be re-run.
        """
        from pyspark.sql import functions as F

        table_path = self.path(table)
        part_dir = f"{table_path}/{partition_col}={batch_id}"
        local = "://" not in table_path
        if local and not os.path.isdir(part_dir):
            return 0
        df = self.read(table).where(F.col(partition_col) == batch_id)
        if target_files is None:
            size = 0
            if local:  # remote lakes pass target_files explicitly
                for root, _dirs, files in os.walk(part_dir):
                    size += sum(os.path.getsize(os.path.join(root, f)) for f in files)
            chunk = 128 * 1024 * 1024
            target_files = max(1, size // chunk + (1 if size % chunk else 0))
        if local:
            # stage next to the live partition ('_'-prefixed → invisible to
            # table scans), then swap via rename: the source partition is
            # intact until the staged write has fully succeeded.
            staging = f"{table_path}/_compacting_{partition_col}={batch_id}"
            retired = f"{table_path}/_retired_{partition_col}={batch_id}"
            shutil.rmtree(staging, ignore_errors=True)
            shutil.rmtree(retired, ignore_errors=True)
            # the partition value comes from the directory name on read;
            # keeping the column in the staged files would shadow it
            df.drop(partition_col).repartition(target_files).write.parquet(staging)
            os.rename(part_dir, retired)
            os.rename(staging, part_dir)
            shutil.rmtree(retired)
        else:
            # object store: materialize first (cut lineage from the files
            # about to be replaced), then dynamic partition overwrite
            staged = lineage_cut(df.repartition(target_files))
            (
                staged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(table_path)
            )
        return target_files

    def write_bucketed(
        self,
        df: DataFrame,
        table: str,
        bucket_cols: list[str],
        n_buckets: int = 32,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Persist as a bucketed (metastore-tracked) table: rows are hash-
        distributed into ``n_buckets`` files by ``bucket_cols`` at write
        time, so every later join or aggregation on those columns reads
        co-located data and plans NO shuffle exchange — the write pays the
        shuffle once, every downstream query skips it. The big-fact ⋈
        big-fact answer when broadcast is impossible; pick n_buckets so
        one bucket ≈ one task's memory at target scale.
        """
        writer = df.write.mode(mode).format("parquet").bucketBy(
            n_buckets, *bucket_cols
        )
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.option("path", self.path(table)).saveAsTable(table)

    def read_table(self, table: str) -> DataFrame:
        """Read a metastore-tracked (e.g. bucketed) table — bucket layout
        metadata only survives through the table catalog, not raw paths."""
        return self.spark.table(table)

    def merge_upsert(
        self,
        df: DataFrame,
        table: str,
        key_cols: list[str],
        partition_col: str | None = None,
    ) -> None:
        """MERGE (upsert) into a parquet lake table: incoming rows replace
        existing rows with the same key, everything else is kept.

        Plain parquet has no row-level MERGE (that is what a transactional
        table format's metadata buys), so this rewrites data — but only as
        much as the keys demand:

        - with ``partition_col``: ONLY the partitions the incoming batch
          touches are read (partition pruning), merged (anti join on key +
          union), and dynamically overwritten — untouched partitions are
          never scanned or rewritten. The touched-partition list is a
          control-plane collect. This is the scale path: rewrite volume
          follows the incoming batch, not the table.
        - without: whole-table rewrite through the same staged swap as
          compact_batch (never reads lazily from the path being replaced).
        """
        self._require_local("merge_upsert")
        from pyspark.sql import functions as F

        if not self.exists(table):
            writer = df.write
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(self.path(table))
            return
        current = self.read(table)
        incoming_keys = df.select(*key_cols).dropDuplicates()
        if partition_col:
            touched = [
                r[0] for r in df.select(partition_col).dropDuplicates().collect()
            ]
            keep = (
                current.where(_partition_in(partition_col, touched))
                .join(F.broadcast(incoming_keys), key_cols, "left_anti")
            )
            merged = lineage_cut(keep.unionByName(df))
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(self.path(table))
            )
            return
        keep = current.join(incoming_keys, key_cols, "left_anti")
        merged = keep.unionByName(df)
        staging = f"{self.path(table)}_merging"
        retired = f"{self.path(table)}_retired"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(retired, ignore_errors=True)
        merged.write.parquet(staging)
        os.rename(self.path(table), retired)
        os.rename(staging, self.path(table))
        shutil.rmtree(retired)

    def apply_cdc(
        self,
        changes: DataFrame,
        table: str,
        key_cols: list[str],
        op_col: str = "op",
        seq_col: str | None = None,
        partition_col: str | None = None,
    ) -> None:
        """Apply a CDC change batch (insert/update/delete) to a lake

        table — the replication-consumer completion of ``merge_upsert``:
        rows with ``op_col`` in ('I', 'U') upsert, 'D' removes the key.
        With ``seq_col`` (a monotonically increasing change sequence,
        e.g. the source LSN), multiple changes to one key within the
        batch collapse to the LATEST before applying — without it the
        batch must be pre-deduplicated per key (enforced: raises on
        duplicate keys so out-of-order applies can't corrupt silently).

        Scale shape: one window (or none) over the CHANGE batch — never
        the table; then exactly ``merge_upsert``'s touched-partition
        rewrite, so rewrite volume follows the batch.  Deletes are
        physical here (plain parquet has no tombstones — a transactional
        format's metadata is what buys logical deletes).  Partitioned
        caveat (same as every partition-pruned MERGE): an update that
        MOVES a key across partitions must ship a 'D' for the old
        partition too, since only touched partitions are rewritten.
        """
        self._require_local("apply_cdc")
        from pyspark.sql import functions as F

        # unrecognized ops would otherwise become silent deletes (the key
        # joins into touched_keys but nothing re-inserts it) — refuse the
        # batch instead; map vendor markers ('r', 'c', 'T', …) upstream
        bad_op = changes.where(
            ~F.col(op_col).isin("I", "U", "D") | F.col(op_col).isNull()
        )
        if bad_op.limit(1).count():
            sample = bad_op.select(op_col).limit(3).collect()
            raise ValueError(
                "apply_cdc: change batch contains ops outside {'I','U','D'}: "
                f"{[r[0] for r in sample]} — map or drop them upstream"
            )
        if seq_col is not None:
            from pyspark.sql import Window as W

            # ties on (key, seq) would make the winner partition-dependent
            dup = (
                changes.groupBy(*key_cols, seq_col)
                .count()
                .where(F.col("count") > 1)
            )
            if dup.limit(1).count():
                raise ValueError(
                    "apply_cdc: duplicate (key, seq) pairs in change batch "
                    "— the latest-change collapse would be nondeterministic;"
                    " refine seq_col granularity or pre-collapse upstream"
                )
            w = W.partitionBy(*key_cols).orderBy(F.col(seq_col).desc())
            changes = (
                changes.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            dup = (
                changes.groupBy(*key_cols).count().where(F.col("count") > 1)
            )
            if dup.limit(1).count():
                raise ValueError(
                    "apply_cdc: duplicate keys in change batch and no "
                    "seq_col to order them — collapse upstream or pass "
                    "seq_col"
                )
        upserts = changes.where(F.col(op_col) != "D").drop(op_col)
        if seq_col is not None:
            upserts = upserts.drop(seq_col)
        if not self.exists(table):
            writer = upserts.write
            if partition_col:
                writer = writer.partitionBy(partition_col)
            writer.parquet(self.path(table))
            return
        current = self.read(table)
        # deletes need no separate frame: every changed key is anti-joined
        # out of the kept rows and only I/U rows are re-inserted
        touched_keys = changes.select(*key_cols).dropDuplicates()
        if partition_col:
            touched = [
                r[0]
                for r in changes.select(partition_col).dropDuplicates().collect()
            ]
            keep = current.where(_partition_in(partition_col, touched)).join(
                F.broadcast(touched_keys), key_cols, "left_anti"
            )
            merged = lineage_cut(keep.unionByName(upserts))
            (
                merged.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy(partition_col)
                .parquet(self.path(table))
            )
            # dynamic overwrite only rewrites partitions PRESENT in the
            # written data: a delete that empties a partition leaves the
            # old directory behind — drop those explicitly (touched list
            # is control-plane-sized).  Match directories by DECODING the
            # hive-escaped dir names rather than interpolating values into
            # paths: Spark writes `a/b` as `a%2Fb` and NULL as
            # __HIVE_DEFAULT_PARTITION__, so a raw f-string join would
            # silently skip those partitions and their deleted rows would
            # resurface on read.
            remaining = {
                r[0] for r in merged.select(partition_col).dropDuplicates().collect()
            }
            gone = {
                None if v is None else str(v)
                for v in touched
                if v not in remaining
            }
            prefix = f"{partition_col}="
            for entry in os.listdir(self.path(table)):
                if not entry.startswith(prefix):
                    continue
                if unescape_partition_value(entry[len(prefix):]) in gone:
                    shutil.rmtree(
                        os.path.join(self.path(table), entry),
                        ignore_errors=True,
                    )
            return
        keep = current.join(F.broadcast(touched_keys), key_cols, "left_anti")
        merged = keep.unionByName(upserts)
        staging = f"{self.path(table)}_merging"
        retired = f"{self.path(table)}_retired"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(retired, ignore_errors=True)
        merged.write.parquet(staging)
        os.rename(self.path(table), retired)
        os.rename(staging, self.path(table))
        shutil.rmtree(retired)

    def merge_aggregate(
        self,
        delta: DataFrame,
        table: str,
        key_cols: list[str],
        merge_cols: list[str],
    ) -> None:
        """Incremental aggregate maintenance: fold a DELTA of mergeable

        partial aggregates (counts, decimal sums — anything associative)
        into a stored aggregate table, without ever touching the raw
        fact data again.  The incremental-view-maintenance pattern: the
        stored state is per-key partials, refresh cost follows the delta
        (one union + one hash re-aggregate on the keys), and the result
        is identical to a full recompute because the merged columns are
        associative-commutative.

        First call seeds the table; later calls read state + union delta
        + re-sum through the same staged swap as ``merge_upsert`` (never
        reading lazily from the path being replaced).
        """
        self._require_local("merge_aggregate")
        from pyspark.sql import functions as F

        if not self.exists(table):
            delta.write.parquet(self.path(table))
            return
        current = self.read(table)
        merged = current.unionByName(delta).groupBy(*key_cols).agg(
            *[F.sum(c).alias(c) for c in merge_cols]
        )
        staging = f"{self.path(table)}_merging"
        retired = f"{self.path(table)}_retired"
        shutil.rmtree(staging, ignore_errors=True)
        shutil.rmtree(retired, ignore_errors=True)
        merged.write.parquet(staging)
        os.rename(self.path(table), retired)
        os.rename(staging, self.path(table))
        shutil.rmtree(retired)

    def quarantine_write(
        self,
        df: DataFrame,
        table: str,
        checks: "dict[str, object]",
        batch_id: int | None = None,
    ) -> DataFrame:
        """Constraint-routed dual sink — the dead-letter pattern: rows

        passing ALL ``checks`` (name → boolean Column) append to
        ``table``; failing rows append to ``<table>_quarantine`` with a
        ``reject_reason`` column naming every violated rule (pipe-
        joined, deterministic order), so bad records are never silently
        dropped NOR poison the clean table, and a later backfill can
        replay the quarantine after a rule fix.

        Scale shape: the rule predicates are one map-side projection
        evaluated once; the two writes each re-scan the (cheap,
        file-backed) input rather than caching row-scale data.  Returns
        the audit manifest (n_valid, n_quarantined, and per-rule
        violation counts as rows) — control-plane-sized, and CUMULATIVE:
        counts reflect the whole lake table/quarantine after the append
        (the lake-state report; pinned by tests), not just this batch —
        diff two manifests for per-batch deltas.

        NULL semantics: a check evaluating to NULL (SQL unknown) does
        NOT quarantine the row — write NULL-rejecting rules explicitly
        (``col.isNotNull() & pred``) when unknown must fail, same as a
        SQL CHECK constraint.
        """
        from pyspark.sql import functions as F

        names = sorted(checks)
        # reject_reason is pipe-DELIMITED and later split on '|' for the
        # per-rule hit counts — a name containing the delimiter (or an
        # empty name, indistinguishable from "no violation") would make
        # the audit manifest silently miscount
        bad_names = [n for n in names if not n or "|" in n]
        if bad_names:
            raise ValueError(
                "quarantine_write: check names must be non-empty and must "
                f"not contain '|' (the reject_reason delimiter): {bad_names}"
            )
        flagged = df.withColumn(
            "reject_reason",
            F.concat_ws(
                "|",
                *[F.when(~checks[n], F.lit(n)) for n in names],
            ),
        )
        if batch_id is not None:
            flagged = flagged.withColumn("batch_id", F.lit(batch_id))
        valid = flagged.where(F.col("reject_reason") == "").drop("reject_reason")
        bad = flagged.where(F.col("reject_reason") != "")
        # the two sinks are independent jobs over the same (cheap,
        # file-backed) input — submit them concurrently so the second
        # write's tasks back-fill the first one's straggler tail
        # (guide §2.6 overlap-independent-jobs; round-12: −0.3 s of the
        # ~0.6 s sequential write wall at sf0.1).  Two threads only, and
        # joined before the read-backs below, so the cumulative-manifest
        # ordering contract is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            fv = pool.submit(self.write, valid, table)
            fb = pool.submit(self.write, bad, f"{table}_quarantine")
            fv.result()
            fb.result()
        clean_n = self.read(table).count()
        quar = self.read(f"{table}_quarantine")
        # ONE aggregate pass over the quarantine table yields the total
        # AND every per-rule violation count (explode the reason list,
        # count rows + rule hits together) — a per-rule filtered count
        # would re-scan the growing table len(checks) times per batch
        agg = (
            quar.select(
                F.explode(F.split("reject_reason", r"\|")).alias("rule"),
                "reject_reason",
            )
            .groupBy("rule")
            .agg(
                F.count("*").alias("hits"),
                # rows where this rule is the FIRST listed violation —
                # summing these over rules counts each row exactly once
                F.sum(
                    (
                        F.split("reject_reason", r"\|").getItem(0)
                        == F.col("rule")
                    ).cast("long")
                ).alias("firsts"),
            )
            .collect()
        )
        rule_hits = {r["rule"]: r["hits"] for r in agg}
        quar_n = sum(r["firsts"] for r in agg)
        rows = [("_valid", clean_n), ("_quarantined", quar_n)] + [
            (n, rule_hits.get(n, 0)) for n in names
        ]
        # manifest as one parsed VALUES literal: createDataFrame routes a
        # 5-row local frame through parallelize + Python serialization
        # (~0.3 s per call); the SQL literal is a single parser trip.
        # Names are caller strings — sql_literal escapes them.
        vals = ", ".join(
            f"({sql_literal(str(r))}, CAST({int(v)} AS BIGINT))" for r, v in rows
        )
        return self.spark.sql(f"SELECT col1 AS rule, col2 AS n FROM (VALUES {vals})")

    def register_views(self, tables: list[str] | None = None) -> None:
        """Expose tables as temp views for the SQL API (P2)."""
        names = tables if tables is not None else list(self._external)
        for name in names:
            self.read(name).createOrReplaceTempView(name)
