"""Batch-audit lineage: allocator + run context (K2 / O6).

The reference's signature data-model idea: every run inserts a ``batch``
row, gets a DB-generated ``batch_id`` back (Postgres INSERT..RETURNING —
reference dx_group.py:108,116), stamps it on every derived row
(dx_group.py:119) and filters by it downstream (dx_group.py:153).

Spark has no distributed auto-increment, so allocation is a deliberate
engine service (SURVEY.md §7.4.1): a driver-side single writer reads
``max(batch_id)`` from the audit parquet, adds 1, and appends the audit row
*before* any data write. The single-writer assumption matches the reference
(one Airflow scheduler). On a local lake both steps run on the driver with
pyarrow and submit no Spark job: the read is one column of a one-row-per-
batch table, and the append is one parquet file renamed into place. On a
remote (``://``) root, which the driver cannot list or rename on, they are
a Spark aggregate and a Spark append. Only the audit table ever touches the
driver — bulk data never does.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_spark import schemas as S
from dataengineer_spark.catalog import Catalog
from dataengineer_spark.config import RunConfig

AUDIT_TABLE = "batch"


def _audit_table(
    batch_id: int,
    pipeline_name: str | None,
    date_from: str | None,
    date_to: str | None,
    comment: str | None,
):
    """One ``S.BATCH`` audit row as a pyarrow table: NULL dates stay NULL
    and int64 ids stay exact."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    row = {
        "batch_id": batch_id,
        "pipeline_name": pipeline_name,
        "date_from": date_from,
        "date_to": date_to,
        "comment": comment,
    }
    return pa.Table.from_pylist([row], schema=to_arrow_schema(S.BATCH))


def _audit_row(spark: SparkSession, *row) -> DataFrame:
    """One ``S.BATCH`` audit row (``_audit_table``'s arguments) as an Arrow
    local relation, for the Spark append on a remote root.

    ``createDataFrame`` over Python tuples goes through ``parallelize`` and
    pickle, which costs a 4-task job with a Python worker (0.3–0.4 s) for
    one row.  An Arrow table becomes a ``LocalRelation`` in the plan, so
    the append's write job is the only job.  (``tuning.control_frame`` is
    no substitute: it sends any ``None`` down the pickle path.)
    """
    return spark.createDataFrame(_audit_table(*row), S.BATCH)


def _audit_max_id(catalog: Catalog, **match) -> int | None:
    """``max(batch_id)`` over the audit rows whose columns equal ``match``
    (column → value); None when no row matches or there is no table.

    On a local lake this is a driver-side pyarrow scan of the
    ``batch_id`` column and submits no Spark job.  pyarrow's default
    ignore prefixes (``.``, ``_``) skip ``_SUCCESS``, ``.crc`` files and
    ``_append_audit``'s in-flight temp file, as Spark's reader does.
    A remote root keeps the Spark aggregate.
    """
    if "://" in catalog.path(AUDIT_TABLE):
        df = catalog.read(AUDIT_TABLE)
        for col, value in match.items():
            df = df.where(F.col(col) == value)
        return df.agg(F.max("batch_id")).first()[0]
    if not catalog.exists(AUDIT_TABLE):
        return None
    import pyarrow.compute as pc
    import pyarrow.dataset as ds
    from pyspark.sql.pandas.types import to_arrow_schema

    cond = None
    for col, value in match.items():
        term = ds.field(col) == value
        cond = term if cond is None else cond & term
    table = ds.dataset(
        catalog.path(AUDIT_TABLE), schema=to_arrow_schema(S.BATCH), format="parquet"
    ).to_table(columns=["batch_id"], filter=cond)
    return pc.max(table.column("batch_id")).as_py()


def _append_audit(catalog: Catalog, *row) -> None:
    """Append one audit row (``_audit_table``'s arguments).

    On a local lake the row is one parquet file written on the driver
    under a dot-prefixed temp name, then renamed to ``part-<uuid>.parquet``:
    Spark, pyarrow and DuckDB's ``*.parquet`` glob never see a partial
    file, and no Spark job runs.  A remote root keeps the Spark append.
    """
    path = catalog.path(AUDIT_TABLE)
    if "://" in path:
        catalog.write(_audit_row(catalog.spark, *row), AUDIT_TABLE, mode="append")
        return
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(_audit_table(*row), tmp)
    os.rename(tmp, os.path.join(path, name))


@dataclass(frozen=True)
class BatchContext:
    batch_id: int
    config: RunConfig


class BatchAllocator:
    """Single-writer batch_id allocator over the parquet audit table."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    def _next_id(self) -> int:
        return (_audit_max_id(self.catalog) or 0) + 1

    def open_batch(self, config: RunConfig) -> BatchContext:
        """Allocate an id and persist the audit row (K2 + F8 comment).

        Driver-side: on a local lake the ``max(batch_id)`` read and the
        append submit 0 Spark jobs (see ``_audit_max_id``/``_append_audit``).
        """
        batch_id = self._next_id()
        _append_audit(
            self.catalog,
            batch_id,
            config.pipeline_name,
            config.date_from,
            config.date_to,
            config.audit_comment,
        )
        return BatchContext(batch_id=batch_id, config=config)

    def latest_batch(self, pipeline_name: str | None = None) -> DataFrame:
        """Most recent audit row — pipeline chaining reads its parent batch

        this way (reference prostate_dag.py:59-63).
        """
        df = self.catalog.read(AUDIT_TABLE)
        if pipeline_name is not None:
            df = df.where(F.col("pipeline_name") == pipeline_name)
        return df.orderBy(F.col("batch_id").desc()).limit(1)


def stamp_batch(df: DataFrame, batch_id: int) -> DataFrame:
    """Stamp lineage on every derived row (P5 — reference dx_group.py:119)."""
    return df.withColumn("batch_id", F.lit(batch_id).cast("bigint"))
