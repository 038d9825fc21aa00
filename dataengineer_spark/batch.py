"""Batch-audit lineage: allocator + run context (K2 / O6).

The reference's signature data-model idea: every run inserts a ``batch``
row, gets a DB-generated ``batch_id`` back (Postgres INSERT..RETURNING —
reference dx_group.py:108,116), stamps it on every derived row
(dx_group.py:119) and filters by it downstream (dx_group.py:153).

Spark has no distributed auto-increment, so allocation is a deliberate
engine service (SURVEY.md §7.4.1): a driver-side single-writer reads
``max(batch_id)`` from the audit parquet, adds 1, and appends the audit row
*before* any data write. The single-writer assumption matches the reference
(one Airflow scheduler). Only the one-row audit table ever touches the
driver — bulk data never does.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataengineer_spark import schemas as S
from dataengineer_spark.catalog import Catalog
from dataengineer_spark.config import RunConfig

AUDIT_TABLE = "batch"


def _audit_row(
    spark: SparkSession,
    batch_id: int,
    pipeline_name: str | None,
    date_from: str | None,
    date_to: str | None,
    comment: str | None,
) -> DataFrame:
    """One ``S.BATCH`` audit row as an Arrow local relation.

    ``createDataFrame`` over Python tuples goes through ``parallelize`` and
    pickle, which costs a 4-task job with a Python worker (0.3–0.4 s) for
    one row.  An Arrow table typed by ``S.BATCH`` becomes a
    ``LocalRelation`` in the plan: the append's write job is the only job,
    NULL dates stay NULL and int64 ids stay exact.  (``tuning.control_frame``
    is no substitute: it sends any ``None`` down the pickle path.)
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    row = {
        "batch_id": batch_id,
        "pipeline_name": pipeline_name,
        "date_from": date_from,
        "date_to": date_to,
        "comment": comment,
    }
    table = pa.Table.from_pylist([row], schema=to_arrow_schema(S.BATCH))
    return spark.createDataFrame(table, S.BATCH)


@dataclass(frozen=True)
class BatchContext:
    batch_id: int
    config: RunConfig


class BatchAllocator:
    """Single-writer batch_id allocator over the parquet audit table."""

    def __init__(self, catalog: Catalog):
        self.catalog = catalog

    def _next_id(self) -> int:
        if not self.catalog.exists(AUDIT_TABLE):
            return 1
        row = (
            self.catalog.read(AUDIT_TABLE)
            .agg(F.max("batch_id").alias("m"))
            .first()
        )
        return int(row["m"] or 0) + 1

    def open_batch(self, config: RunConfig) -> BatchContext:
        """Allocate an id and persist the audit row (K2 + F8 comment)."""
        batch_id = self._next_id()
        row_df = _audit_row(
            self.catalog.spark,
            batch_id,
            config.pipeline_name,
            config.date_from,
            config.date_to,
            config.audit_comment,
        )
        self.catalog.write(row_df, AUDIT_TABLE, mode="append")
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
