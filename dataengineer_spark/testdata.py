"""Loaders for the driver synthetic tables (TESTDATA.md / FIXTURES.md §A).

One normalization applies: ``events.ts`` is nanosecond-precision in parquet,
which a vanilla Spark parquet scan refuses (PARQUET_TYPE_ILLEGAL); it is
read here with an explicit long-typed schema (``schemas.EVENTS_RAW``) and
floored to microseconds — exactly the value DuckDB reports for the same
file, so oracle comparisons line up (SURVEY.md §7.4.6).  No session conf is
required: every loader works in any SparkSession, including the external
correctness driver's.
"""

from __future__ import annotations

import os
import shutil
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineer_spark.session import local_cores

if TYPE_CHECKING:
    import pyarrow as pa

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Defensive: the caller may hand us a foreign SparkSession (the
    # correctness driver does).  Timestamp results must not depend on that
    # session's zone — pin UTC, matching the TZ-naive DuckDB oracle and
    # session.build_session's own default.  Runtime-settable, idempotent.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Size shuffle parallelism to the session's cores when it still has
    # Spark's out-of-the-box 200 (a tuned session is left alone) — the
    # same rule as session.build_session: a local master's core count, a
    # non-local master untouched.  Batch plans mostly coalesce under AQE,
    # but STREAMING state stores don't: every stateful operator
    # materializes one state store per shuffle partition, and 200 of them
    # made each gate streaming query ~4× slower.  DELIBERATE
    # session-global seam for the conf-less driver contract; a session
    # that was intentionally tuned TO 200 is indistinguishable from the
    # default and gets re-sized — pick any other value to opt out.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cores = local_cores(spark.conf.get("spark.master"))
        if cores is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(cores))
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts precision varies across testdata generations: µs with
        # isAdjustedToUTC=false (reads as TIMESTAMP_NTZ in a vanilla
        # session) or ns (vanilla read throws PARQUET_TYPE_ILLEGAL; a
        # session with spark.sql.legacy.parquet.nanosAsLong surfaces an
        # ns-long).  Normalize every case to a UTC TimestampType column
        # with µs values matching what DuckDB reports for the same file —
        # no session conf needed, so this works in ANY SparkSession,
        # including the correctness driver's.
        from dataengineer_spark.schemas import EVENTS_RAW

        if not events_ts_native(spark, path):
            # ns file: explicit long schema, floor to µs
            df = spark.read.schema(EVENTS_RAW).parquet(path)
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        df = _read_parquet(spark, path)
        if isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
            # naive wall clock == DuckDB's naive value; session TZ is
            # pinned UTC above, so the cast is value-preserving
            return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
        return df
    return _read_parquet(spark, path)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with the schema declared from the footer: Spark's own
    inference runs a job and ~0.1 s of driver time per read.  A timestamp
    without a zone declares as TIMESTAMP_NTZ and an INT96 one as
    TIMESTAMP, as Spark infers them.  A remote (``://``) path, or a footer
    with a type Spark reads differently (unsigned ints), keeps Spark's
    inference."""
    if "://" not in path:
        from pyspark.sql.pandas.types import from_arrow_schema

        try:
            schema = from_arrow_schema(parquet_footer(path), prefer_timestamp_ntz=True)
        except (TypeError, ValueError, OSError, StopIteration):
            schema = None
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


def parquet_footer(path: str) -> "pa.Schema":
    """Arrow schema of a local parquet file, or of the first part file of
    a directory of parts, read on the driver by pyarrow (no Spark job).
    INT96 columns — Spark's default timestamp encoding, which pyarrow
    reports as ns — come back as ``timestamp[us, UTC]``, the type Spark
    reads them as."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    footer = pq.ParquetFile(next(iter(ds.dataset(path, format="parquet").files)))
    schema = footer.schema_arrow
    for i in range(len(footer.schema)):
        col = footer.schema.column(i)
        if col.physical_type == "INT96" and col.path in schema.names:
            schema = schema.set(
                schema.get_field_index(col.path),
                pa.field(col.path, pa.timestamp("us", tz="UTC")),
            )
    return schema


def events_ts_native(spark: SparkSession, path: str) -> bool:
    """Whether an events table's ``ts`` reads as a Spark timestamp (a ms,
    µs or INT96 file) rather than needing the ns-long read and a floor to
    µs — the one precision probe of ``load_table`` and
    ``streaming.stream_events``.  A local path's footer is read on the
    driver; a remote (``://``) path keeps a batch-read probe (one job)."""
    if "://" in path:
        from pyspark.errors.exceptions.captured import AnalysisException

        try:
            dt = spark.read.parquet(path).schema["ts"].dataType
        except AnalysisException:
            return False  # ns file in a vanilla session
        return isinstance(dt, (T.TimestampType, T.TimestampNTZType))
    import pyarrow as pa

    ts = parquet_footer(path).field("ts").type
    return pa.types.is_timestamp(ts) and ts.unit in ("ms", "us")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Temp views named as in the DuckDB oracle."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def normalized_sf_dir(spark: SparkSession, sf_dir: str, out_dir: str) -> str:
    """Materialize a shadow scale-factor dir with ``events`` rewritten as a
    µs-normalized parquet (every other table symlinked in place).

    The raw testdata events file stores ns timestamps, so every query pays
    a schema-read + floor-to-µs conversion; a production lake would land
    µs-native. Benching against this copy measures the queries, not the
    ingest normalization (VERDICT r1 item 8). Safe to call repeatedly.
    """
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        dst = os.path.join(out_dir, f"{name}.parquet")
        if os.path.lexists(dst):
            if name == "events" and not os.path.exists(
                os.path.join(dst, "_SUCCESS")
            ):
                # interrupted prior materialization: a partial directory
                # without the commit marker must not be trusted
                shutil.rmtree(dst, ignore_errors=True)
            else:
                continue
        if name == "events":
            # write to a temp location, rename into place on success, so
            # a killed run never leaves a truncated-but-present table
            tmp = dst + "._tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            load_table(spark, sf_dir, "events").write.parquet(tmp)
            os.rename(tmp, dst)
        else:
            # abspath: a relative sf_dir would make the symlink resolve
            # relative to out_dir and dangle
            os.symlink(
                os.path.abspath(os.path.join(sf_dir, f"{name}.parquet")), dst
            )
    return out_dir
