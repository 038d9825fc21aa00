"""File sources/sinks: CSV scan (S1), CSV sink (K3), JSON and ORC.

The reference read CSVs with ``pd.read_csv`` — one variant with
``encoding='latin-1', na_values=''`` (reference dx_group.py:93,
mvp_pipe.py:44) — and wrote with ``to_csv`` (mvp_pipe.py:33,62). Here the
scan is distributed and schema-first: ``inferSchema`` only when no schema is
given (ingest-boundary convenience, SURVEY.md §1.4). JSON (line-delimited)
and ORC complete the interchange-format surface beyond the lake's parquet:
both are splittable at scale, and JSON is the wire format REST-ish feeds
(S5) actually deliver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    encoding: str = "UTF-8",
    header: bool = True,
    empty_as_null: bool = True,
    multiline: bool = False,
) -> DataFrame:
    """S1 — CSV scan. ``encoding='ISO-8859-1'`` reproduces the latin-1

    variant; ``empty_as_null`` reproduces ``na_values=''``.

    ``multiline=True`` parses quoted fields containing newlines (which
    ``write_csv`` emits for free text) — required for such round-trips,
    but it makes every file a SINGLE split (the parser can't start
    mid-record), so at scale keep free text in the JSON/parquet lanes
    and CSV for flat records.  Default False preserves splittability.
    """
    reader = (
        spark.read.option("header", header)
        .option("encoding", encoding)
        .option("emptyValue", None if empty_as_null else "")
        .option("multiLine", multiline)
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def write_csv(
    df: DataFrame, path: str, header: bool = True, single_file: bool = False
) -> None:
    """K3 — CSV sink. ``single_file`` coalesces to one part for parity with

    ``to_csv`` (only sane for export-sized results, not bulk data)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", header).csv(path)


def read_json(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Line-delimited JSON scan, schema-first (schema inference over JSON
    costs a full extra pass of the data — never at 100 TB)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_json(df: DataFrame, path: str) -> None:
    """Line-delimited JSON sink — one object per row, string fields
    escaped, so free text with newlines round-trips losslessly."""
    df.write.mode("overwrite").json(path)


def read_json_permissive(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    corrupt_col: str = "_corrupt_record",
) -> DataFrame:
    """Malformed-tolerant JSON scan: PERMISSIVE mode parses what it can

    and lands each unparseable line VERBATIM in ``corrupt_col`` (data
    fields NULL) instead of failing the job or silently dropping — the
    ingest contract for third-party feeds at scale, feeding
    ``catalog.quarantine_write`` (route ``corrupt_col IS NOT NULL``).
    The corrupt column must be part of the declared schema for Spark to
    populate it; this helper appends it so callers keep their clean
    schema.  Still schema-first: no inference pass.
    """
    full = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )


def read_parquet_merged(spark: SparkSession, *paths: str) -> DataFrame:
    """Schema-evolution-tolerant parquet scan: union the footer schemas

    of every file (``mergeSchema=true``) so batches written before a
    column was added read back with that column NULL-filled — the lake
    reality at 100 TB, where a schema change can never rewrite history.
    mergeSchema costs one footer read per file (not a data pass) and is
    off by default in Spark precisely because of that planning cost at
    huge file counts; this helper scopes it to the scans that need it
    instead of turning it on session-wide.
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def read_orc(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """ORC scan — columnar like parquet (predicate pushdown + column
    pruning apply), kept for interchange with Hive-era warehouses."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").orc(path)
