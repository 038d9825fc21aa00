"""JSON column functions.

The testdata's ``events.props`` is a JSON string column — the shape every
event pipeline carries. Extraction stays JVM-side (``get_json_object`` /
``from_json``); parse the schema once per query, not per row in Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def json_get_long(col: Column | str, path: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.get_json_object(c, f"$.{path}").try_cast("bigint")


def parse_json(df: DataFrame, col: str, schema: T.StructType | str, out: str = "_json") -> DataFrame:
    """Parse the whole JSON column to a typed struct (one pass, columnar)."""
    return df.withColumn(out, F.from_json(F.col(col), schema))
