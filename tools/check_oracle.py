"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and, where an ``oracle_sql()`` entry
exists, the oracle on DuckDB over the same parquet; compares row count,
schema width, and order-insensitive values (exact for non-floats, exact
post-round for floats — the entry queries round on both sides already).

Runs on a VANILLA SparkSession (no engine confs) by default — the external
driver passes its own session into the query callables, so every query must
work without ``session.build_session``'s defaults.  Pass ``--engine`` to use
the tuned factory session instead.

Also flags any result column holding non-scalar values (list/ndarray/dict):
the driver's pandas row-hash raises ``unhashable type`` on those even for
rows-only checks (CORRECTNESS_r01 q_e4_fingerprint).

Usage: python tools/check_oracle.py [--engine] [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            out[c] = out[c].astype(str)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) < 1e-12
    return a == b


def dtype_family(dt) -> str:
    """int / float / bool / other — the driver's row hash renders values
    per-dtype (``246`` vs ``246.0``), so an int-vs-float mismatch between
    Spark and the DuckDB oracle hash-fails even when values are exact-equal
    (the r4 dtype-miss family: DuckDB sum() -> HUGEINT -> float64)."""
    if pd.api.types.is_bool_dtype(dt):
        return "bool"
    if pd.api.types.is_integer_dtype(dt):
        return "int"
    if pd.api.types.is_float_dtype(dt):
        return "float"
    return "other"


def compare(name: str, spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(duck_df):
        problems.append(f"row count {len(spark_df)} vs {len(duck_df)}")
        return problems
    sa, da = canon(spark_df), canon(duck_df)
    if list(sa.columns) != list(da.columns):
        problems.append(f"columns {list(sa.columns)} vs {list(da.columns)}")
        return problems
    for c in sa.columns:
        sf, df_ = dtype_family(sa[c].dtype), dtype_family(da[c].dtype)
        if sf != df_ and {sf, df_} <= {"int", "float", "bool"}:
            problems.append(
                f"col {c}: dtype family {sa[c].dtype} vs {da[c].dtype} "
                f"(driver hash is dtype-sensitive — CAST the oracle)"
            )
    if problems:
        return problems
    for c in sa.columns:
        sv, dv = sa[c].tolist(), da[c].tolist()
        bad = [
            (i, x, y) for i, (x, y) in enumerate(zip(sv, dv)) if not values_equal(x, y)
        ]
        if bad:
            i, x, y = bad[0]
            problems.append(f"col {c}: {len(bad)} diffs, first at row {i}: {x!r} vs {y!r}")
    return problems


def nonscalar_cols(df: pd.DataFrame) -> list[str]:
    bad = []
    for c in df.columns:
        head = df[c].head(20)
        if any(isinstance(v, (list, dict, set, np.ndarray)) for v in head):
            bad.append(c)
    return bad


def vanilla_session():
    """What the external correctness driver hands us: no engine confs."""
    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    return (
        SparkSession.builder.appName("check_oracle_vanilla")
        .master(f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--engine"]
    use_engine = "--engine" in sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    sys.path.insert(0, ROOT)
    import __spark_entry__ as entrymod

    if use_engine:
        from dataengineer_spark.session import build_session

        spark = build_session("check_oracle")
    else:
        spark = vanilla_session()
    con = duck_connection(sf_dir)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_fail = n_rows_only = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error: {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        dt = time.time() - t0
        spark.catalog.clearCache()  # drop operator-persisted intermediates
        bad_cols = nonscalar_cols(sdf)
        if bad_cols:
            print(f"FAIL  {name}: non-scalar output columns {bad_cols} (driver hash crash)")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(sdf)} rows ({dt:.1f}s, rows-only)")
            n_rows_only += 1
            continue
        t1 = time.time()
        try:
            ddf = con.sql(oracles[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {type(exc).__name__}: {exc}")
            n_fail += 1
            continue
        # oracle time printed separately: a pathological DuckDB plan (e.g.
        # a literal list inside a lambda, re-materialized per element) can
        # take minutes while the Spark side reads sub-second — without this
        # the slowness hides until a driver/pytest subprocess timeout
        ddt = time.time() - t1
        slow = "  ORACLE-SLOW" if ddt > 10 else ""
        problems = compare(name, sdf, ddf)
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"ok    {name}: {len(sdf)} rows ({dt:.1f}s, oracle {ddt:.1f}s){slow}")
            n_pass += 1
    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
