"""Output checks: DuckDB replays of the benchmark's operations.

Query operations are compared against ``__spark_entry__.oracle_sql()`` with
``tools/check_oracle.py``'s ``canon``/``compare``.  A clinical batch is
replayed from its CSV file: clean → sectionize → truncate → stand-in
classify → label join, and the prostate fan-in, all in DuckDB.  The
stand-in classifier hashes with Spark's ``xxhash64`` (XXH64, seed 42), which
DuckDB lacks, so it is registered here as a Python scalar function.
"""

from __future__ import annotations

import struct

import duckdb

_P1 = 11400714785074694791
_P2 = 14029467366897019727
_P3 = 1609587929392839161
_P4 = 9650029242287828579
_P5 = 2870177450012600261
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _round(acc: int, lane: int) -> int:
    return (_rotl((acc + lane * _P2) & _M, 31) * _P1) & _M


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit value, as Spark's ``xxhash64``."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M, (seed + _P2) & _M, seed & _M, (seed - _P1) & _M]
        while i + 32 <= n:
            for k in range(4):
                v[k] = _round(v[k], struct.unpack_from("<Q", data, i + 8 * k)[0])
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M
        for k in range(4):
            h = ((h ^ _round(0, v[k])) * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB over the generated tables, with ``spark_xxhash64(varchar)``."""
    from tools.check_oracle import duck_connection

    con = duck_connection(sf_dir)
    con.create_function(
        "spark_xxhash64",
        lambda s: xxhash64(s.encode("utf-8")),
        [duckdb.typing.VARCHAR],
        duckdb.typing.BIGINT,
    )
    return con


def _sections_sql(msg: str) -> str:
    """DuckDB form of ``functions.sections.create_sections`` with the
    default clinical header patterns."""
    from dataengineer_spark.functions.sections import DEFAULT_PATTERNS, SECTION_NAMES

    ex = {n: f"regexp_extract({msg}, '{DEFAULT_PATTERNS[n]}', 1)" for n in SECTION_NAMES}
    any_hit = " OR ".join(f"{ex[n]} <> ''" for n in SECTION_NAMES)
    joined = (
        "array_to_string(list_filter(["
        + ", ".join(ex[n] for n in SECTION_NAMES)
        + "], x -> x <> ''), ' ')"
    )
    fields = ", ".join(f"{ex[n]} AS {n}" for n in SECTION_NAMES)
    return (
        f"{fields}, "
        f"CASE WHEN {any_hit} THEN trim({joined}) ELSE {msg} END AS filtered_message, "
        f"CASE WHEN {ex['diagnosis']} <> '' OR {ex['addendum']} <> '' THEN 'diag_or_add' "
        f"WHEN {ex['gross']} <> '' OR {ex['micro']} <> '' THEN 'gross_or_micro' "
        f"ELSE 'entire report' END AS part_of_report"
    )


def _prostate_select() -> str:
    from dataengineer_spark.ml.inference import STANDIN_MULT
    from dataengineer_spark.plans.prostate import _CONSTANT_VALUES, _standin_fields
    from dataengineer_spark.schemas import PROSTATE_PRED_FIELDS

    standin = _standin_fields()
    cols = ["msgid AS msg_id"]
    for f in PROSTATE_PRED_FIELDS:
        if f in _CONSTANT_VALUES:
            cols += [f"'{_CONSTANT_VALUES[f]}' AS {f}", f"1.0::DOUBLE AS {f}_pred_score"]
        else:
            h = (
                f"((msgid * {STANDIN_MULT} + length(coalesce(filtered_message, ''))"
                f" + {standin.index(f)}) % 1000000)"
            )
            cols += [f"CAST({h} % 100 AS VARCHAR) AS {f}", f"({h} % 1000)::DOUBLE / 1000.0 AS {f}_pred_score"]
    return ", ".join(cols)


def batch_replay_sql(csv_path: str, batch_id: int, labels: list[tuple]) -> dict[str, str]:
    """DuckDB SQL for every output of one clinical batch, keyed by output."""
    from __spark_entry__ import _sql_clean, _sql_truncate

    label_rows = ", ".join(f"({k}::BIGINT, '{n}')" for _, k, n in labels)
    ctes = f"""
WITH src AS (
  SELECT * FROM read_csv('{csv_path}', header = true,
                         columns = {{'msgid': 'BIGINT', 'message': 'VARCHAR'}})
), cleaned AS (
  SELECT {batch_id}::BIGINT AS batch_id, msgid, {_sql_clean('message')} AS msg FROM src
), preped AS (
  SELECT batch_id, msgid, {_sections_sql('msg')} FROM cleaned
), hashed AS (
  SELECT batch_id, msgid,
         abs(spark_xxhash64({_sql_truncate('filtered_message', 'part_of_report', 2000)})) AS h
  FROM preped
), pred AS (
  SELECT batch_id, msgid, h % 16 AS predicted_label,
         (h % 1000)::DOUBLE / 1000.0 AS model_score, 1::BIGINT AS model_id
  FROM hashed
), labels(label, label_name) AS (VALUES {label_rows})
"""
    return {
        "cleaned_data": ctes + "SELECT * FROM cleaned",
        "preped_data": ctes + "SELECT * FROM preped",
        "prediction_table": ctes + "SELECT * FROM pred",
        "export": ctes + (
            "SELECT batch_id AS batchid, msgid, predicted_label AS predicted_label_id, "
            "model_score, model_id, label_name AS predicted_label "
            "FROM pred JOIN labels ON predicted_label = label"
        ),
        "prostate": ctes + f"SELECT {_prostate_select()} FROM preped",
    }
