"""Prostate fan-out/fan-in pipeline (SURVEY.md §3.3).

The reference DAG (prostate_dag.py:314-319) fanned a cleaned batch into 6
parallel prediction branches merged at the end (19-column output,
:180-200). Every branch here is a narrow derivation of the same upstream
row, so the fan-in is ONE SQL projection: zero joins, zero shuffles, and
one ``selectExpr`` call at plan build instead of ~1,100 py4j round trips
for the same columns built with ``F.*``. Airflow's 6 worker processes
disappear into one job graph.

Branch bodies in the reference were mostly stubs; the engine implements the
evidenced constant rule classifier (prostate_dag.py:167-177) and
deterministic arithmetic stand-ins for the rest (SQL-expressible for the
oracle, SURVEY.md §5.2.2), keeping the dataflow shape exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from dataengineer_spark.schemas import PROSTATE_PRED_FIELDS

from dataengineer_spark.ml.inference import STANDIN_MULT as _STANDIN_MULT
# (shared with ml.inference.arith_standin_classifier — ONE stand-in hash
# contract, one place for the DuckDB oracles to mirror)

#: the implemented reference branch (prostate_dag.py:167-177): prostate is
#: always site C61.9 / behaviour 3 / laterality 00, score 1.0
_CONSTANT_VALUES = {"site_code": "C61.9", "behaviour_code": "3", "laterality": "00"}


def _standin_exprs(field: str, salt: int) -> list[str]:
    """Deterministic stand-in prediction as SQL text: arithmetic hash of

    (msgid, filtered-text length, per-branch salt) → code string + score —
    the same 2-column contract as a real branch, in plain integer
    arithmetic.  Literal types are part of the output schema: ``1000.0D``
    is DOUBLE (a bare ``1000.0`` is DECIMAL in Spark SQL) and the
    multiplier is a BIGINT literal.  The 2^31 pre-fold keeps the multiply
    inside int64 for 64-bit ids (ANSI overflow is a hard error); ids < 2^31
    match the oracle's raw form."""
    h = (
        f"pmod(pmod(msgid, 2147483648) * {_STANDIN_MULT}L"
        f" + length(coalesce(filtered_message, '')) + {salt}, 1000000)"
    )
    return [
        f"CAST(pmod({h}, 100) AS STRING) AS {field}",
        f"CAST(pmod({h}, 1000) AS DOUBLE) / 1000.0D AS {field}_pred_score",
    ]


def _standin_fields() -> list[str]:
    """Stand-in branch fields in salt order (perfbench's DuckDB replay of
    the fan-in reads this and ``_CONSTANT_VALUES`` too)."""
    return [f for f in PROSTATE_PRED_FIELDS if f not in _CONSTANT_VALUES]


def run_prostate(segments: DataFrame) -> DataFrame:
    """Fan-out 6 branches, fan-in to msg_id + 9 prediction/score pairs

    (reference prostate_dag.py:180-200) as one SQL projection of
    ``segments`` (needs ``msgid`` and ``filtered_message``).  Columns come
    out in ``schemas.PROSTATE_OUTPUT`` order with its types."""
    standins = _standin_fields()
    exprs = ["msgid AS msg_id"]
    for f in PROSTATE_PRED_FIELDS:
        if f in _CONSTANT_VALUES:
            exprs += [f"'{_CONSTANT_VALUES[f]}' AS {f}", f"1.0D AS {f}_pred_score"]
        else:
            exprs += _standin_exprs(f, standins.index(f))
    return segments.selectExpr(*exprs)
