"""DX-Group classification pipeline (SURVEY.md §3.1).

The reference ran this as three Airflow tasks — clean (reference
dx_group.py:68-135) → prep (:138-195) → predict (:199-263) — each in its
own OS process, round-tripping the full dataset through Postgres between
tasks. Here the whole DAG is ONE driver program building one lazy plan;
the only materializations are the three contract outputs (``cleaned_data``,
``preped_data``, ``prediction_table``), written batch-partitioned to the
lake. XCom disappears: ``batch_id`` is a plain Python int.

The plan is embarrassingly parallel (map stages + broadcast lookups) — no
shuffle anywhere, so it scales linearly with input partitions.

Each stage is built as SQL text: one ``selectExpr`` for clean and prep, two
for predict (a ``classifier`` Column passed in adds one ``select``).  The builders the
stages call (``_clean_msg_s``, ``_section_exprs``,
``_truncate_text_chars_s``, ``_standin_classifier_s``, ``_split_label_s``)
render SQL fragments, so a stage costs a few dozen py4j calls at plan
build instead of hundreds of ``F.*`` round trips, and Catalyst sees the
same expressions.  Batch-id allocation (``BatchAllocator.open_batch``)
runs on the driver and submits no Spark job on a local lake, so a warm
batch's jobs are its three contract writes plus what the caller adds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from dataengineer_spark.batch import BatchAllocator, BatchContext
from dataengineer_spark.catalog import Catalog
from dataengineer_spark.config import RunConfig
from dataengineer_spark.functions.cleaning import _clean_msg_s
from dataengineer_spark.functions.labels import _split_label_s
from dataengineer_spark.functions.sections import sectionize
from dataengineer_spark.functions.truncate import _truncate_text_chars_s
from dataengineer_spark.ml.inference import _standin_classifier_s


def clean_stage(source: DataFrame, batch_id: int, id_col: str = "msgid",
                msg_col: str = "message") -> DataFrame:
    """Stage 1 — clean_data: normalize text, stamp lineage, project the

    cleaned_data contract (batch_id, msgid, msg).  try_cast: a single
    non-numeric id from a CSV/REST edge yields NULL (quarantine
    upstream if needed) rather than an ANSI CAST_INVALID_INPUT that
    kills the whole batch — the labels.split_label bad-row policy."""
    return source.selectExpr(
        f"CAST({int(batch_id)} AS BIGINT) AS batch_id",
        f"try_cast(`{id_col}` AS BIGINT) AS msgid",
        f"{_clean_msg_s(f'`{msg_col}`')} AS msg",
    )


def prep_stage(cleaned: DataFrame, patterns: dict[str, str] | None = None) -> DataFrame:
    """Stage 2 — prep_data: sectionize into the preped_data contract."""
    return sectionize(cleaned, "msg", patterns, keep=["batch_id", "msgid"])


def predict_stage(
    preped: DataFrame,
    model_id: int,
    classifier: Column | None = None,
    char_budget: int = 2000,
) -> DataFrame:
    """Stage 3 — predict: truncate → classify → parse label suffix →

    stamp model_id → prediction_table contract.  ``classifier`` is any
    Column over ``preped``'s columns plus ``model_input`` yielding
    ``struct<predicted_label, model_score>``; the default is
    ``standin_classifier`` over the truncated text."""
    model_input = _truncate_text_chars_s("filtered_message", "part_of_report", char_budget)
    if classifier is None:
        pred = preped.selectExpr(
            "batch_id", "msgid", f"{_standin_classifier_s(model_input)} AS _pred"
        )
    else:
        pred = preped.selectExpr("*", f"{model_input} AS model_input").select(
            "batch_id", "msgid", classifier.alias("_pred")
        )
    return pred.selectExpr(
        "batch_id",
        "msgid",
        f"{_split_label_s('_pred.predicted_label')} AS predicted_label",
        "_pred.model_score AS model_score",
        f"CAST({int(model_id)} AS BIGINT) AS model_id",
    )


def run_dx_group(
    catalog: Catalog,
    config: RunConfig,
    source: DataFrame,
    model_id: int = 1,
    patterns: dict[str, str] | None = None,
    persist: bool = True,
) -> tuple[BatchContext, DataFrame]:
    """End-to-end DX-Group run: allocate batch → clean → prep → predict.

    Returns (batch context, predictions). ``persist=False`` keeps it one
    pure lazy plan (for tests/oracles); with persist the three contract
    tables land in the lake partitioned by batch_id, and downstream stages
    read back the stored partition — matching the reference's task
    isolation semantics while pruning to one partition.
    """
    ctx = BatchAllocator(catalog).open_batch(config)
    cleaned = clean_stage(source, ctx.batch_id)
    if persist:
        catalog.write(cleaned, "cleaned_data")
        cleaned = catalog.read_batch("cleaned_data", ctx.batch_id)
    preped = prep_stage(cleaned, patterns)
    if persist:
        catalog.write(preped, "preped_data")
        preped = catalog.read_batch("preped_data", ctx.batch_id)
    predictions = predict_stage(preped, model_id)
    if persist:
        catalog.write(predictions, "prediction_table")
        predictions = catalog.read_batch("prediction_table", ctx.batch_id)
    return ctx, predictions
