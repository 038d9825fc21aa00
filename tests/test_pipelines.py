"""End-to-end pipeline tests (SURVEY.md §3): DX-Group, API variant,

prostate fan-out/fan-in — on tiny sources and a tmp lake."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineer_spark.catalog import Catalog
from dataengineer_spark.config import RunConfig
from dataengineer_spark.plans.api_variant import publish_stage, run_dx_group_api
from dataengineer_spark.plans.dx_group import (
    clean_stage,
    predict_stage,
    prep_stage,
    run_dx_group,
)
from dataengineer_spark.plans.prostate import run_prostate
from dataengineer_spark.schemas import (
    API_EXPORT_COLUMNS,
    PROSTATE_OUTPUT,
    PROSTATE_PRED_FIELDS,
)


@pytest.fixture
def source(spark):
    rows = [
        (1, "GROSS: big mass\nDIAGNOSIS: carcinoma"),
        (2, "plain report text with nothing special"),
        (3, None),
    ]
    return spark.createDataFrame(rows, "msgid long, message string")


PATTERNS = {"gross": r"GROSS:([^\n]*)", "diagnosis": r"DIAGNOSIS:([^\n]*)"}


class TestDxGroup:
    def test_lazy_run_shape(self, spark, tmp_path, source):
        catalog = Catalog(spark, str(tmp_path / "lake"))
        ctx, preds = run_dx_group(
            catalog, RunConfig(), source, patterns=PATTERNS, persist=False
        )
        assert ctx.batch_id == 1
        rows = preds.orderBy("msgid").collect()
        assert [r["batch_id"] for r in rows] == [1, 1, 1]
        assert preds.columns == [
            "batch_id", "msgid", "predicted_label", "model_score", "model_id",
        ]

    def test_persisted_run_writes_contract_tables(self, spark, tmp_path, source):
        catalog = Catalog(spark, str(tmp_path / "lake"))
        ctx, _ = run_dx_group(catalog, RunConfig(), source, patterns=PATTERNS)
        for table in ["cleaned_data", "preped_data", "prediction_table"]:
            assert catalog.read_batch(table, ctx.batch_id).count() == 3
        # second run gets batch 2 and leaves batch 1 intact
        ctx2, _ = run_dx_group(catalog, RunConfig(), source, patterns=PATTERNS)
        assert ctx2.batch_id == 2
        assert catalog.read("prediction_table").count() == 6

    def test_null_text_survives(self, spark, tmp_path, source):
        catalog = Catalog(spark, str(tmp_path / "lake"))
        _, preds = run_dx_group(
            catalog, RunConfig(), source, patterns=PATTERNS, persist=False
        )
        row = preds.where(F.col("msgid") == 3).first()
        assert row is not None  # empty/null report must not kill the run


class TestApiVariant:
    def test_export_schema_and_inner_join_drop(self, spark, tmp_path, source):
        catalog = Catalog(spark, str(tmp_path / "lake"))
        _, preds = run_dx_group(
            catalog, RunConfig(), source, patterns=PATTERNS, persist=False
        )
        # dim covering only some labels → inner join drops the rest
        labels = spark.createDataFrame(
            [(1, k, f"N{k}") for k in range(8)],
            "model_id long, label long, label_name string",
        )
        export = publish_stage(preds, labels)
        assert export.columns == API_EXPORT_COLUMNS
        kept = export.count()
        assert 0 <= kept <= 3

    def test_full_api_run_writes_csv(self, spark, tmp_path, source):
        catalog = Catalog(spark, str(tmp_path / "lake"))
        labels = spark.createDataFrame(
            [(1, k, f"N{k}") for k in range(16)],
            "model_id long, label long, label_name string",
        )
        out_path = str(tmp_path / "export_csv")
        export = run_dx_group_api(
            catalog, RunConfig(), source, labels, export_path=out_path
        )
        assert export.columns == API_EXPORT_COLUMNS
        back = spark.read.option("header", True).csv(out_path)
        assert back.count() == export.count()


class TestBatchJobBudget:
    #: Spark jobs one warm clinical batch submits: 3 contract-table writes,
    #: 1 label-dimension broadcast (this test's labels frame is a pickled
    #: RDD), 1 CSV export, 1 prostate noop write.  Batch-id allocation and
    #: the audit append run on the driver on a local lake (0 jobs).  A
    #: Spark audit read or append, or schema inference on a lake read-back,
    #: would each add jobs here.
    JOBS_PER_BATCH = 6

    def test_second_batch_job_count(self, spark, tmp_path, job_group):
        from dataengineer_spark.sources.files import read_csv

        csv = str(tmp_path / "batch_csv")
        spark.createDataFrame(
            # one line per report: read_csv's default is not multiLine
            [(i, f"GROSS: mass {i} DIAGNOSIS: carcinoma {i}") for i in range(20)],
            "msgid long, message string",
        ).coalesce(1).write.option("header", True).csv(csv)
        catalog = Catalog(spark, str(tmp_path / "lake"))
        labels = spark.createDataFrame(
            [(1, k, f"N{k}") for k in range(16)],
            "model_id long, label long, label_name string",
        )

        def one_batch(batch_id):
            source = read_csv(spark, csv, schema="msgid long, message string")
            run_dx_group_api(
                catalog, RunConfig(), source, labels,
                export_path=str(tmp_path / f"export_{batch_id}"),
            )
            out = run_prostate(catalog.read_batch("preped_data", batch_id))
            out.write.format("noop").mode("overwrite").save()

        one_batch(1)  # creates the lake tables
        with job_group() as jobs:
            one_batch(2)
        assert len(jobs) == self.JOBS_PER_BATCH, sorted(jobs)
        assert catalog.read_batch("prediction_table", 2).count() == 20


class TestStageBuildPy4jBudget:
    #: py4j calls to build clean + prep + predict (948 when the stages
    #: were built with the Column API; ~40 as SQL text)
    BUDGET = 60

    def test_stage_builds_stay_within_budget(self, spark, source, monkeypatch):
        import gc

        import py4j.clientserver as cs

        calls = []
        send = cs.ClientServerConnection.send_command

        def counted(conn, command, *args, **kwargs):
            if not command.startswith("m\n"):  # skip GC'd-object releases
                calls.append(command)
            return send(conn, command, *args, **kwargs)

        monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
        gc.collect()
        predict_stage(prep_stage(clean_stage(source, batch_id=1), PATTERNS), model_id=1)
        # the counter must see the session's calls at all
        assert calls
        assert len(calls) <= self.BUDGET, len(calls)


class TestProstate:
    def test_output_schema_and_constants(self, spark, source):
        cleaned = clean_stage(source, batch_id=1)
        segments = prep_stage(cleaned, PATTERNS)
        out = run_prostate(segments)
        expected = ["msg_id"] + [
            c for f in PROSTATE_PRED_FIELDS for c in (f, f"{f}_pred_score")
        ]
        assert out.columns == expected
        # names AND types: a bare 1000.0 in the SQL text would be DECIMAL
        assert [(f.name, f.dataType) for f in out.schema] == [
            (f.name, f.dataType) for f in PROSTATE_OUTPUT
        ]
        row = out.orderBy("msg_id").first()
        assert row["site_code"] == "C61.9"
        assert row["behaviour_code"] == "3"
        assert row["laterality"] == "00"
        assert row["site_code_pred_score"] == 1.0
        assert out.count() == 3


class TestCuration:
    def test_curate_corpus_shape_and_split(self, spark, sf_dir):
        from dataengineer_spark.plans.curation import curate_corpus
        from dataengineer_spark.testdata import load_table

        docs = load_table(spark, sf_dir, "documents")
        out = curate_corpus(docs, min_quality=0.0, langs=("en", "fr", "es", "de", "zh", "und"))
        rows = out.collect()
        # no filtering → dedup only; splits all assigned
        assert 0 < len(rows) <= docs.count()
        assert {r["split"] for r in rows} <= {"train", "valid", "test"}
        assert all(r["n_tokens"] > 0 for r in rows)


class TestCuration2Composition:
    def test_fold_conservation_and_trim_rule(self, spark, sf_dir):
        # same import convention as tests/test_entry.py (module is
        # cached after the first test-session import — no re-exec)
        import sys
        from pathlib import Path

        root = str(Path(__file__).resolve().parents[1])
        if root not in sys.path:
            sys.path.insert(0, root)
        import __spark_entry__ as m

        rows = m.q_pipeline_curation2(spark, sf_dir).collect()
        # survivors = per-source floor(n/2); every fold in [0, 5)
        assert all(0 <= r["fold"] < 5 for r in rows)
        total_kept = sum(r["n_docs"] for r in rows)
        from dataengineer_spark.testdata import load_table
        from pyspark.sql import functions as F

        per_source = (
            load_table(spark, sf_dir, "documents")
            .groupBy("source").count().collect()
        )
        # every doc has >= 3 words in the fixtures, so no doc is dropped
        # by the novelty join and the trim keeps exactly floor(n/2)
        assert total_kept == sum(r["count"] // 2 for r in per_source)
        assert all(r["n_tokens"] > 0 for r in rows)
