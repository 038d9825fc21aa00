"""Structured Streaming tests (E11): windowed aggs on the event stream and

the batch-audited foreachBatch sink (the reference's batch pattern in
streaming form, SURVEY.md §2.8/E11)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from dataengineer_spark.batch import AUDIT_TABLE
from dataengineer_spark.catalog import Catalog
from dataengineer_spark.streaming import (
    batch_audited_sink,
    sessionized_stream,
    stateful_running_totals,
    stream_events,
    stream_stream_join,
    windowed_counts,
)
from dataengineer_spark.testdata import load_table


def _run_to_memory(df, name: str):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


class TestWindowedStream:
    def test_stream_counts_equal_batch(self, spark, sf_dir):
        stream = stream_events(spark, sf_dir + "/events.parquet")
        name = f"t_{uuid.uuid4().hex[:8]}"
        _run_to_memory(windowed_counts(stream, window="1 hour"), name)
        streamed = spark.table(name)
        batch_total = load_table(spark, sf_dir, "events").count()
        assert streamed.agg(F.sum("n")).first()[0] == batch_total

    def test_sessionized_stream_runs(self, spark, sf_dir):
        stream = stream_events(spark, sf_dir + "/events.parquet")
        name = f"t_{uuid.uuid4().hex[:8]}"
        _run_to_memory(sessionized_stream(stream, gap="30 minutes"), name)
        out = spark.table(name)
        assert out.count() > 0
        assert {"session_start", "session_end", "user_id"} <= set(out.columns)


class TestWindowedDistinctApprox:
    def test_stream_estimate_tracks_batch_exact(self, spark, sf_dir):
        from dataengineer_spark.streaming import windowed_distinct_approx

        stream = stream_events(spark, sf_dir + "/events.parquet")
        name = f"t_{uuid.uuid4().hex[:8]}"
        _run_to_memory(
            windowed_distinct_approx(stream, window="1 hour", rsd=0.05), name
        )
        est = {
            (r["window_start"], r["window_end"], r["event_type"]): r["approx_users"]
            for r in spark.table(name).collect()
        }
        exact_df = (
            load_table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count_distinct("user_id").alias("n"))
            .select(
                F.col("w.start").alias("ws"), F.col("w.end").alias("we"),
                "event_type", "n",
            )
        )
        exact = {
            (r["ws"], r["we"], r["event_type"]): r["n"] for r in exact_df.collect()
        }
        assert est.keys() == exact.keys()
        # no sparse mode in Spark's HLL++: max(2, 15%) envelope
        for k, n in exact.items():
            assert abs(est[k] - n) <= max(2.0, 0.15 * n), (k, est[k], n)


class TestStatefulOperator:
    def test_state_carries_across_micro_batches(self, spark, sf_dir, tmp_path):
        # split events into 3 files; maxFilesPerTrigger=1 → 3 micro-batches,
        # so per-key totals must accumulate through GroupState, and the
        # LAST update per key must equal the all-data batch aggregate
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        )
        src = str(tmp_path / "ev_parts")
        ev.repartition(3).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
        )
        name = f"t_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_running_totals(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        updates = spark.table(name).collect()
        assert len(updates) > 5  # more rows than keys → multiple batches ran
        # last update per key wins
        final = {}
        for r in updates:
            final[r["event_type"]] = (r["n"], round(r["total_value"], 6))
        batch = {
            r["event_type"]: (r["n"], round(r["total"], 6))
            for r in ev.groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert final == batch

    def test_running_totals_equal_batch_agg(self, spark, sf_dir):
        stream = stream_events(spark, sf_dir + "/events.parquet")
        name = f"t_{uuid.uuid4().hex[:8]}"
        q = (
            stateful_running_totals(stream)
            .writeStream.outputMode("update")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # final state per key (last update wins) must equal the batch agg
        streamed = {
            r["event_type"]: (r["n"], round(r["total_value"], 6))
            for r in spark.table(name)
            .orderBy("n")  # single batch → one row per key; order irrelevant
            .collect()
        }
        batch = {
            r["event_type"]: (r["n"], round(r["total"], 6))
            for r in load_table(spark, sf_dir, "events")
            .groupBy("event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("total"))
            .collect()
        }
        assert streamed == batch


class TestBatchAuditedSink:
    def test_foreachbatch_writes_partitions_and_audit(self, spark, sf_dir, tmp_path):
        catalog = Catalog(spark, str(tmp_path / "lake"))
        catalog.BATCH_PARTITIONED = catalog.BATCH_PARTITIONED | {"events_out"}
        stream = stream_events(spark, sf_dir + "/events.parquet")
        q = batch_audited_sink(
            stream,
            catalog,
            "events_out",
            pipeline_name="evt",
            checkpoint=str(tmp_path / "ckpt"),
        )
        q.awaitTermination()
        written = catalog.read("events_out")
        assert written.count() == load_table(spark, sf_dir, "events").count()
        assert "batch_id" in written.columns
        audit = catalog.read(AUDIT_TABLE)
        assert audit.count() >= 1
        assert audit.first()["pipeline_name"] == "evt"

    def test_epoch_replay_is_idempotent(self, spark, sf_dir, tmp_path):
        """VERDICT r10 item 2: a retried micro-batch must overwrite its
        own batch_id partition (dynamic partition overwrite) and not
        re-append its audit row."""
        from dataengineer_spark.streaming.pipeline import _audited_epoch

        catalog = Catalog(spark, str(tmp_path / "lake"))
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        ).limit(100)
        _audited_epoch(ev, 0, catalog, "events_out", "evt")
        _audited_epoch(ev, 0, catalog, "events_out", "evt")  # retry
        written = catalog.read("events_out")
        assert written.count() == 100  # one copy, not two
        audit = catalog.read(AUDIT_TABLE)
        assert audit.where(F.col("batch_id") == 0).count() == 1
        # a later epoch still appends normally alongside
        _audited_epoch(ev, 1, catalog, "events_out", "evt")
        assert catalog.read("events_out").count() == 200
        assert catalog.read(AUDIT_TABLE).count() == 2


class TestStreamEventsFooter:
    """``stream_events`` decides the ``ts`` shape from the pyarrow footer:
    no Spark job at stream start, and the streamed µs values are the
    file's instants floored to µs whatever its precision."""

    TS_NS = [1_704_067_200_000_000_123, 1_704_067_260_000_001_999]

    def _frame(self, unit: str):
        import pyarrow as pa

        scale = {"us": 1000, "ns": 1}[unit]
        return pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([t // scale for t in self.TS_NS], pa.timestamp(unit)),
                "user_id": pa.array([7, 7], pa.int64()),
                "event_type": ["view", "click"],
                "value": [1.0, 2.0],
                "props": ["{}", "{}"],
            }
        )

    def _source(self, spark, tmp_path, layout: str) -> str:
        import pyarrow.parquet as pq

        if layout == "spark_int96":
            # Spark writes TimestampType as INT96, which pyarrow reports
            # as ns; Spark reads it back as a timestamp
            (tmp_path / "sf").mkdir()
            pq.write_table(self._frame("ns"), str(tmp_path / "sf" / "events.parquet"))
            src = str(tmp_path / "spark_dir")
            load_table(spark, str(tmp_path / "sf"), "events").write.parquet(src)
            return src
        if layout == "pandas_parts":
            src = tmp_path / "parts"
            src.mkdir()
            pdf = self._frame("ns").to_pandas()
            pdf.iloc[:1].to_parquet(src / "p1.parquet")
            pdf.iloc[1:].to_parquet(src / "p2.parquet")
            return str(src)
        path = str(tmp_path / f"ev_{layout}.parquet")
        pq.write_table(self._frame(layout), path)
        return path

    @pytest.mark.parametrize("layout", ["us", "ns", "pandas_parts", "spark_int96"])
    def test_footer_read_submits_no_job(self, spark, tmp_path, job_group, layout):
        src = self._source(spark, tmp_path, layout)
        with job_group() as jobs:
            stream = stream_events(spark, src)
        assert jobs == []
        name = f"t_footer_{uuid.uuid4().hex[:8]}"
        q = (
            stream.select("event_id", F.unix_micros("ts").alias("us"))
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(tuple(r) for r in spark.table(name).collect())
        assert got == [(i + 1, t // 1000) for i, t in enumerate(self.TS_NS)]


class TestStreamStreamJoin:
    def test_interval_join_semantics_batch_parity(self, spark):
        """Interval condition on tiny batch frames (watermark is a no-op in
        batch mode): a purchase exactly at click_ts+1h is included, one
        microsecond later is not, earlier-than-click is not."""
        rows = [
            (1, "2024-01-01 10:00:00", 100, "click", 0.0),
            (2, "2024-01-01 11:00:00", 100, "purchase", 5.0),   # boundary: in
            (3, "2024-01-01 11:00:00.000001", 100, "purchase", 6.0),  # out
            (4, "2024-01-01 09:59:59", 100, "purchase", 7.0),   # before: out
            (5, "2024-01-01 10:30:00", 200, "purchase", 8.0),   # other user
        ]
        ev = spark.createDataFrame(
            rows, "event_id long, ts string, user_id long, event_type string, value double"
        ).selectExpr(
            "event_id", "cast(ts as timestamp) ts", "user_id", "event_type", "value"
        )
        joined = stream_stream_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
            within="1 hour",
        )
        got = [(r["l_id"], r["r_id"]) for r in joined.collect()]
        assert got == [(1, 2)]

    def test_streaming_join_equals_batch_join(self, spark, sf_dir):
        clicks = stream_events(spark, sf_dir + "/events.parquet").where(
            F.col("event_type") == "click"
        )
        purchases = stream_events(spark, sf_dir + "/events.parquet").where(
            F.col("event_type") == "purchase"
        )
        name = f"ssj_{uuid.uuid4().hex[:8]}"
        q = (
            stream_stream_join(clicks, purchases)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = spark.table(name).count()

        ev = load_table(spark, sf_dir, "events")
        batch = stream_stream_join(
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
        ).count()
        assert streamed == batch


class TestStreamContamination:
    def test_stream_contamination_equals_batch_ngram_overlap(self, spark, sf_dir):
        from dataengineer_spark.operators.preparation import ngram_overlap, word_ngrams
        from dataengineer_spark.streaming import stream_contamination, stream_documents

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        bench_docs = docs.where(F.col("doc_id") % 97 == 0)
        bench = (
            bench_docs.select(F.explode(word_ngrams(F.col("text"), 8)).alias("_g"))
            .dropDuplicates()
            .agg(F.collect_set("_g").alias("_bg"))
        )
        name = f"sdc_{uuid.uuid4().hex[:8]}"
        q = (
            stream_contamination(
                stream_documents(spark, sf_dir + "/documents.parquet"), bench, n=8
            )
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        streamed = {
            r["doc_id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
            for r in spark.table(name).collect()
        }
        batch = {
            r["doc_id"]: (r["n_grams"], r["n_hits"], r["contaminated"])
            for r in ngram_overlap(docs, bench_docs, "text", "doc_id", n=8).collect()
        }
        assert streamed == batch


class TestStreamTrailingAnomalies:
    def test_state_window_matches_across_micro_batches(self, spark, sf_dir, tmp_path):
        # split one user's history over TWO files -> two micro-batches:
        # the deque state must carry the trailing window across the
        # boundary, flagging a spike in batch 2 against batch-1 history
        import os

        import pandas as pd

        from dataengineer_spark.streaming import stream_trailing_anomalies

        src = str(tmp_path / "ev_parts")
        os.makedirs(src)
        base = pd.Timestamp("2024-01-01")
        part1 = pd.DataFrame(
            {
                "event_id": range(1, 9),
                "ts": [base + pd.Timedelta(minutes=i) for i in range(8)],
                "user_id": [1] * 8,
                "event_type": ["view"] * 8,
                "value": [10.0 + 0.01 * (-1) ** i for i in range(8)],
                "props": ["{}"] * 8,
            }
        )
        part2 = pd.DataFrame(
            {
                "event_id": [9],
                "ts": [base + pd.Timedelta(minutes=9)],
                "user_id": [1],
                "event_type": ["view"],
                "value": [100.0],
                "props": ["{}"],
            }
        )
        part1.to_parquet(src + "/p1.parquet")
        part2.to_parquet(src + "/p2.parquet")
        from dataengineer_spark.streaming import stream_events

        stream = stream_events(spark, src)
        flags = stream_trailing_anomalies(
            stream, lookback=5, z_threshold=3.0, min_history=3
        )
        name = f"t_anom_{uuid.uuid4().hex[:8]}"
        q = (
            flags.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt_anom"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = {str(r["ts"]): (r["z_score"], r["is_anomaly"])
                for r in spark.table(name).collect()}
        spike = rows[str(base + pd.Timedelta(minutes=9))]
        assert spike[1] is True and abs(spike[0]) > 3
        # early cold-start rows have NULL z
        assert rows[str(base)][0] is None

    def test_string_key_column(self, spark, tmp_path):
        # ADVICE r4: the output schema must derive the key's type from
        # the input, not hardcode long — string user ids must work
        import os

        import pandas as pd

        from dataengineer_spark.streaming import stream_trailing_anomalies

        src = str(tmp_path / "ev_str")
        os.makedirs(src)
        base = pd.Timestamp("2024-01-01")
        pd.DataFrame(
            {
                "event_id": range(1, 7),
                "ts": [base + pd.Timedelta(minutes=i) for i in range(6)],
                "user": ["u-alpha"] * 6,
                "value": [10.0, 10.0, 10.0, 10.0, 10.0, 99.0],
            }
        ).to_parquet(src + "/p1.parquet", coerce_timestamps="us")
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user string, value double"
            ).parquet(src)
        )
        flags = stream_trailing_anomalies(
            stream, key_col="user", lookback=5, z_threshold=3.0, min_history=3
        )
        assert dict(flags.dtypes)["user"] == "string"
        name = f"t_anom_s_{uuid.uuid4().hex[:8]}"
        q = (
            flags.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ckpt_anom_s"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
        assert len(rows) == 6 and all(r["user"] == "u-alpha" for r in rows)


class TestStreamNeardupFilter:
    def test_filters_against_fixed_index_across_batches(self, spark, tmp_path):
        import os

        import pandas as pd

        from dataengineer_spark.operators import dedup as dedup_ops
        from dataengineer_spark.streaming import stream_neardup_filter

        seen_text = "the quick brown fox jumps over the lazy dog once more"
        seen = spark.createDataFrame(
            [(1, seen_text)], "doc_id long, text string"
        )
        idx = dedup_ops.signature_table(seen, bands=4, family="portable")
        src = str(tmp_path / "docs_in")
        os.makedirs(src)
        # two files -> two micro-batches (maxFilesPerTrigger=1)
        pd.DataFrame(
            {"doc_id": [10], "text": [seen_text],
             "lang": ["en"], "source": ["s"], "n_chars": [len(seen_text)]}
        ).to_parquet(src + "/p1.parquet")
        pd.DataFrame(
            {"doc_id": [11], "text": ["totally novel content nothing shared"],
             "lang": ["en"], "source": ["s"], "n_chars": [36]}
        ).to_parquet(src + "/p2.parquet")
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            ).option("maxFilesPerTrigger", 1).parquet(src)
        )
        out_dir = str(tmp_path / "kept")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="checkpoint is required"):
            stream_neardup_filter(
                stream, idx, out_dir, bands=4, family="portable"
            )
        q = stream_neardup_filter(
            stream, idx, out_dir, bands=4, family="portable",
            checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination()
        kept = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
        assert kept == {11}  # exact re-crawl in batch 1 dropped, novel kept


class TestStreamNeardupIngest:
    def _run(self, spark, tmp_path, batches):
        """Drive stream_neardup_ingest over one mtime-ordered file per
        micro-batch; returns the surviving doc_ids."""
        import os
        import time as _time

        import pandas as pd

        from dataengineer_spark.streaming import stream_neardup_ingest

        src = str(tmp_path / "docs_in")
        os.makedirs(src)
        now = _time.time()
        for i, rows in enumerate(batches, start=1):
            pd.DataFrame(
                {
                    "doc_id": [r[0] for r in rows],
                    "text": [r[1] for r in rows],
                    "lang": ["en"] * len(rows),
                    "source": ["s"] * len(rows),
                    "n_chars": [len(r[1]) for r in rows],
                }
            ).to_parquet(f"{src}/b{i}.parquet")
            os.utime(
                f"{src}/b{i}.parquet", (now - 300 + i * 60, now - 300 + i * 60)
            )
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string,"
                " n_chars long"
            ).option("maxFilesPerTrigger", 1).parquet(src)
        )
        out_dir = str(tmp_path / "kept")
        q = stream_neardup_ingest(
            stream, str(tmp_path / "index"), out_dir, bands=4,
            family="portable", checkpoint=str(tmp_path / "ck"),
        )
        q.awaitTermination()
        return {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}

    def test_same_run_neardups_yield_one_survivor(self, spark, tmp_path):
        # VERDICT r9 item 2: the deploy form maintains the index
        # intra-run.  Doc 3 (batch 2) re-crawls doc 1 (batch 1): both
        # are NEW this run, so the fixed-index form keeps both; the
        # live form must keep only doc 1.  Docs 5/6 (batch 3) are
        # mutual near-dups within ONE micro-batch: smaller id survives.
        t1 = "the quick brown fox jumps over the lazy dog once more"
        t4 = "totally novel content nothing shared with anything else"
        t5 = "independent fresh duplicated payload arriving twice at once"
        kept = self._run(
            spark,
            tmp_path,
            [
                [(1, t1), (2, "completely different second document text")],
                [(3, t1), (4, t4)],
                [(5, t5), (6, t5)],
            ],
        )
        assert kept == {1, 2, 4, 5}

    def test_requires_checkpoint(self, spark, tmp_path):
        import pytest as _pytest

        from dataengineer_spark.streaming import stream_neardup_ingest

        stream = spark.readStream.schema("doc_id long, text string").parquet(
            str(tmp_path)
        )
        with _pytest.raises(ValueError, match="checkpoint is required"):
            stream_neardup_ingest(stream, "idx", "out")

    def _mk_batch(self, spark, rows):
        return spark.createDataFrame(
            [(i, t, "en") for i, t in rows], "doc_id long, text string, lang string"
        )

    def test_epoch_replay_is_idempotent(self, spark, tmp_path):
        """VERDICT r10 item 2: a micro-batch retried after a sink failure
        must REPLACE its own _epoch partition, not append a duplicate
        copy — and the retry must not self-collide with the index rows
        its failed attempt already appended."""
        from dataengineer_spark.streaming.pipeline import _neardup_ingest_epoch

        index, out = str(tmp_path / "idx"), str(tmp_path / "kept")
        t1 = "the quick brown fox jumps over the lazy dog once more"
        args = ("doc_id", "text", 5, 32, 4, "portable", 8)
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(1, t1), (2, "unrelated second text")]),
            0, index, out, *args,
        )
        # retry epoch 0 (e.g. crash after the index append): same kept
        # set, one copy — the probe must ignore epoch-0 index rows
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(1, t1), (2, "unrelated second text")]),
            0, index, out, *args,
        )
        got = sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        )
        assert got == [1, 2]  # no duplicates, nothing self-dropped
        # a later epoch still probes epoch 0's (possibly doubled) index
        # rows correctly: doc 3 re-crawls doc 1 and is dropped once
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(3, t1), (4, "novel content here")]),
            1, index, out, *args,
        )
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert got == [1, 2, 4]

    def test_seeded_index_filters_first_epoch(self, spark, tmp_path):
        """seed_neardup_index(signature_table(history)) is how stream and
        batch ingest share one lake index: seed rows carry _epoch=-1 and
        every real epoch probes them."""
        from dataengineer_spark.operators.dedup import signature_table
        from dataengineer_spark.streaming import seed_neardup_index
        from dataengineer_spark.streaming.pipeline import _neardup_ingest_epoch

        index, out = str(tmp_path / "idx"), str(tmp_path / "kept")
        t1 = "the quick brown fox jumps over the lazy dog once more"
        history = self._mk_batch(spark, [(100, t1)])
        seed_neardup_index(
            signature_table(history, bands=4, family="portable"), index,
            n_index_buckets=8,
        )
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(1, t1), (2, "fresh unseen text")]),
            0, index, out, "doc_id", "text", 5, 32, 4, "portable", 8,
        )
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert got == [2]  # doc 1 re-crawls seeded history

    def test_null_text_docs_are_kept(self, spark, tmp_path):
        """NULL text has no shingles, so a NULL doc has no band rows: it
        neither self-collides with another NULL doc in its epoch nor
        with the NULL docs a previous epoch accepted."""
        from dataengineer_spark.streaming.pipeline import _neardup_ingest_epoch

        index, out = str(tmp_path / "idx"), str(tmp_path / "kept")
        t1 = "the quick brown fox jumps over the lazy dog once more"
        args = ("doc_id", "text", 5, 32, 4, "xxhash64", 8)
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(1, None), (2, None), (3, t1)]),
            0, index, out, *args,
        )
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(4, None), (5, t1)]), 1, index, out, *args,
        )
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert got == [1, 2, 3, 4]  # only the re-crawl 5 drops

    def test_cross_family_probe_raises(self, spark, tmp_path):
        """Same fence as dedup.incremental_neardup: probing an index seeded
        by the xxhash64 family with the portable family must fail
        loudly."""
        import pytest as _pytest

        from dataengineer_spark.operators.dedup import signature_table
        from dataengineer_spark.streaming import seed_neardup_index
        from dataengineer_spark.streaming.pipeline import _neardup_ingest_epoch

        index, out = str(tmp_path / "idx"), str(tmp_path / "kept")
        history = self._mk_batch(spark, [(100, "seed history text")])
        seed_neardup_index(
            signature_table(history, bands=4, family="xxhash64"), index,
            n_index_buckets=8,
        )
        with _pytest.raises(ValueError, match="signature family"):
            _neardup_ingest_epoch(
                self._mk_batch(spark, [(1, "whatever text")]),
                0, index, out, "doc_id", "text", 5, 32, 4, "portable", 8,
            )

    def test_compaction_preserves_results_and_shrinks_files(
        self, spark, tmp_path
    ):
        """compact_neardup_ingest collapses the per-epoch file spray
        (index: one file per bucket; out: size-targeted per epoch) with
        bit-identical read-back — and the compacted index still probes."""
        import glob

        from dataengineer_spark.streaming import compact_neardup_ingest
        from dataengineer_spark.streaming.pipeline import (
            _neardup_ingest_epoch,
            neardup_index_table,
        )

        index, out = str(tmp_path / "idx"), str(tmp_path / "kept")
        t1 = "the quick brown fox jumps over the lazy dog once more"
        args = ("doc_id", "text", 5, 32, 4, "portable", 8)
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(1, t1), (2, "second doc body")]),
            0, index, out, *args,
        )
        # a retry doubles epoch-0 index rows — compaction must drop them
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(1, t1), (2, "second doc body")]),
            0, index, out, *args,
        )
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(4, "novel fourth document")]),
            1, index, out, *args,
        )
        tbl = neardup_index_table(index)
        rows_before = {
            tuple(r) for r in spark.table(tbl).collect()
        }
        files_before = len(glob.glob(index + "/*.parquet"))
        kept_before = sorted(
            r["doc_id"] for r in spark.read.parquet(out).collect()
        )
        stats = compact_neardup_ingest(spark, index, out, n_buckets=8)
        assert stats["index_rewritten"]
        files_after = len(glob.glob(index + "/*.parquet"))
        assert files_after <= 8 < files_before
        assert {tuple(r) for r in spark.table(tbl).collect()} == rows_before
        assert (
            sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
            == kept_before
        )
        # the compacted index still probes: doc 5 re-crawls doc 1
        _neardup_ingest_epoch(
            self._mk_batch(spark, [(5, t1)]), 2, index, out, *args,
        )
        got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
        assert got == kept_before

    def test_probe_plan_bucket_pruned_no_index_shuffle(self, spark, tmp_path):
        """The 100×-design contract of VERDICT r10 item 1, asserted on the
        actual probe plan: a small batch's probe scan selects a bucket
        SUBSET (plan-time pruning) and the stored index side has no
        exchange and no sort — only the broadcast of the batch bands."""
        from dataengineer_spark.streaming.pipeline import (
            _neardup_ingest_epoch,
            neardup_probe_plan,
        )

        index, out = str(tmp_path / "idx"), str(tmp_path / "kept")
        args = ("doc_id", "text", 5, 32, 4, "portable", 8)
        _neardup_ingest_epoch(
            self._mk_batch(
                spark,
                [(i, f"document number {i} with its own body") for i in range(20)],
            ),
            0, index, out, *args,
        )
        probe = neardup_probe_plan(
            spark,
            index,
            self._mk_batch(spark, [(100, "probe doc one two three")]),
            epoch_id=1, bands=4, family="portable", n_index_buckets=8,
        )
        # the sink forces bucketed scans per epoch; assert under the
        # same setting (pruning lives in the bucketed-scan path)
        abs_key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        prior = spark.conf.get(abs_key, "true")
        spark.conf.set(abs_key, "false")
        try:
            plan = probe._sc._jvm.PythonSQLUtils.explainString(
                probe._jdf.queryExecution(), "formatted"
            )
        finally:
            spark.conf.set(abs_key, prior)
        assert "SelectedBucketsCount:" in plan
        assert "BroadcastHashJoin" in plan
        assert "Sort" not in plan
        # the only exchange is the broadcast of the batch side
        import re

        assert not re.search(r"Exchange (hash|range)partitioning", plan)


class TestReviewedStreamingEdgeCases:
    def test_stateful_totals_long_key(self, spark, tmp_path):
        import pandas as pd

        src = str(tmp_path / "ev_long")
        pd.DataFrame(
            {"user_id": [7, 7, 8], "value": [1.0, 2.0, 5.0]}
        ).to_parquet(src)
        stream = spark.readStream.schema("user_id long, value double").parquet(
            str(tmp_path)
        )
        out = stateful_running_totals(stream, key_col="user_id")
        assert dict(out.dtypes)["user_id"] == "bigint"
        name = f"t_sl_{uuid.uuid4().hex[:8]}"
        q = (
            out.writeStream.outputMode("update").format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ck_sl"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        got = {r["user_id"]: (r["n"], r["total_value"]) for r in spark.table(name).collect()}
        assert got == {7: (2, 3.0), 8: (1, 5.0)}

    def test_trailing_anomalies_null_value_survives(self, spark, tmp_path):
        import os

        import pandas as pd

        from dataengineer_spark.streaming import stream_trailing_anomalies

        src = str(tmp_path / "ev_null")
        os.makedirs(src)
        base = pd.Timestamp("2024-01-01")
        pd.DataFrame(
            {
                "event_id": [1, 2, 3, 4, 5],
                "ts": [base + pd.Timedelta(minutes=i) for i in range(5)],
                "user_id": [1] * 5,
                "value": [10.0, None, 10.0, 10.0, 10.0],
            }
        ).to_parquet(src + "/p.parquet", coerce_timestamps="us")
        stream = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        ).parquet(src)
        flags = stream_trailing_anomalies(
            stream, lookback=5, z_threshold=3.0, min_history=2
        )
        name = f"t_nv_{uuid.uuid4().hex[:8]}"
        q = (
            flags.writeStream.outputMode("append").format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / "ck_nv"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        rows = spark.table(name).collect()
        assert len(rows) == 5  # the NULL row is emitted, not a crash
        nulls = [r for r in rows if r["value"] is None]
        assert len(nulls) == 1 and nulls[0]["is_anomaly"] is False

    def test_batch_audited_sink_requires_checkpoint(self, spark, sf_dir, tmp_path):
        import pytest

        catalog = Catalog(spark, str(tmp_path / "lake"))
        stream = stream_events(spark, sf_dir + "/events.parquet")
        with pytest.raises(ValueError, match="checkpoint is required"):
            batch_audited_sink(stream, catalog, "t", pipeline_name="x")

    def test_stream_contamination_rejects_wrong_bench_column(self, spark, sf_dir):
        import pytest

        from dataengineer_spark.streaming import (
            stream_contamination,
            stream_documents,
        )

        bench = spark.createDataFrame([(["a b"],)], "grams array<string>")
        s = stream_documents(spark, sf_dir + "/documents.parquet")
        with pytest.raises(ValueError, match="_bg"):
            stream_contamination(s, bench)


class TestStreamRuntimeSession:
    def test_child_width_derived_and_caller_untouched(self, spark, sf_dir):
        from dataengineer_spark.streaming import stream_runtime_session

        main_width = spark.conf.get("spark.sql.shuffle.partitions")
        child = stream_runtime_session(spark, sf_dir + "/events.parquet")
        # local bench-scale source: the width is the floor (8), clamped
        # to the caller's narrower session — never wider than the caller
        assert int(main_width) < 8
        assert child.conf.get("spark.sql.shuffle.partitions") == main_width
        assert (
            child.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
            == "false"
        )
        # the caller's session is never mutated
        assert spark.conf.get("spark.sql.shuffle.partitions") == main_width
        assert (
            spark.conf.get(
                "spark.sql.streaming.noDataMicroBatches.enabled", "true"
            )
            == "true"
        )
        # builder defaults must flow into the child (ns events read)
        assert child.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"

    def test_floor_applies_under_a_wide_session(self, spark, sf_dir):
        from dataengineer_spark.streaming import stream_runtime_session

        prior = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        try:
            child = stream_runtime_session(spark, sf_dir + "/events.parquet")
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prior)
        assert child.conf.get("spark.sql.shuffle.partitions") == "8"

    def test_remote_path_keeps_session_width(self, spark):
        from dataengineer_spark.streaming import stream_runtime_session

        child = stream_runtime_session(spark, "s3a://bucket/events")
        assert child.conf.get(
            "spark.sql.shuffle.partitions"
        ) == spark.conf.get("spark.sql.shuffle.partitions")

    def test_ingest_conf_never_touches_caller(self, spark, tmp_path):
        """VERDICT r11 item 5: the live-ingest sink's bucketed-scan conf
        force must be invisible to the CALLER's session mid-epoch — the
        foreachBatch frame is bound to the stream's session clone, so
        the flip lands there.  Observed DURING the epoch via a probe
        hook, not just after the restore."""
        import os
        import time as _time

        import pandas as pd

        from dataengineer_spark.streaming import pipeline as pl
        from dataengineer_spark.streaming import stream_neardup_ingest

        _ABS = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        seen: list[tuple[str, bool]] = []
        orig = pl._cross_probe

        def spy(probe_spark, *a, **k):
            seen.append(
                (
                    spark.conf.get(_ABS),  # caller session, mid-epoch
                    probe_spark._jsparkSession.equals(spark._jsparkSession),
                )
            )
            return orig(probe_spark, *a, **k)

        pl._cross_probe = spy
        try:
            src = str(tmp_path / "in")
            os.makedirs(src)
            now = _time.time()
            for i, rows in enumerate(
                [[(1, "alpha beta gamma delta")], [(2, "wholly different")]],
                start=1,
            ):
                pd.DataFrame(
                    {
                        "doc_id": [r[0] for r in rows],
                        "text": [r[1] for r in rows],
                    }
                ).to_parquet(f"{src}/b{i}.parquet")
                os.utime(f"{src}/b{i}.parquet", (now + i, now + i))
            stream = (
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = stream_neardup_ingest(
                stream,
                str(tmp_path / "idx"),
                str(tmp_path / "kept"),
                bands=4,
                family="portable",
                checkpoint=str(tmp_path / "ck"),
                n_index_buckets=4,
            )
            q.awaitTermination()
        finally:
            pl._cross_probe = spy and orig
        # epoch 2 probes the index built by epoch 1
        assert seen, "probe hook never fired"
        for caller_conf, same_session in seen:
            assert caller_conf == "true"  # caller session untouched
            assert not same_session  # sink runs on the stream's clone
        assert spark.conf.get(_ABS) == "true"
