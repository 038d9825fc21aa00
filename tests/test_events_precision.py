"""events.ts arrives at whatever precision the lake landed it — the driver
testdata has shipped both ns (round 1/2) and µs-NTZ (round 3) files.
load_table must yield the same UTC µs TimestampType column for every
variant, in a session with or without the engine's confs (the external
correctness driver passes its own conf-less session).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from dataengineer_spark.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"

_ROWS = {
    "event_id": [1, 2, 3],
    "user_id": [10, 10, 11],
    "event_type": ["view", "click", "purchase"],
    "value": [1.5, 2.5, 3.5],
    "props": ["{}", "{}", "{}"],
}
_TS = [
    dt.datetime(2024, 1, 1, 0, 0, 0),
    dt.datetime(2024, 1, 1, 0, 30, 0, 123456),
    dt.datetime(2024, 1, 2, 12, 0, 0),
]


def _write_events(tmp_path, unit: str, tz: str | None) -> str:
    sf = tmp_path / f"sf_{unit}_{tz or 'naive'}"
    os.makedirs(sf, exist_ok=True)
    for name in os.listdir(SF_DIR):
        if name != "events.parquet":
            os.symlink(os.path.join(SF_DIR, name), sf / name)
    tbl = pa.table(
        {
            "event_id": pa.array(_ROWS["event_id"], pa.int64()),
            "ts": pa.array(_TS, pa.timestamp(unit, tz=tz)),
            "user_id": pa.array(_ROWS["user_id"], pa.int64()),
            "event_type": pa.array(_ROWS["event_type"], pa.string()),
            "value": pa.array(_ROWS["value"], pa.float64()),
            "props": pa.array(_ROWS["props"], pa.string()),
        }
    )
    pq.write_table(tbl, sf / "events.parquet")
    return str(sf)


@pytest.mark.parametrize(
    "unit,tz",
    [
        ("us", None),   # round-3 driver testdata: µs, isAdjustedToUTC=false
        ("us", "UTC"),  # a µs-UTC lake copy (normalized_sf_dir output)
        ("ns", None),   # round-1/2 driver testdata: ns, naive
        ("ns", "UTC"),
    ],
)
def test_load_table_normalizes_every_ts_precision(spark, tmp_path, unit, tz):
    sf = _write_events(tmp_path, unit, tz)
    df = load_table(spark, sf, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = {
        r["event_id"]: r["ts"]
        for r in df.select("event_id", "ts").collect()
    }
    # all variants must surface the same UTC wall clock, µs precision
    assert got[1] == _TS[0]
    assert got[2] == _TS[1]
    assert got[3] == _TS[2]
    shutil.rmtree(sf)


class TestSessionTranscripts:
    def test_order_boundary_and_tie(self, spark):
        import pyspark.sql.functions as F
        from dataengineer_spark.operators.events import session_transcripts

        df = spark.createDataFrame(
            [
                (1, 1, "2024-01-01 00:00:00", "a"),
                (2, 1, "2024-01-01 00:00:05", "b"),
                (3, 1, "2024-01-01 00:00:05", "c"),   # tie: id orders b->c... id 2 < 3
                (4, 1, "2024-01-01 00:30:05", "d"),   # exactly gap: SAME session (strict >)
                (5, 1, "2024-01-01 01:00:06", "e"),   # > gap: new session
                (6, 2, "2024-01-01 00:00:00", "z"),
            ],
            "event_id long, user_id long, ts string, event_type string",
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {
            (r["user_id"], r["session_id"]): r
            for r in session_transcripts(df, gap_seconds=1800).collect()
        }
        s1 = got[(1, 1)]
        assert s1["transcript"] == "a -> b -> c -> d"
        assert s1["n_turns"] == 4
        assert got[(1, 2)]["transcript"] == "e"
        assert got[(2, 1)]["transcript"] == "z"


class TestDecayedActivity:
    def test_exact_dyadic_weights(self, spark):
        import pyspark.sql.functions as F
        from dataengineer_spark.operators.events import decayed_activity

        # anchor = day 40; ages 0, 1, 2 days and one beyond the horizon
        df = spark.createDataFrame(
            [
                (1, "2024-02-10 00:00:00"),
                (1, "2024-02-09 00:00:00"),
                (1, "2024-02-08 00:00:00"),
                (1, "2024-01-01 00:00:00"),  # age 40d: weight exactly 0
                (2, "2024-02-10 00:00:00"),
            ],
            "user_id long, ts string",
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {
            r["user_id"]: r for r in decayed_activity(df).collect()
        }
        assert got[1]["n_events"] == 4
        assert got[1]["decayed_score"] == 1.0 + 0.5 + 0.25  # exact dyadics
        assert got[2]["decayed_score"] == 1.0

    def test_half_life_validation(self, spark):
        import pytest
        from dataengineer_spark.operators.events import decayed_activity

        df = spark.createDataFrame([(1,)], "user_id long")
        with pytest.raises(ValueError):
            decayed_activity(df, half_life_days=0)


class TestSessionTranscriptNulls:
    def test_all_null_types_give_null_transcript(self, spark):
        import pyspark.sql.functions as F
        from dataengineer_spark.operators.events import session_transcripts

        df = spark.createDataFrame(
            [
                (1, 1, "2024-01-01 00:00:00", None),
                (2, 1, "2024-01-01 00:00:05", None),
                (3, 2, "2024-01-01 00:00:00", "a"),
                (4, 2, "2024-01-01 00:00:01", None),  # partial NULL: skipped
            ],
            "event_id long, user_id long, ts string, event_type string",
        ).withColumn("ts", F.to_timestamp("ts"))
        got = {
            r["user_id"]: r
            for r in session_transcripts(df, gap_seconds=1800).collect()
        }
        assert got[1]["transcript"] is None and got[1]["n_turns"] == 2
        assert got[2]["transcript"] == "a"


@pytest.mark.parametrize("unit,tz", [("us", None), ("ns", None), ("us", "UTC")])
def test_load_table_reads_the_footer_without_a_job(spark, tmp_path, job_group, unit, tz):
    # the schema (and the ts precision) come from the parquet footer on
    # the driver: no inference job, no probing read
    sf = _write_events(tmp_path, unit, tz)
    with job_group() as jobs:
        load_table(spark, sf, "events")
    assert jobs == []


def test_spark_written_events_read_back(spark, tmp_path, job_group):
    # Spark writes TimestampType as INT96, which pyarrow reports as ns: the
    # footer must still declare a timestamp, not the ns-long read
    sf = _write_events(tmp_path, "us", None)
    src = load_table(spark, sf, "events")
    out = tmp_path / "lake"
    os.makedirs(out)
    src.write.parquet(str(out / "events.parquet"))
    with job_group() as jobs:
        back = load_table(spark, str(out), "events")
    assert jobs == []
    assert isinstance(back.schema["ts"].dataType, T.TimestampType)
    assert sorted(back.collect()) == sorted(src.collect())
