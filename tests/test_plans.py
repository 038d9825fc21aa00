"""Physical-plan property tests — the scale contract, enforced.

SCALE.md's claims are asserted here against the actual Catalyst output so
they can't silently rot: predicate pushdown reaches the parquet scan,
dimension joins broadcast, nothing falls back to a cartesian product, and
no registered query ever plans a row-at-a-time Python UDF
(``BatchEvalPython``) — Arrow-batched pandas UDFs (``ArrowEvalPython`` /
``MapInPandas`` / ``FlatMapGroupsInPandas``) are the only sanctioned
Python execution.
"""

from __future__ import annotations

import io
import contextlib

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

# queries whose callables run side effects rather than just building a plan
_EFFECTFUL = entrymod.EFFECTFUL_QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = entrymod.queries()[name](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


class TestScanPushdown:
    def test_daterange_filters_reach_parquet(self, spark, sf_dir):
        p = _plan(spark, sf_dir, "q_s4_daterange_scan")
        assert "GreaterThanOrEqual(o_orderdate" in p  # PushedFilters
        assert "LessThanOrEqual(o_orderdate" in p
        # column pruning: only the projected columns are read
        assert "o_comment" not in p

    def test_q6_all_predicates_pushed(self, spark, sf_dir):
        p = _plan(spark, sf_dir, "q_tpch_q6")
        for f in ["l_shipdate", "l_discount", "l_quantity"]:
            assert f"IsNotNull({f})" in p


class TestJoinStrategy:
    @pytest.mark.parametrize(
        "name",
        [
            "q_tpch_q3", "q_tpch_q5", "q_tpch_q10", "q_tpch_q18",
            "q_tpch_q7", "q_tpch_q8", "q_tpch_q9", "q_tpch_q15",
            "q_tpch_q16", "q_tpch_q19", "q_j1_label_join",
        ],
    )
    def test_dim_sides_broadcast_no_cartesian(self, spark, sf_dir, name):
        p = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p

    def test_semi_anti_plan(self, spark, sf_dir):
        p = _plan(spark, sf_dir, "q_e9_semi_anti")
        assert "CartesianProduct" not in p


class TestAggregation:
    def test_partial_then_final(self, spark, sf_dir):
        p = _plan(spark, sf_dir, "q_e5_groupagg")
        # two HashAggregate operators around one Exchange = map-side combine
        assert p.count("HashAggregate") >= 2
        assert "Exchange" in p

    def test_global_topk_avoids_full_sort(self, spark, sf_dir):
        p = _plan(spark, sf_dir, "q_e7_topk")
        assert "TakeOrderedAndProject" in p


class TestLakeLayout:
    def test_batch_read_is_partition_pruned(self, spark, sf_dir, tmp_path):
        """The audit pattern's WHERE batch_id= must be partition pruning,
        not scan+filter (SCALE.md 'Global posture')."""
        import io
        import contextlib

        from dataengineer_spark.batch import stamp_batch
        from dataengineer_spark.catalog import Catalog
        from dataengineer_spark.testdata import load_table

        catalog = Catalog(spark, str(tmp_path / "lake"))
        docs = load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("msgid"), F.col("text").alias("msg")
        )
        catalog.write(stamp_batch(docs, 1), "cleaned_data")
        catalog.write(stamp_batch(docs, 2), "cleaned_data")
        df = catalog.read_batch("cleaned_data", 2)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        assert "PartitionFilters" in p and "batch_id" in p.split("PartitionFilters", 1)[1].split("]", 1)[0]
        # and the pruned read returns exactly one batch
        assert df.select("batch_id").distinct().collect()[0][0] == 2


class TestNoRowPythonAnywhere:
    def test_no_batch_eval_python(self, spark, sf_dir):
        bad = []
        for name in entrymod.queries():
            if name in _EFFECTFUL:
                continue
            if "BatchEvalPython" in _plan(spark, sf_dir, name):
                bad.append(name)
        assert not bad, f"row-at-a-time Python UDF planned in: {bad}"


class TestAqeSkewJoin:
    def test_aqe_splits_skewed_join(self, spark):
        """SCALE.md claims AQE handles fact-join skew at runtime — pin it:
        a join where one key holds 83% of rows must re-plan with
        SortMergeJoin(skew=true) once thresholds make the skew visible at
        this toy scale (production defaults: 256MB/factor 5)."""
        import io
        import contextlib

        keys = [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        ]
        saved = {k: spark.conf.get(k, None) for k in keys}
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
            )
            spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
            fact = spark.range(300_000).select(
                F.when(F.col("id") < 250_000, F.lit(0))
                .otherwise(F.col("id") % 100)
                .alias("k"),
                F.col("id").alias("v"),
            )
            dim = spark.range(100).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("w")
            )
            j = fact.join(dim, "k").groupBy().agg(
                F.sum(F.col("v") + F.col("w")).alias("s")
            )
            j.collect()  # AQE decisions only exist in the executed plan
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            p = buf.getvalue()
            assert "isFinalPlan=true" in p
            assert "SortMergeJoin(skew=true)" in p
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestRuntimeBloomFilter:
    def test_selective_dim_injects_bloom_filter(self, spark, sf_dir):
        """A selective filter on the dim side of a shuffle join should
        inject a runtime Bloom filter on the fact side (might_contain in
        the scan's filter), pre-shuffle-pruning fact rows that can't match.
        Production-size scans clear the default thresholds on their own;
        locally the application-side floor is lowered to make it visible."""
        from dataengineer_spark.testdata import load_table

        keys = [
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        ]
        saved = {k: spark.conf.get(k, None) for k in keys}
        try:
            spark.conf.set(keys[0], "0")
            spark.conf.set(keys[1], "-1")
            li = load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice"
            )
            orders = load_table(spark, sf_dir, "orders").where(
                F.col("o_orderpriority") == "1-URGENT"
            ).select("o_orderkey")
            j = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).agg(
                F.sum("l_extendedprice")
            )
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                j.explain("formatted")
            assert "might_contain" in buf.getvalue()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


class TestRound4dPlanShapes:
    def test_ivfpq_is_filter_map_takeordered(self, spark, sf_dir):
        # the composite index must plan NO shuffle joins at all: literal
        # cell filter + per-row LUT arithmetic + per-partition top-k
        p = _plan(spark, sf_dir, "q_e3_ivfpq_topk")
        assert "TakeOrderedAndProject" in p
        for bad in ["SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoop", "CartesianProduct"]:
            assert bad not in p

    def test_fuzzy_join_is_equi_not_cartesian(self, spark, sf_dir):
        # blocking must surface as an equi-join; levenshtein stays a
        # post-join filter, never a join strategy fallback
        p = _plan(spark, sf_dir, "q_e9_fuzzy_join")
        assert "BroadcastNestedLoop" not in p
        assert "CartesianProduct" not in p

    def test_setsim_candidates_are_equi_joined(self, spark, sf_dir):
        p = _plan(spark, sf_dir, "q_e2_setsim_join")
        assert "BroadcastNestedLoop" not in p
        assert "CartesianProduct" not in p

    def test_auc_reduces_before_the_window(self, spark, sf_dir):
        # the only window must run over the per-distinct-score aggregate,
        # i.e. a partial+final HashAggregate pair precedes the Window
        p = _plan(spark, sf_dir, "q_a2_auc")
        assert p.count("HashAggregate") >= 2
        assert "Window" in p

    def test_retention_shares_the_user_partitioning(self, spark, sf_dir):
        # no cartesian, no nested loop; the first-touch agg and activity
        # join both key on user_id
        p = _plan(spark, sf_dir, "q_e10_retention")
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoop" not in p


class TestRound4ePlanShapes:
    def test_bpe_tokenize_is_map_only(self, spark, sf_dir):
        # literal-merge tokenization must stay a pure expression chain:
        # no keyed shuffle, no join, no aggregate, no Python eval — the
        # only allowed exchange is _docs()'s round-robin fan_out (a
        # local-mode parallelism aid, not part of the operator)
        p = _plan(spark, sf_dir, "q_f12_bpe_tokenize")
        assert "hashpartitioning" not in p
        for bad in ["HashAggregate", "SortMergeJoin", "BroadcastHashJoin",
                    "Window", "BatchEvalPython", "ArrowEvalPython"]:
            assert bad not in p

    def test_shard_assignment_adds_no_shuffle(self, spark, sf_dir):
        # assign_shards is a map-only column append — the export's single
        # repartition is the only exchange, owned by the writer
        from dataengineer_spark.operators.preparation import assign_shards
        from dataengineer_spark.testdata import load_table

        import contextlib
        import io

        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assign_shards(docs, 16).explain("formatted")
        p = buf.getvalue()
        assert "Exchange" not in p
        assert "BatchEvalPython" not in p

    def test_normalize_and_upsample_are_map_only(self, spark, sf_dir):
        # round-5 corpus-prep stages must be pure expression chains:
        # zero exchanges, no join/agg/window, no Python eval
        for name in ["q_f13_normalize", "q_prep_upsample"]:
            p = _plan(spark, sf_dir, name)
            assert "Exchange" not in p, name
            for bad in ["HashAggregate", "Join", "Window",
                        "BatchEvalPython", "ArrowEvalPython"]:
                assert bad not in p, (name, bad)

    def test_incremental_neardup_probes_never_reshingle_history(
        self, spark, sf_dir
    ):
        # the stored-index probe: the SEEN side of the band join must be
        # the 24-byte (band, bucket) projection — no shingle/signature
        # expression may appear under the index input (history text is
        # never re-read). The plan should contain exactly one
        # aggregate-free probe join on (band, bucket).
        from dataengineer_spark.operators import dedup as dedup_ops
        from dataengineer_spark.testdata import load_table

        import contextlib
        import io

        docs = load_table(spark, sf_dir, "documents")
        # materialized index stands in for the lake table read
        idx = dedup_ops.signature_table(
            docs.where("doc_id < 50"), bands=4
        ).localCheckpoint()
        new = docs.where("doc_id >= 450")
        kept = dedup_ops.incremental_neardup(new, idx, bands=4)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            kept.explain("formatted")
        p = buf.getvalue()
        # one anti join (id) + one semi join (band, bucket); the index
        # side arrives as a checkpointed scan, not a recomputed pipeline
        assert "LeftAnti" in p and "LeftSemi" in p
        assert p.count("xxhash64") >= 1  # new side IS hashed
        assert "Scan ExistingRDD" in p or "LogicalRDD" in p  # index scan


class TestPinnedPlanShapes:
    """The plan-shape regression gate (VERDICT r9 item 4): every pinned
    headline query's summarized physical plan — exchange count, join
    strategies, python execution mode, raw-BNL count — must match
    tests/plan_pins.json, derived under this exact session shape by
    `python tools/pin_plans.py`.  An intentional plan change re-pins
    (re-run the tool, review the JSON diff, commit both); an accidental
    one fails here in minutes instead of surfacing as a bench mystery a
    round later.  FEWER exchanges than pinned also fails — an improvement
    should be looked at and re-pinned, not absorbed silently."""

    @pytest.fixture(scope="class")
    def pins(self):
        import json
        import os

        path = os.path.join(os.path.dirname(__file__), "plan_pins.json")
        with open(path) as fh:
            return json.load(fh)

    def test_pinned_queries_exist_and_are_pure(self, pins):
        qs = entrymod.queries()
        for name in pins:
            assert name in qs, name
            assert name not in _EFFECTFUL, f"{name} became effectful: re-pin"

    def test_plan_summaries_match_pins(self, spark, sf_dir, pins):
        from tools.plan_report import summarize

        qs = entrymod.queries()
        mismatches = {}
        for name, pin in sorted(pins.items()):
            got = summarize(_plan(spark, sf_dir, name))
            got = {k: got[k] for k in ("exchanges", "joins", "python",
                                       "raw_bnl")}
            if got != pin:
                mismatches[name] = {"pinned": pin, "got": got}
        assert not mismatches, (
            "plan shapes drifted from tests/plan_pins.json — if the change "
            "is intentional, re-pin with `python tools/pin_plans.py` and "
            f"commit the diff: {mismatches}"
        )
