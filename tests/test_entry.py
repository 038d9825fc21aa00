"""Driver-contract smoke: entry() and the queries()/oracle_sql() registry.

Full oracle comparison runs via tools/check_oracle.py; here we pin the
contract shape, the flagship query, and the invariants that keep every
per-query list consistent with the one ``QUERY_ORDER`` registry.
"""

from __future__ import annotations

import inspect
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod


class TestContract:
    def test_every_oracle_has_a_query(self):
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        assert set(oracles) <= set(qs)
        assert len(qs) >= 40

    def test_entry_runs_and_yields_rows(self, spark):
        df = entrymod.entry(spark)
        assert df.columns == [
            "batchid", "msgid", "predicted_label_id", "model_score", "model_id",
            "predicted_label",
        ]
        assert df.count() > 0

    def test_flagship_plan_has_no_shuffle_on_fact_side(self, spark):
        # broadcast dim join: the documents scan must not shuffle.
        # Inspect the flagship plan directly — entry() returns a
        # lineage_cut frame (one materialization shared by the K4
        # upload and the driver's collect) whose own plan is just the
        # checkpoint scan.
        plan = (
            entrymod._flagship(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan or "BroadcastQueryStage" in plan


class TestRegistry:
    def test_query_functions_are_exactly_the_registry(self):
        order = entrymod.QUERY_ORDER
        assert len(order) == len(set(order)), "duplicate names in QUERY_ORDER"
        defined = {
            name
            for name, obj in vars(entrymod).items()
            if name.startswith("q_") and inspect.isfunction(obj)
        }
        assert defined == set(order)

    def test_rows_only_queries_are_the_tail(self):
        # the driver samples from the front: a rows-only query anywhere
        # but the tail could take a sample slot and report no_oracle
        order, oracles = entrymod.QUERY_ORDER, entrymod.oracle_sql()
        rows_only = [name for name in order if name not in oracles]
        assert list(order[len(order) - len(rows_only):]) == rows_only

    def test_per_query_lists_name_registered_queries(self):
        import bench
        from perfbench.workloads import CLINICAL_QUERIES, TEXT_QUERIES

        registered = set(entrymod.queries())
        pins = json.loads((ROOT / "tests" / "plan_pins.json").read_text())
        lists = {
            "EFFECTFUL_QUERIES": entrymod.EFFECTFUL_QUERIES,
            "BOUNDED_BNL_QUERIES": entrymod.BOUNDED_BNL_QUERIES,
            "bench.HEADLINE": bench.HEADLINE,
            "bench.CALIBRATION": bench.CALIBRATION,
            "plan_pins.json": pins,
            "perfbench": TEXT_QUERIES + CLINICAL_QUERIES,
        }
        for label, names in lists.items():
            assert set(names) <= registered, (label, set(names) - registered)
