"""Driver-contract smoke: entry() and the queries()/oracle_sql() registry.

Full oracle comparison runs via tools/check_oracle.py; here we pin the
contract shape, the flagship query, and the invariants that keep every
per-query list consistent with the one ``QUERY_ORDER`` registry.
"""

from __future__ import annotations

import ast
import inspect
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entrymod


def _sites(path: Path, is_site) -> set[str]:
    """Names of the top-level functions (``Class.method`` for methods) of
    ``path`` that contain an AST node ``is_site`` accepts; docstrings are
    skipped, so prose about an expression is not a copy of it."""
    tree = ast.parse(path.read_text())
    docs = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.FunctionDef, ast.ClassDef, ast.AsyncFunctionDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }

    def owners(node, prefix=""):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                yield from owners(child, f"{child.name}.")
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield prefix + child.name, child
            elif not prefix:
                yield "<module>", child

    return {
        name
        for name, top in owners(tree)
        for node in ast.walk(top)
        if id(node) not in docs and is_site(node)
    }


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


class TestJoblessBuild:
    def test_tpch_q5_build_submits_no_job(self, spark, sf_dir, job_group):
        # six testdata reads, each with its schema declared from the
        # parquet footer: building the plan runs nothing
        with job_group() as jobs:
            entrymod.queries()["q_tpch_q5"](spark, sf_dir)
        assert jobs == []

    def test_declared_schemas_match_inference(self, spark, sf_dir):
        import os

        from dataengineer_spark.testdata import TABLES, load_table

        for name in TABLES:
            if name == "events":  # normalized; see test_events_precision
                continue
            inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
            assert load_table(spark, sf_dir, name).schema.json() == inferred.schema.json(), name


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

    def test_portable_replay_declared_once(self):
        # the portable hash family has one builder per engine: the fold
        # text (``acc * 31 + x``) lives only in the DuckDB ``_duck_poly``
        # and the two Spark SQL builders in preparation.py, and the
        # affine MinHash parameters are expanded only by ``_duck_minhash``
        # (SimHash's seed-7 bit family is the one other use)
        fold = re.compile(r"\*\s*31\s*\+")

        def folds(node):
            return isinstance(node, ast.Constant) and isinstance(
                node.value, str
            ) and bool(fold.search(node.value))

        def affine_calls(node):
            return isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "_affine_params"
                or getattr(node.func, "attr", None) == "_affine_params"
            )

        entry_py = ROOT / "__spark_entry__.py"
        assert _sites(entry_py, folds) == {"_duck_poly"}
        assert _sites(entry_py, affine_calls) == {
            "_duck_minhash", "_simhash_portable_oracle",
        }

        def spark_folds(node):
            # SQL text, or Python arithmetic ``x * 31`` (the UDF side)
            return folds(node) or (
                isinstance(node, ast.BinOp)
                and isinstance(node.op, ast.Mult)
                and any(
                    isinstance(x, ast.Constant) and x.value == 31
                    for x in (node.left, node.right)
                )
            )

        found = {
            f"{path.relative_to(ROOT / 'dataengineer_spark')}:{name}"
            for path in sorted((ROOT / "dataengineer_spark").rglob("*.py"))
            for name in _sites(path, spark_folds)
        }
        assert found == {
            "operators/preparation.py:_poly_hash_sql",
            "operators/preparation.py:_poly_unrolled_sql",
            # the Python-side UDF the multimodal oracle replays
            "operators/multimodal.py:_fake_feature",
        }, found

    def test_hash_family_declared_once(self):
        # the MinHash near-dup stack takes ONE ``family`` parameter: no
        # function takes both of the old ``portable`` and ``engine``
        # switches, the never-used Arrow + raw-string-key combination is
        # gone, and the index's family stamp is read by one fence
        lib = sorted((ROOT / "dataengineer_spark").rglob("*.py"))
        paths = [ROOT / "__spark_entry__.py", *lib]
        both = {
            f"{path.relative_to(ROOT)}:{node.name}"
            for path in paths
            for node in ast.walk(ast.parse(path.read_text()))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and {"portable", "engine"} <= {
                a.arg
                for a in node.args.posonlyargs + node.args.args
                + node.args.kwonlyargs
            }
        }
        assert not both, both
        dead = "-".join(("arrow", "portable"))
        assert [p.name for p in paths if dead in p.read_text()] == []

        def reads_stamp(node):
            key = None
            if isinstance(node, ast.Call) and node.args and getattr(
                node.func, "attr", None
            ) == "get":
                key = node.args[0]
            elif isinstance(node, ast.Subscript):
                key = node.slice
            return isinstance(key, ast.Constant) and key.value == "neardup_family"

        found = {
            f"{path.relative_to(ROOT)}:{name}"
            for path in paths
            for name in _sites(path, reads_stamp)
        }
        assert found == {
            "dataengineer_spark/operators/dedup.py:_check_family"
        }, found
