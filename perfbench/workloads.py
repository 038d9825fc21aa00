"""The benchmark's workloads: named operation lists and their output checks.

An operation's ``build`` does everything up to the final result frame (for
a query, ``fn(spark, sf_dir)``); the harness then runs a ``noop`` write on
that frame, or collects its rows in the checked (cold) pass.  ``check`` gets those
rows, runs outside the timed region and returns a list of problems (empty
when the output is correct).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from perfbench import oracle


@dataclass
class Op:
    name: str
    build: Callable[[str], DataFrame]  # op temp dir -> result frame
    check: Callable[[pd.DataFrame], list[str]]  # result rows -> problems


@dataclass
class Context:
    spark: SparkSession
    sf_dir: str  # engine-side (µs-normalized) scale-factor dir
    raw_sf_dir: str  # generated files, read by DuckDB
    lake: str
    batch_paths: list[str]
    dup_pairs: int
    duck: object = None
    batches_opened: int = 0
    extra: dict = field(default_factory=dict)


#: clinical_etl: the paper's DAGs on CSV batches, the Arrow tokenizer path
#: and the streaming lake ingest (the only streaming layer user)
CLINICAL_QUERIES = ["q_f5_truncate_tokens", "q_e11_stream_lake"]
#: batches outnumber the two queries, so the median operation latency
#: falls among the batch DAG runs instead of between two kinds of operation
BATCHES_PER_PASS = 3

#: text_dedup: MinHash near-dup, BPE training and PageRank power
#: iteration — the three unexplained r12 regressions of ROADMAP.md
TEXT_QUERIES = ["q_e2_minhash_neardup", "q_f9_bpe_train", "q_graph_pagerank"]


def _compare(name: str, got, want) -> list[str]:
    from tools.check_oracle import compare

    return [f"{name}: {p}" for p in compare(name, got, want)]


def query_op(ctx: Context, name: str) -> Op:
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    oracles = entry.oracle_sql()

    def check(got: pd.DataFrame) -> list[str]:
        if name in oracles:
            return _compare(name, got, ctx.duck.sql(oracles[name]).df())
        if name == "q_e2_minhash_neardup":
            # inputs plant exact-copy pairs and no other pair near the
            # Jaccard threshold, so the pair count is known from the seed
            if len(got) != ctx.dup_pairs:
                return [f"{name}: {len(got)} pairs, expected {ctx.dup_pairs}"]
            return []
        return [f"{name}: no oracle and no pinned row count"]

    return Op(name, lambda _tmp: fn(ctx.spark, ctx.sf_dir), check)


def dx_group_op(ctx: Context, slot: int) -> Op:
    """One CSV batch: read_csv → run_dx_group_api (lake writes + CSV export)
    → run_prostate over the batch's preped_data partition."""
    from dataengineer_spark.catalog import Catalog
    from dataengineer_spark.config import RunConfig
    from dataengineer_spark.plans import api_variant, prostate
    from dataengineer_spark.sources import files

    import __spark_entry__ as entry

    catalog = ctx.extra.setdefault("catalog", Catalog(ctx.spark, ctx.lake))
    labels = ctx.extra.setdefault(
        "labels",
        ctx.spark.createDataFrame(entry.LABEL_DIM, "model_id long, label long, label_name string"),
    )
    state: dict = {}

    def build(tmp: str) -> DataFrame:
        path = ctx.batch_paths[ctx.batches_opened % len(ctx.batch_paths)]
        batch_id = ctx.batches_opened = ctx.batches_opened + 1
        export_path = os.path.join(tmp, "export")
        source = files.read_csv(ctx.spark, path, schema="msgid long, message string")
        api_variant.run_dx_group_api(
            catalog,
            RunConfig(pipeline_name="dx_group_api", comment=f"perfbench batch {batch_id}"),
            source,
            labels,
            export_path=export_path,
        )
        state.update(path=path, batch_id=batch_id, export_path=export_path)
        return prostate.run_prostate(catalog.read_batch("preped_data", batch_id))

    def check(rows: pd.DataFrame) -> list[str]:
        bid = state["batch_id"]
        want = oracle.batch_replay_sql(state["path"], bid, entry.LABEL_DIM)
        problems = []
        for table in ("cleaned_data", "preped_data", "prediction_table"):
            got = ctx.duck.sql(
                f"SELECT * FROM read_parquet('{ctx.lake}/{table}/batch_id={bid}/*.parquet', "
                "hive_partitioning = true)"
            ).df()
            problems += _compare(table, got, ctx.duck.sql(want[table]).df())
        got = ctx.duck.sql(
            f"SELECT * FROM read_csv('{state['export_path']}/*.csv', header = true, "
            "columns = {'batchid': 'BIGINT', 'msgid': 'BIGINT', 'predicted_label_id': 'BIGINT', "
            "'model_score': 'DOUBLE', 'model_id': 'BIGINT', 'predicted_label': 'VARCHAR'})"
        ).df()
        problems += _compare("export", got, ctx.duck.sql(want["export"]).df())
        problems += _compare("prostate", rows, ctx.duck.sql(want["prostate"]).df())
        # one audit row per batch opened so far (checks run after the pass)
        n = ctx.batches_opened
        ids = ctx.duck.sql(
            f"SELECT count(*), max(batch_id) FROM read_parquet('{ctx.lake}/batch/*.parquet')"
        ).fetchone()
        if tuple(ids) != (n, n):
            problems.append(f"audit table: (rows, max id) = {tuple(ids)}, expected {(n, n)}")
        return problems

    return Op(f"dx_group_api_{slot}", build, check)


def _clinical_etl(ctx: Context) -> list[Op]:
    return [dx_group_op(ctx, s) for s in range(BATCHES_PER_PASS)] + [
        query_op(ctx, q) for q in CLINICAL_QUERIES
    ]


def _text_dedup(ctx: Context) -> list[Op]:
    return [query_op(ctx, q) for q in TEXT_QUERIES]


WORKLOADS: dict[str, Callable[[Context], list[Op]]] = {
    "clinical_etl": _clinical_etl,
    "text_dedup": _text_dedup,
}
