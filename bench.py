"""Benchmark harness (driver contract): runs the headline queries at

``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default: the usable host cores) and prints
ONE JSON line
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``
— where ``queries`` holds the 30 slowest headline timings so the line
always fits the driver's 2,000-char stdout tail intact; the FULL registry
(every ``queries()`` entry, headline best-of-2 + the rest timed once) is
written to ``BENCH_DETAIL_r{N}_c{cores}.json`` in the repo.  Set
``SPARK_GRAFT_BENCH_FULL=0`` to skip the non-headline tier.

Each query executes to completion via the no-op sink (full compute, no
driver materialization) — the measured time is scan+compute+shuffle, which
is what scales to the 100 TB target.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from dataengineer_spark.session import build_session

HEADLINE = [
    "q_e5_groupagg",
    "q_e5_rollup",
    "q_e5_percentile",
    "q_e6_window",
    "q_e6_frames",
    "q_e1_incremental_dedup",
    "q_e12_hof",
    "q_e7_topk",
    "q_e9_range_join",
    "q_e9_asof_join",
    "q_e9_semi_anti",
    "q_e10_tumbling",
    "q_e10_session",
    "q_e10_sliding",
    "q_e10_funnel",
    "q_e3_topk_sim",
    # LSH variants are the headline ANN/near-dup entries; the exact
    # pairwise/brute-force forms are size-guarded verification baselines
    # (BroadcastNestedLoop by design, wrong shape to showcase at scale)
    "q_e3_lsh_topk",
    "q_e3_hard_negatives",
    "q_e3_knn_classify",
    "q_e2_embed_lsh_neardup",
    "q_e2_minhash_neardup",
    "q_e2_simhash_neardup",
    "q_e1_dedup",
    "q_e4_text_stats",
    "q_e4_langid",
    "q_e4_tokens",
    "q_e4_gopher_filter",
    "q_e4_pii_redact",
    "q_rank_tfidf",
    "q_rank_bm25",
    "q_e2_semantic_dedup",
    # hashed scale forms bench; the text/portable-hash twins are the
    # oracle-verification baselines (pinned result-identical in tests)
    "q_e2_dup_spans_hashed",
    "q_prep_dsir_hashed",
    "q_dq_funnel",
    "q_prep_decontaminate",
    "q_e5_distinct_agg",
    "q_e7_grouptopk_salted",
    "q_prep_wordcount",
    "q_f4_sectionize",
    "q_tpch_q1",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q9",
    "q_tpch_q10",
    "q_tpch_q13",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_pipeline_dx_group",
    "q_pipeline_curation",
    "q_pipeline_prostate",
    "q_e4_perplexity",
    "q_e1_dup_weights",
    "q_e5_corr_stats",
    "q_prep_chunk",
    "q_e3_kmeans",
    # round-4 additions: sketch, ANN-compression, and decontamination
    # scale paths (each also oracled at sf0.01)
    "q_e5_cms_topk",
    "q_e3_pq_topk",
    "q_prep_bloom_decontaminate",
    "q_e10_anomaly",
    "q_f9_bpe_train",
    # round-4c additions: graph power iteration, collocation mining,
    # cohort/funnel analytics, blocked ER join
    "q_graph_pagerank",
    # 3-iteration twin isolates fixed setup (edge build/degree/nodes)
    # from per-round cost: wall(5)-wall(3) = 2 iterations
    "q_graph_pagerank3",
    "q_f10_pmi",
    "q_e10_retention",
    "q_e10_attribution",
    "q_e9_fuzzy_join",
    # output-bounded ER form (round-8): top-k matches per entity — the
    # shape a real ER user runs first on clone-heavy corpora
    "q_e9_fuzzy_join_topk",
    "q_e5_regression",
    "q_e5_rfm",
    "q_rank_rrf",
    "q_e3_dim_stats",
    "q_e4_oov",
    # FAISS-style composite index: coarse-cell pruning + ADC scan —
    # the ANN shape that actually ships at corpus scale
    "q_e3_ivfpq_topk",
    # trained end-to-end composite: fused k-means fits + cell-prune + ADC
    "q_e3_ivfpq_trained",
    # lake-resident index: cell-partitioned parquet, probe = partition
    # pruning + LUT scan over codes only
    "q_e3_ivfpq_stored",
    # pipeline-final sink: hash-sharded export + read-back manifest
    "q_k8_shard_export",
    # trained-BPE corpus tokenization (map-only expression chain)
    "q_f12_bpe_tokenize",
    # round-5 additions: corpus normalization, mixture upsampling,
    # semantic decontamination, duplication census, token budgeting
    "q_f13_normalize",
    "q_prep_upsample",
    # Arrow/BLAS engine layer takes the bench slot; the interpreted-HOF
    # expression twin q_prep_semantic_decontaminate is the oracled
    # verification baseline (pinned result-identical in tests)
    "q_prep_semantic_decontaminate_arrow",
    "q_dq_dup_rate",
    "q_prep_budget",
    "q_prep_temperature_mixture",
    "q_scrub_boilerplate",
    "q_k6_scd2_lookup",
    "q_e1_dedup_by",
    "q_a6_abtest",
    # round-6 additions: the lake-maintenance story — these are
    # write-dominated (fresh temp-dir lake per invocation), tracked
    # round-over-round because at deployment their cost IS the pipeline
    # (ingest probes, CDC merge, dead-letter routing, schema evolution)
    # Arrow-engine scale forms bench (the portable-hash twins are the
    # oracled verification baselines, ~29x slower on the per-char fold)
    "q_e2_incremental_neardup_arrow",
    "q_k10_cdc_apply",
    "q_k9_quarantine",
    "q_s9_schema_evolution",
    "q_e11_stream_neardup_arrow",
    # round-6 continuation: curation / evaluation additions
    "q_prep_kfold",
    "q_a7_pr_curve",
    "q_e3_ann_recall",
    "q_e4_fertility",
    "q_f14_vocab_coverage",
    "q_e6_range_frame",
    "q_e10_transitions",
    "q_prep_length_buckets",
    "q_e3_pq_error",
    "q_a8_bootstrap",
    "q_e9_interval_join",
    "q_e2_neardup_recall",
    "q_e4_novelty",
    "q_dq_cross_source",
    "q_e10_conversation",
    "q_e10_decay",
    "q_a9_wilson",
    "q_e9_blocking_quality",
    "q_rank_fair_trim",
    "q_pipeline_curation2",
    "q_dq_datacard",
    "q_e2_containment",
    "q_dq_mad_outliers",
    "q_e9_interval_coverage",
    "q_rank_ndcg",
    "q_rank_rbo",
    "q_prep_preference_pairs",
    "q_e10_cusum",
    "q_dq_benford",
    "q_a10_bradley_terry",
    "q_e6_ewma",
    "q_prep_curriculum",
    "q_dq_label_noise",
    "q_a11_paired_t",
    "q_e3_pca_power",
    # single-iteration twin: wall(2-iter) - wall(1-iter) = one power
    # iteration (the pagerank3 breakdown pattern)
    "q_e3_pca_power1",
    "q_e9_proration",
    "q_rank_calibrate",
    "q_dq_lang_mismatch",
    "q_prep_churn_labels",
    "q_dq_gini",
    "q_a12_sliced_auc",
    "q_e9_sorted_blocking",
    "q_e3_embed_outliers",
    "q_e10_seasonal",
    "q_dq_fd",
    "q_e10_conversion_lag",
    "q_dq_psi",
    "q_dq_kanon",
    "q_e10_burstiness",
]

#: Host-speed calibration probes (VERDICT r8 item 5): three cheap,
#: plan-stable queries (narrow projection / hash agg / pushed-filter agg)
#: timed best-of-3 at tier start AND tier end.  Their walls move with the
#: host (CPU contention, JIT state, page cache), not with engine changes —
#: so cross-round per-query deltas should be read NET of the calibration
#: drift (r8→r9 triage burned a manual re-measurement session on what
#: turned out to be a ~3× slower host; the r7-vs-r9 same-session A/B showed
#: the "regressed" queries actually got 3-4× faster).  The start/end pair
#: also bounds WITHIN-run drift for the long full tier.
CALIBRATION = ["q_p1_project", "q_e5_groupagg", "q_tpch_q6"]

#: Full-tier queries timed best-of-2 instead of once (VERDICT r9 item 5):
#: the stateful/streaming E11 runs pay a per-run stream-startup +
#: state-store-init cost with high host-noise variance — run-once walls
#: produced two rounds of false regression alarms (r8: a session was spent
#: disproving one; r9: q_e11_stateful's 10.0 s tier spike re-measured at
#: 1.4-1.7 s).  ~30 s of tier budget buys min-of-2 for exactly this set.
FULL_BEST_OF_2_PREFIX = "q_e11_"


def _emit_summary(
    timings: dict[str, float],
    full_timings: dict[str, float],
    errors: dict[str, str],
    sf: float,
    detail: str,
    calib: dict | None = None,
) -> None:
    """One compact JSON line (headline total + the 30 slowest headline
    timings), guaranteed to fit the driver's 2,000-char stdout tail."""
    summary = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf,
        "n_headline": len(timings),
        "n_full": len(full_timings),
        "full_total": round(sum(full_timings.values()), 3),
        "detail": detail,
        "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:30]),
    }
    if errors:
        summary["n_errors"] = len(errors)
    if calib:
        # compact host-speed yardstick: probe-total at tier start/end
        summary["calib"] = {
            "start": round(sum(calib["start"].values()), 3),
            "end": round(sum(calib["end"].values()), 3),
            "drift": calib["drift"],
        }
    line = json.dumps(summary)
    if len(line) > 1900:  # never let the tail cut the summary line
        summary.pop("queries")
        line = json.dumps(summary)
    print(line, flush=True)


def drop_blocks(spark) -> None:
    """Per-query block hygiene: ``clearCache`` only empties the SQL
    CacheManager — localCheckpoint blocks are raw persisted RDDs that free
    on (Python) frame GC, which lags the loop, so across ~280 queries they
    accumulate until executor storage is full and later queries measure
    eviction thrash instead of their plan (r8: q_e4_fingerprint_portable
    benched 24.9 s vs 2.2 s isolated).  Collect the dead frames, then
    unpersist whatever blocks remain.  The block listing is a private py4j
    surface: if it is gone the run fails rather than silently timing
    eviction thrash."""
    import gc

    from py4j.protocol import Py4JError

    gc.collect()
    spark.catalog.clearCache()
    # memory-sink temp views from finished streaming queries pin their
    # results (and sink bookkeeping) for the session lifetime; ~30
    # accumulate over a full run — drop the uuid-named ones
    for t in spark.catalog.listTables():
        if t.isTemporary and t.name.startswith(("stream_", "stateful_", "anomaly_")):
            spark.catalog.dropTempView(t.name)
    try:
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
    except (AttributeError, Py4JError) as exc:
        raise RuntimeError("block hygiene: _jsc.getPersistentRDDs is unavailable") from exc
    for rdd in list(rdds.values()):
        rdd.unpersist()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    spark = build_session("bench")

    # JVM/codegen + file-listing warmup outside the measurement
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from dataengineer_spark.testdata import TABLES, load_table, normalized_sf_dir

    # bench against a µs-normalized events copy (one-time ingest
    # normalization happens here, outside measurement) — production lakes
    # land µs-native; the ns testdata file is a driver-format artifact
    import tempfile

    sf_name = os.path.basename(sf_dir.rstrip("/"))
    shadow = os.path.join(tempfile.gettempdir(), f"spark_graft_lake_{sf_name}")
    sf_dir = normalized_sf_dir(spark, sf_dir, shadow)

    for t in TABLES:
        load_table(spark, sf_dir, t).count()

    qs = entrymod.queries()

    def run_once(fn) -> float:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    def calibrate() -> dict[str, float]:
        """Best-of-3 walls for the CALIBRATION probes — host-speed
        yardstick recorded at tier start and end (block hygiene between
        runs, same as the measured queries)."""
        probes: dict[str, float] = {}
        for name in CALIBRATION:
            best = None
            for _ in range(3):
                # a probe failure must never abort the run: the
                # measurement loops record errors and continue, and the
                # calibration is strictly less important than they are
                try:
                    dt = run_once(qs[name])
                except Exception as exc:  # noqa: BLE001
                    errors[f"calibration:{name}"] = repr(exc)[:200]
                    break
                best = dt if best is None else min(best, dt)
                drop_blocks(spark)
            if best is not None:
                probes[name] = round(best, 3)
        return probes

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    calib_start = calibrate()

    for name in HEADLINE:
        fn = qs[name]
        # steady-state: best of 2 runs — first run pays one-time plan/codegen
        # cost that amortizes away at production data volumes
        try:
            timings[name] = round(min(run_once(fn), run_once(fn)), 3)
        except Exception as exc:  # noqa: BLE001 — one bad query must not
            errors[name] = repr(exc)[:200]  # sink the whole artifact
        drop_blocks(spark)

    # crash insurance: if the (longer) full tier below is ever cut short
    # by a driver timeout, stdout already ends with a parseable headline
    # summary — the final print below supersedes it in the normal case
    _emit_summary(timings, {}, errors, sf, detail="pending")

    # full-registry tier (VERDICT r7 item 2): every non-headline query
    # timed ONCE — cheaper than the headline's best-of-2, methodology
    # held constant round-over-round, so the 130+ previously-untracked
    # queries (remaining TPC-H shapes, E14 lake ops, portable twins) get
    # cross-round regression visibility
    full_timings: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_FULL", "1") != "0":
        for name, fn in qs.items():
            if name in HEADLINE:
                continue
            try:
                dt = run_once(fn)
                if name.startswith(FULL_BEST_OF_2_PREFIX):
                    # stateful-streaming noise guard: min-of-2 (see
                    # FULL_BEST_OF_2_PREFIX), block hygiene between runs
                    drop_blocks(spark)
                    dt = min(dt, run_once(fn))
                full_timings[name] = round(dt, 3)
            except Exception as exc:  # noqa: BLE001
                errors[name] = repr(exc)[:200]
            drop_blocks(spark)

    calib_end = calibrate()

    total = round(sum(timings.values()), 3)
    full_total = round(sum(full_timings.values()), 3)
    calib_payload = {
        "start": calib_start,
        "end": calib_end,
        # within-run drift: end-of-tier host speed over start-of-tier
        "drift": round(
            sum(calib_end.values()) / max(sum(calib_start.values()), 1e-9), 3
        ),
    }
    detail_payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "full_total": full_total,
        "n_headline": len(timings),
        "n_full": len(full_timings),
        "calibration": calib_payload,
        "queries": timings,
        "full_queries": full_timings,
        "errors": errors,
    }
    # The driver's BENCH_r{N}.json artifact keeps only the LAST ~2,000
    # chars of stdout, so a single fat JSON line loses its head and
    # parses as null (VERDICT r7 item 7).  Persist the FULL timing map to
    # the repo as BENCH_DETAIL_r{N}.json and keep stdout's FINAL line a
    # compact summary (headline total + the slowest queries) that always
    # fits the tail intact.  N comes from the driver's own PROGRESS.jsonl
    # (its last line carries the CURRENT round); when that log is
    # missing/malformed, prefer the max existing BENCH_DETAIL_r* index —
    # a re-run after BENCH_r{N}.json has landed re-labels round N, not
    # N+1 (ADVICE r7) — and mark the guess in the payload.
    repo = os.path.dirname(os.path.abspath(__file__))
    import re

    n = None
    try:
        with open(os.path.join(repo, "PROGRESS.jsonl")) as fh:
            lines = [ln for ln in fh if ln.strip()]
        n = int(json.loads(lines[-1])["round"])
    except (OSError, ValueError, KeyError, IndexError, TypeError):
        # a malformed/absent progress log must never lose the run: the
        # stdout JSON line and detail file still have to be written
        pass
    if n is None:
        detail_rounds = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.match(r"BENCH_DETAIL_r(\d+)", f))
        ]
        bench_rounds = [
            int(m.group(1))
            for f in os.listdir(repo)
            if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
        ]
        if detail_rounds:
            n = max(detail_rounds)
        else:
            n = (max(bench_rounds) if bench_rounds else 0) + 1
        detail_payload["round_inferred"] = n
    # non-default scale runs (e.g. the sf1 10x sweep) get their own file
    # so they never clobber the driver-scale detail; every run is tagged
    # with the cores the live context really has (VERDICT r11 item 5: an
    # 8-core scaling run keyed to the same filename and overwrote another
    # core count's artifact)
    tag = "" if abs(sf - 0.1) < 1e-9 else f"_sf{sf:g}"
    tag += f"_c{spark.sparkContext.defaultParallelism}"
    detail = os.path.join(repo, f"BENCH_DETAIL_r{n:02d}{tag}.json")
    try:
        with open(detail, "w") as fh:
            json.dump(detail_payload, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout summary still survives
    _emit_summary(
        timings, full_timings, errors, sf, os.path.basename(detail),
        calib=calib_payload,
    )
    spark.stop()


if __name__ == "__main__":
    main()
