"""The external correctness driver hands queries its OWN SparkSession,
without any of session.build_session's confs (VERDICT r1 item 4). This
pins that a representative slice of the registry — including the families
that failed round 1 exactly because of a hidden session-conf dependency —
runs and oracle-matches on a conf-less session.

Runs in a subprocess: inside pytest's JVM, builder.getOrCreate() would
silently reuse the engine-configured session fixture.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

CHECK_ORACLE = Path(__file__).resolve().parents[1] / "tools" / "check_oracle.py"

REPRESENTATIVE = [
    "q_e9_asof_join",    # events ns-parquet read (round-1 FAIL family)
    "q_e10_tumbling",    # event-time window on the same read path
    "q_e4_fingerprint",  # round-1 driver-hash crash (non-scalar column)
    "q_f6_format_date",  # timestamp formatting → session timezone
    "q_tpch_q1",         # decimal-accumulated aggregate
    "q_pipeline_dx_group",  # flagship end-to-end
    # round-4 fronted oracled twins: literal codebooks / portable hash
    # families must not depend on engine session confs (VERDICT r3 item 8)
    "q_e2_simhash_portable",
    "q_e2_neardup_dedup_portable",
    "q_e2_semantic_dedup",
    "q_e4_fingerprint_portable",
    "q_prep_decontaminate_portable",
    # round-4b additions: sketch/layout/ANN/stream families with literal
    # codebooks, timestamp sentinels, or streaming runs
    "q_e5_cms_topk",
    "q_k6_scd2",        # timestamp literals → session timezone sensitivity
    "q_e3_pq_topk",
    "q_e11_stream_hll", # streaming + window on the conf-less session
    "q_e10_anomaly",
    # round-4c additions: date-typed outputs (cast-to-timestamp parity),
    # the checkpointed power-iteration loop, and IGNORE NULLS windows
    "q_e10_retention",
    "q_e10_resample",
    "q_e10_attribution",
    "q_graph_pagerank",
    "q_a2_auc",
    # round-4d: persisted-intermediate prefix filtering and the literal
    # probe-list composite must not depend on engine session confs
    "q_e2_setsim_join",
    "q_e3_ivfpq_topk",
    # round-4e: the portable-fake multimodal oracle, the parquet-writing
    # shard-export sink, and the literal-merge tokenizer all run on the
    # driver's conf-less session
    "q_mm_features",
    "q_k8_shard_export",
    "q_f12_bpe_tokenize",
    # round-5 front-load (VERDICT r4 item 9): remaining never-checked
    # queries meet the conf-less session here before the driver does
    "q_dq_skew",
    "q_e10_wow",
    "q_e9_linkage",
    "q_k7_incremental_agg",
    "q_f11_zipf",
    "q_e11_stream_anomaly",
    # new in round 5: literal-table normalizer, temp-dir dual/evolving
    # writes, control-plane benchmark collect — all session-sensitive
    "q_f13_normalize",
    "q_prep_upsample",
    "q_prep_semantic_decontaminate",
    "q_dq_dup_rate",
    "q_k9_quarantine",
    "q_s9_schema_evolution",
    "q_prep_budget",
    "q_e2_incremental_neardup",
    "q_k10_cdc_apply",
    "q_e1_dedup_by",
    "q_s10_corrupt_json",
    "q_e11_stream_neardup",
    # round-6: the Arrow/BLAS decontamination bench path must run on the
    # driver's conf-less session too (mapInPandas under default Arrow conf)
    "q_prep_semantic_decontaminate_arrow",
    # round-6: control-plane k-means collects + temp-dir partitioned
    # index write are session-sensitive
    "q_e3_ivfpq_trained",
    "q_e3_ivfpq_stored",
    "q_prep_temperature_mixture",
    "q_scrub_boilerplate",
    "q_k6_scd2_lookup",
]


def test_registry_slice_on_conf_less_session():
    proc = subprocess.run(
        [
            sys.executable,
            str(CHECK_ORACLE),
            "/root/testdata/sf0.001",
            *REPRESENTATIVE,
        ],
        capture_output=True,
        text=True,
        timeout=600,
    )
    tail = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
    assert proc.returncode == 0, f"check_oracle failed:\n{proc.stdout}\n{proc.stderr[-2000:]}"
    assert " 0 FAIL" in tail, proc.stdout
