"""(Re-)pin the plan-shape regression table (VERDICT r9 item 4).

Writes tests/plan_pins.json: for each pinned headline query, the plan
summary (exchange count, join strategies, python execution mode, raw-BNL
count) produced by tools/plan_report.summarize over the formatted explain
at sf0.001 — captured under the SAME session shape the pytest suite uses
(local[4], shuffle.partitions=4), so the pinned numbers are the numbers
tests/test_plans.py::TestPinnedPlanShapes re-derives.

A plan regression (an extra exchange, a new nested-loop join, a
row-Python stage) then fails in minutes in pytest instead of surfacing as
a bench mystery a round later (the round-9 benford 6-exchange fix was
found by manually reading PLANS.md — this makes that reading automatic).

The pinned set is the key set of tests/plan_pins.json itself:
non-effectful headline queries (plan builds are pure) spanning the
engine's main plan families — aggregation, windows, joins, LSH/ANN, text,
ranking, TPC-H, pipelines, dedup probes.  Re-pinning keeps that set and
adds any query named on the command line.

Intentional plan changes: re-run `python tools/pin_plans.py`, eyeball the
diff of tests/plan_pins.json (every changed number should be explainable
by the code change), commit both together.

Usage: python tools/pin_plans.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools.plan_report import plan_of, summarize  # noqa: E402

PINS_PATH = os.path.join(ROOT, "tests", "plan_pins.json")


def build_test_session():
    """The exact session shape tests/conftest.py uses — pins must be
    derived under the same confs or the numbers aren't comparable."""
    from dataengineer_spark.session import build_session

    return build_session(
        "pin_plans",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )


def main() -> int:
    import __spark_entry__ as entrymod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    with open(PINS_PATH) as fh:
        names = sorted(set(json.load(fh)) | set(sys.argv[2:]))
    qs = entrymod.queries()
    effectful = entrymod.EFFECTFUL_QUERIES
    for name in names:
        if name not in qs:
            raise SystemExit(f"pin_plans: {name} is not a registered query")
        if name in effectful:
            raise SystemExit(
                f"pin_plans: {name} is effectful — pin only pure plan builds"
            )
    spark = build_test_session()
    pins: dict[str, dict] = {}
    for name in names:
        s = summarize(plan_of(qs[name](spark, sf_dir)))
        pins[name] = {
            "exchanges": s["exchanges"],
            "joins": s["joins"],
            "python": s["python"],
            "raw_bnl": s["raw_bnl"],
        }
        print(f"{name}: {pins[name]}")
    with open(PINS_PATH, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {PINS_PATH} ({len(pins)} queries)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
