"""bench.py's per-query block hygiene frees persisted blocks, and fails
loudly when the private py4j listing it relies on is unavailable."""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

import bench


def test_drop_blocks_frees_local_checkpoints(spark):
    df = spark.range(100).localCheckpoint()
    assert df.count() == 100
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    bench.drop_blocks(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0


def test_drop_blocks_without_jsc_raises():
    stub = SimpleNamespace(
        catalog=SimpleNamespace(clearCache=lambda: None, listTables=lambda: []),
        sparkContext=SimpleNamespace(),
    )
    with pytest.raises(RuntimeError, match="getPersistentRDDs"):
        bench.drop_blocks(stub)
