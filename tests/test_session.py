"""The session's shuffle width is its core count (session.py's width rule).

The build_session checks run in a subprocess: inside pytest's JVM,
builder.getOrCreate() would reuse the engine-configured session fixture.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from dataengineer_spark.session import host_cores, local_cores

ROOT = Path(__file__).resolve().parents[1]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

#: one fresh JVM per case: a stopped context leaves its master and confs
#: behind in the JVM, and the next getOrCreate would inherit them
_CASES = {
    "local_master": (
        "from dataengineer_spark.session import build_session\n"
        "s = build_session('w', master='local[2]')",
        "2",
    ),
    "extra_conf_wins": (
        "from dataengineer_spark.session import build_session\n"
        "s = build_session('w', master='local[2]',"
        " extra_conf={'spark.sql.shuffle.partitions': '5'})",
        "5",
    ),
    "default_master": (
        "from dataengineer_spark.session import build_session\n"
        "s = build_session('w')",
        str(host_cores()),
    ),
    # a conf-less session gets the same rule from the loaders' 200 rewrite
    "conf_less_session": (
        "from pyspark.sql import SparkSession\n"
        "from dataengineer_spark.testdata import load_table\n"
        "s = SparkSession.builder.master('local[3]')"
        ".config('spark.ui.enabled', 'false').getOrCreate()\n"
        "load_table(s, sys.argv[1], 'region')",
        "3",
    ),
}


def test_local_cores_parses_local_masters():
    assert local_cores("local") == 1
    assert local_cores("local[3]") == 3
    assert local_cores("local[2, 4]") == 2
    assert local_cores("local[*]") == host_cores()
    assert local_cores("local[*,2]") == host_cores()
    for master in ("yarn", "spark://h:7077", "k8s://h", "local-cluster[2,1,1024]"):
        assert local_cores(master) is None


@pytest.mark.parametrize("case", sorted(_CASES))
def test_build_session_width_is_core_count(sf_dir, case):
    code, want = _CASES[case]
    env = {
        **os.environ,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": os.pathsep.join(
            filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
        ),
    }
    env.pop("SPARK_GRAFT_CPUS", None)
    probe = (
        f"import sys\n{code}\n"
        "print(s.conf.get('spark.sql.shuffle.partitions'))\ns.stop()"
    )
    proc = subprocess.run(
        [sys.executable, "-c", probe, sf_dir],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == want


@pytest.mark.parametrize(
    "name", ["q_graph_pagerank", "q_f9_bpe_train", "q_e2_minhash_portable"]
)
def test_results_invariant_under_width(spark, sf_dir, name):
    """The operators that size or store partitions by the width (PageRank's
    pre-partition, the BPE histogram cache, MinHash banding) return the
    same rows at any width."""
    import __spark_entry__ as entry

    fn = entry.queries()[name]
    prior = spark.conf.get("spark.sql.shuffle.partitions")
    rows = {}
    try:
        for width in ("2", "8"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            rows[width] = sorted(fn(spark, sf_dir).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prior)
    assert rows["2"], name
    assert rows["2"] == rows["8"]


def test_pagerank_twins_back_to_back_log_no_error(sf_dir):
    """The three PageRank twins, run twice over in one session, free their
    stored frames, views and cuts between calls without an ERROR line in
    the JVM's log (read from a subprocess's stderr)."""
    code = (
        "import gc, sys\n"
        "from dataengineer_spark.session import build_session\n"
        "import __spark_entry__ as m\n"
        "s = build_session('twins', master='local[2]')\n"
        "names = ('q_graph_pagerank', 'q_graph_pagerank3',"
        " 'q_graph_pagerank_dangling')\n"
        "for q in names * 2:\n"
        "    df = m.queries()[q](s, sys.argv[1])\n"
        "    assert df.collect()\n"
        "    del df\n"
        "    gc.collect()\n"
        "s.stop()\n"
    )
    env = {
        **os.environ,
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "PYTHONPATH": os.pathsep.join(
            filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])
        ),
    }
    proc = subprocess.run(
        [sys.executable, "-c", code, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=ROOT,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert [ln for ln in proc.stderr.splitlines() if " ERROR " in ln] == []


# ---------------------------------------------------------------------------
# the engine daemon's zip-directory guard (pyworker.py)
# ---------------------------------------------------------------------------

#: run in a fresh interpreter: the guard patches the process's zipimport
_GUARD_PROBE = """
import importlib, sys, zipfile, zipimport
from dataengineer_spark import pyworker

def write(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(name + ".py", body)

zp = sys.argv[1]
assert pyworker.install()
write(zp, {"guard_a": "X = 1\\n"})
sys.path.insert(0, zp)
import guard_a
calls = []
counted = zipimport._read_directory
zipimport._read_directory = lambda a: (calls.append(a), counted(a))[1]
importlib.invalidate_caches()
print(len(calls))
write(zp, {"guard_a": "X = 1\\n", "guard_b": "Y = 2\\n"})
importlib.invalidate_caches()
import guard_b
print(calls.count(zp), guard_b.Y)
"""


def _run_python(code: str, *args: str, cwd=ROOT) -> list[str]:
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g", "PYTHONPATH": str(ROOT)}
    proc = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=cwd,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    return proc.stdout.strip().splitlines()


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="no guard on 3.13+")
def test_zip_guard_skips_unchanged_and_rereads_rewritten_archive(tmp_path):
    """After one import from a zip, invalidate_caches reads no directory;
    after the zip is rewritten with a new module, it reads it once again
    and the new module imports (the contract addPyFile relies on)."""
    unchanged, rewritten = _run_python(_GUARD_PROBE, str(tmp_path / "mods.zip"))
    assert unchanged == "0"
    assert rewritten == "1 2"


def test_zip_guard_not_installed_from_313():
    code = (
        "import sys, zipimport\n"
        "from dataengineer_spark import pyworker\n"
        "stock = (zipimport._read_directory, zipimport.zipimporter.invalidate_caches)\n"
        "if sys.version_info < (3, 13):\n"
        "    sys.version_info = (3, 13, 0, 'final', 0)\n"
        "print(pyworker.install(), stock == (zipimport._read_directory,"
        " zipimport.zipimporter.invalidate_caches))\n"
    )
    assert _run_python(code) == ["False True"]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="no guard on 3.13+")
def test_python_tasks_run_under_engine_daemon(spark):
    """A Python task runs under the engine daemon, and inside a warm task
    invalidate_caches reads 0 zip directories (pyspark.zip and the
    spark-core jar are on the worker's path)."""

    def probe(_):
        import importlib
        import zipimport

        archives = {
            f.archive
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
        }
        calls = []
        counted = zipimport._read_directory
        zipimport._read_directory = lambda a: (calls.append(a), counted(a))[1]
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = counted
        guard = zipimport.zipimporter.invalidate_caches
        yield (guard.__module__, len(archives), len(calls))

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "dataengineer_spark.pyworker"
    rdd = spark.sparkContext.parallelize(range(4), 4)
    rdd.mapPartitions(probe).collect()  # warm the workers
    for module, archives, reads in rdd.mapPartitions(probe).collect():
        assert module == "dataengineer_spark.pyworker"
        assert archives >= 2
        assert reads == 0


def test_daemon_imports_from_outside_repo(tmp_path):
    """A driver run from another directory, with the repo on PYTHONPATH
    (as perfbench sets it), still runs a pickled-RDD job."""
    code = (
        "import sys, zipimport\n"
        "from dataengineer_spark.session import build_session\n"
        "s = build_session('outside', master='local[2]')\n"
        "rdd = s.sparkContext.parallelize(range(4), 2)\n"
        "print(rdd.map(lambda x: x * x).sum())\n"
        "print(rdd.map(lambda _: zipimport.zipimporter.invalidate_caches"
        ".__module__).distinct().collect())\n"
        "s.stop()\n"
    )
    out = _run_python(code, cwd=tmp_path)
    assert out[-2] == "14"
    guarded = sys.version_info < (3, 13)
    assert out[-1] == str(["dataengineer_spark.pyworker" if guarded else "zipimport"])
