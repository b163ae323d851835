"""The engine's Python worker daemon and session sizing.

- a reused worker keeps Spark's own archives' zip directories across tasks
  (no per-task re-read), while other zip importers are still invalidated;
- files shipped with ``addPyFile`` after the workers started still import;
- a driver whose cwd is outside the checkout still runs a ``pandas_udf``;
- the default driver heap fits the machine.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ssiintegrateddatapipeline_spark import caches
from ssiintegrateddatapipeline_spark.daemon import exempt_archives
from ssiintegrateddatapipeline_spark.session import DAEMON_MODULE, default_driver_memory

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path: str, module: str, body: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", body)
    return path


def test_exempt_archives_keeps_only_startup_archives(tmp_path, monkeypatch):
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    fixed = _zip(str(tmp_path / "fixed.zip"), "fixed_mod", "X = 1\n")
    later = _zip(str(tmp_path / "later.zip"), "later_mod", "X = 2\n")
    link = tmp_path / "link.zip"
    link.symlink_to(fixed)
    assert exempt_archives([str(link), str(tmp_path)]) == {os.path.realpath(fixed)}
    kept, fresh = zipimport.zipimporter(fixed), zipimport.zipimporter(later)
    kept_files, fresh_files = kept._files, fresh._files
    kept.invalidate_caches()
    fresh.invalidate_caches()
    assert kept._files is kept_files
    assert fresh._files is not fresh_files


def _worker_probe(_rows):
    """Per task: the pid, and whether pyspark.zip's directory is still the
    object this worker saw at its first task (held, so ids are not reused)."""
    import os
    import zipimport

    keys = [k for k in zipimport._zip_directory_cache if k.endswith("pyspark.zip")]
    if not keys:
        yield (os.getpid(), None)
        return
    seen = zipimport.__dict__.setdefault("_engine_daemon_test_seen", [])
    seen.append(zipimport._zip_directory_cache[keys[0]])
    yield (os.getpid(), seen[-1] is seen[0])


def test_reused_worker_does_not_reread_spark_archives(spark):
    out = spark.sparkContext.parallelize(range(32), 32).mapPartitions(_worker_probe).collect()
    if all(same is None for _, same in out):
        pytest.skip("pyspark is not imported from pyspark.zip on this install")
    pids = [pid for pid, _ in out]
    assert max(pids.count(p) for p in set(pids)) >= 2, "no worker was reused"
    assert all(same for _, same in out)


def test_add_py_file_after_workers_started(spark, tmp_path):
    sc = spark.sparkContext
    sc.parallelize(range(4), 4).map(lambda x: x).collect()  # workers are up
    tag = uuid.uuid4().hex[:8]
    py_mod, zip_mod = f"daemon_probe_py_{tag}", f"daemon_probe_zip_{tag}"
    (tmp_path / f"{py_mod}.py").write_text("VALUE = 42\n")
    sc.addPyFile(str(tmp_path / f"{py_mod}.py"))
    sc.addPyFile(_zip(str(tmp_path / f"{zip_mod}.zip"), zip_mod, "VALUE = 7\n"))

    @F.pandas_udf("long")
    def shipped(s: pd.Series) -> pd.Series:
        import importlib

        total = importlib.import_module(py_mod).VALUE + importlib.import_module(zip_mod).VALUE
        return s * 0 + total

    rows = spark.range(4).repartition(2).select(shipped("id").alias("v")).collect()
    assert [r.v for r in rows] == [49] * 4


def test_census_reports_the_daemon(spark):
    assert caches.census(spark)["python_daemon_module"] == DAEMON_MODULE


def test_pandas_udf_runs_from_a_foreign_driver_cwd(tmp_path):
    """The workers import the package (the daemon first of all) through the
    PYTHONPATH session.py sets, not through the driver's cwd."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from ssiintegrateddatapipeline_spark.session import get_spark

        spark = get_spark(app_name="daemon-cwd", master="local[1]", shuffle_partitions=1)

        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        print("SUM", spark.range(4).select(plus_one("id").alias("v")).agg(F.sum("v")).first()[0])
        print("MEM", spark.sparkContext.getConf().get("spark.driver.memory"))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_GRAFT_DRIVER_MEM="512m", SPARK_LOCAL_DIRS=str(tmp_path / "local")
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "SUM 10" in proc.stdout
    assert "MEM 512m" in proc.stdout


@pytest.mark.parametrize(
    "mem_total_kb, expected",
    [(15 * 2**20, "11520m"), (64 * 2**20, "16384m"), (2 * 2**20, "1536m")],
)
def test_default_driver_memory_fits_the_machine(tmp_path, mem_total_kb, expected):
    meminfo = tmp_path / "meminfo"
    meminfo.write_text(f"MemTotal:       {mem_total_kb} kB\nMemFree:  1 kB\n")
    assert default_driver_memory(str(meminfo)) == expected


def test_default_driver_memory_without_meminfo(tmp_path):
    assert default_driver_memory(str(tmp_path / "missing")) == "16384m"
