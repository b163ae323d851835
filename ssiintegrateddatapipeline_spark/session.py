"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the local[$SPARK_GRAFT_CPUS] test harness but written so
the same settings are what you'd want on a real cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing)
- UTC session timezone (deterministic windows vs the DuckDB oracle)
- Arrow enabled (fast Pandas UDF / toPandas path)
- auto broadcast threshold left at default; dimension tables are broadcast
  explicitly where we know they're small (see operators/).
- the engine's own Python worker daemon (``daemon.py``): Spark's per-task
  import-cache invalidation no longer re-reads its own immutable archives
  (pyspark.zip, the spark-core jar), a fixed 0.15-0.25 s per Python task.
- driver heap capped at 75% of the machine's RAM (``SPARK_GRAFT_DRIVER_MEM``
  overrides it).
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
DAEMON_MODULE = "ssiintegrateddatapipeline_spark.daemon"

# ---------------------------------------------------------------------------
# Python workers import this package (the worker daemon above all, and every
# UDF that pickles a package function by reference), so its import root goes
# on the workers' PYTHONPATH explicitly instead of relying on the driver's
# cwd. transformWithStateInPandas also needs google.protobuf in driver AND
# workers: when the real package is absent, the vendored mini runtime
# (vendor/google/protobuf — just enough for StateMessage_pb2) goes on the
# driver's sys.path and the workers' PYTHONPATH (probe-gated, so a
# protobuf-equipped cluster never sees the shim). Both must happen BEFORE
# the JVM launches: local-mode Python workers inherit the driver process env.
# ---------------------------------------------------------------------------
_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))
_VENDOR_DIR = os.path.join(_PACKAGE_DIR, "vendor")


def _add_worker_path(path: str) -> None:
    existing = os.environ.get("PYTHONPATH", "")
    if path not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = path + (os.pathsep + existing if existing else "")


def _install_protobuf_shim() -> None:
    try:
        import google.protobuf  # noqa: F401

        return  # real (or already-installed shim) runtime wins
    except ImportError:
        pass
    if _VENDOR_DIR not in sys.path:
        sys.path.insert(0, _VENDOR_DIR)
    _add_worker_path(_VENDOR_DIR)


_add_worker_path(os.path.dirname(_PACKAGE_DIR))
_install_protobuf_shim()


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """16g, capped at 75% of the machine's RAM (``MemTotal``) so a small box
    never gets a heap larger than its memory."""
    mb = 16 * 1024
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    mb = min(mb, int(line.split()[1]) * 3 // 4 // 1024)
                    break
    except (OSError, ValueError):
        pass
    return f"{mb}m"


def get_spark(
    app_name: str = "ssiintegrateddatapipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we size
    ``local[n]`` from ``$SPARK_GRAFT_CPUS`` (default ``*``).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the driver's testdata parquet carries INT64 TIMESTAMP(NANOS) which
        # Spark has no native type for: read as long, converted in the loader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # read tz-less parquet TIMESTAMP(MICROS) as TimestampType (UTC
        # instant), not TIMESTAMP_NTZ — keeps window/unix_* functions and
        # the DuckDB-oracle comparison on one timestamp type everywhere
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.python.daemon.module", DAEMON_MODULE)
        # whole-stage codegen emits one class per stage shape; the JVM
        # default 240m code cache fills after a few dozen heavy stages and
        # the JIT silently disables itself (5-10x slowdowns on
        # expression-heavy stages). Size it for a long-lived session.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
