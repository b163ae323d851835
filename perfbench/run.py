"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. One process drives one workload in a
closed loop (the next op starts when the previous one returns) against
the engine on ``local[nproc]``. Inputs come from ``--seed``; every op
reads a fresh input directory written before it, outside the timed
window, and every op's output is checked after it, also untimed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A run artifact with the input
properties, every op and, when traced, every span goes to
``.perfbench/<workload>-seed<n>-trace<k>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from probes import MemorySampler, ProcTree, Tracer, stage_write_bytes
from workloads import WORKLOADS, Call, CredentialStore

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TAIL_Q = 0.9  # op_tail_s percentile (nearest rank)

E2E = {
    "setup_s": "s",
    "records_per_s": "1/s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
    "write_amp": "ratio",
}

_LAYER_UNITS = {
    "session.start_s": "s",
    "catalyst.build_s": "s", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.tasks": "count", "executor.shuffle_bytes": "B",
    "executor.spill_bytes": "B", "executor.task_skew": "ratio",
    "transfer.result_s": "s", "transfer.result_rows": "count",
    "sources.scan_rows": "count", "sources.scan_bytes": "B", "sources.files_read": "count",
    "identity.python_s": "s", "identity.rows": "count", "identity.bytes_sent": "B",
    "identity.bytes_received": "B", "identity.boot_s": "s",
    "wire.python_s": "s", "wire.rows": "count", "wire.bytes_sent": "B",
    "wire.bytes_received": "B",
    "streaming.drive_s": "s", "streaming.batches": "count",
    "streaming.add_batch_s": "s", "streaming.query_planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.offsets_s": "s",
    "streaming.state_rows": "count", "streaming.state_commit_s": "s",
    "streaming.outside_engine_s": "s",
    "versioned.append_s": "s", "versioned.merge_s": "s", "versioned.lookup_s": "s",
    "versioned.change_feed_s": "s", "versioned.snapshot_s": "s",
    "versioned.compact_s": "s", "versioned.files_live": "count",
    "versioned.files_per_lookup": "count", "versioned.bytes_written": "B",
    "versioned.log_versions": "count", "versioned.write_amp": "ratio",
    "versioned.space_amp": "ratio",
    "dedup.max_join_rows": "count", "dedup.pairs_out": "count",
    "dedup.useful_ratio": "ratio",
    "caches.memo_entries": "count", "caches.persisted_entries": "count",
    "jvm.heap_used_mb": "MB", "jvm.gc_ms": "ms", "jvm.jit_ms": "ms",
    "trace.op_p50_s": "s",
}


def layer_metrics() -> dict[str, str]:
    """Every per-layer metric name -> unit, medians per public call (or,
    for ops without calls, per op kind) included."""
    out = dict(_LAYER_UNITS)
    for w in WORKLOADS.values():
        for name in w.calls or w.cycle:
            out[f"op.{name}_s"] = "s"
    return out


def timed_cycles(cls, seconds: float) -> int:
    """Cycles to time: ``seconds`` over the workload's nominal cycle wall."""
    return max(1, round(seconds / cls.cycle_s))


def quantile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(-(-q * len(s) // 1)) - 1))]


def result_line(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    return json.dumps(
        {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
    )


def _environment(work: str) -> None:
    """Keep the engine's files inside the checkout and its size small."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1536m")
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),  # Python workers import the engine
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
    )
    import tempfile

    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


class Runner:
    """Runs ops and keeps one record per op."""

    def __init__(self):
        self.tree = ProcTree()
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.tracer = None
        self.index = 0

    def op(self, wl, kind: str, timed: bool) -> dict:
        inp = wl.make_input(kind, self.index)
        self.index += 1
        store = isinstance(wl, CredentialStore) and self.tracer is not None
        table_before = _dir_bytes(wl.path) if store else 0
        t0 = time.time()
        p0 = time.perf_counter()
        rec = {"kind": kind, "timed": timed, "records": inp.records, "input_bytes": inp.nbytes}
        try:
            res = wl.run(kind, inp)
        except Exception as exc:  # a failed op is counted, and the run goes on
            rec.update(wall_s=time.perf_counter() - p0, ok=False, error=repr(exc)[:500])
            self.failures.append(f"{kind}: {exc!r}"[:500])
            self.ops.append(rec)
            return rec
        wall = time.perf_counter() - p0
        t1 = time.time()
        named = {c.name: c.t1 - c.t0 for c in res.calls} or {kind: wall}
        rec.update(wall_s=wall, window=(t0, t1), parts=res.parts, named=named, rows=res.rows)
        c0 = time.perf_counter()
        try:
            ok, msg = wl.check(kind, inp, res)
        except Exception as exc:
            ok, msg = False, f"check raised {exc!r}"
        rec.update(ok=ok, check=msg, check_s=time.perf_counter() - c0)
        if not ok:
            self.failures.append(f"{kind}: {msg}"[:500])
        if self.tracer is not None:  # set-up ops too, so their events are drained
            rec["layers"] = self._layers(wl, kind, res, t0, t1)
        if store:
            rec["layers"].update(self._store_state(wl, res, table_before))
        self.ops.append(rec)
        shutil.rmtree(inp.dir, ignore_errors=True)
        return rec

    def _layers(self, wl, kind, res, t0, t1) -> dict:
        """The op's per-layer values: each public call's window is read on
        its own, so a call's Python-runner metrics go to that call's layer."""
        tr = self.tracer
        op_span = tr.span(f"op {kind}", t0, t1, None)
        out: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v

        for c in res.calls or [Call(kind, t0, t1, t1 - t0, 0.0, None, None)]:
            span = tr.span(f"call {c.name}", c.t0, c.t1, op_span)
            if c.transfer_s:
                tr.span("transfer", c.t1 - c.transfer_s, c.t1, span)
            got = tr.collect(span, c.t0, c.t1, c.call_s)
            for k, v in got["executor"].items():
                if k == "task_skew":
                    out["executor.task_skew"] = max(out.get("executor.task_skew", 0.0), v)
                else:
                    add(f"executor.{k}", v)
            for k, v in got["streaming"].items():
                add(f"streaming.{k}", v)
            plan = got["plan"]
            add("sources.scan_rows", plan["scan_rows"])
            add("sources.scan_bytes", plan["scan_bytes"])
            add("sources.files_read", plan["files_read"])
            layer = wl.udf_layer.get(c.name)
            if layer is not None:
                add(f"{layer}.python_s", plan["py_s"])
                add(f"{layer}.rows", plan["py_rows"])
                add(f"{layer}.bytes_sent", plan["py_sent"])
                add(f"{layer}.bytes_received", plan["py_recv"])
            if layer == "identity":
                add("identity.boot_s", plan["py_boot_s"])
            if c.df is not None:
                add("catalyst.build_s", c.call_s)
                for k, v in tr.catalyst(c.df, span).items():
                    add(f"catalyst.{k}", v)
                add("transfer.result_s", c.transfer_s)
                add("transfer.result_rows", len(c.pdf))
            if c.name.startswith("dedup_"):
                add("dedup.max_join_rows", plan["max_join_rows"])
                add("dedup.pairs_out", len(c.pdf))
        if out.get("dedup.max_join_rows"):
            out["dedup.useful_ratio"] = out["dedup.pairs_out"] / out["dedup.max_join_rows"]
        for part in ("append", "merge", "lookup", "change_feed", "snapshot", "compact"):
            if part in res.parts:
                out[f"versioned.{part}_s"] = res.parts[part]
        return out

    def _store_state(self, wl, res, table_before: int) -> dict:
        t = wl.table
        live = t.snapshot().inputFiles()
        live_bytes = sum(os.path.getsize(f.replace("file:", "", 1)) for f in live)
        total = _dir_bytes(t.path)
        return {
            "versioned.files_live": len(live),
            "versioned.files_per_lookup": res.value["files_per_lookup"],
            "versioned.log_versions": t.latest_version(),
            "versioned.bytes_written": total - table_before,
            "versioned.space_amp": total / live_bytes,
        }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or not os.path.isdir(
        os.path.join(ROOT, "ssiintegrateddatapipeline_spark")
    ):
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work)
    try:
        return _run(args, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, out_dir: str) -> int:
    import __spark_entry__ as entry
    from ssiintegrateddatapipeline_spark import caches
    from ssiintegrateddatapipeline_spark.session import get_spark

    runner = Runner()
    cls = WORKLOADS[args.workload]
    queries, oracles = entry.queries(), entry.oracle_sql()
    with MemorySampler(runner.tree) as mem:
        t = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{cls.name}",
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                # a fixed, pre-touched heap: the JVM's share of peak memory
                # does not depend on when the collector grew the heap
                "spark.driver.defaultJavaOptions": (
                    f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch"
                    + cls.java_opts
                ),
            },
        )
        session_s = time.perf_counter() - t
        try:
            spark.sparkContext.setLogLevel("ERROR")
            wl = cls(spark, args.seed, work, queries, oracles)
            if args.trace:
                runner.tracer = Tracer(spark)
            # set-up: the first (cold) op of each op kind
            setup_s = session_s
            if hasattr(wl, "create"):
                setup_s += wl.create()
            for kind in dict.fromkeys(wl.cycle):
                setup_s += runner.op(wl, kind, timed=False)["wall_s"]
            # warm-up: untimed, and not set-up either
            for _ in range(cls.warmup_ops):
                runner.op(wl, wl.cycle[0], timed=False)
            # timed: a whole number of cycles that lasts about --seconds
            # on the reference host; a count, not a deadline, so every run
            # times the same ops at the same point of the engine's warm-up
            for _ in range(timed_cycles(cls, args.seconds)):
                for kind in wl.cycle:
                    runner.op(wl, kind, timed=True)
            ok, msg = wl.finish()
            if not ok:
                runner.failures.append(f"final check: {msg}")
                runner.ops[-1]["ok"] = False
            census = caches.census(spark)
            written = stage_write_bytes(spark, [o["window"] for o in runner.ops if o["timed"] and "window" in o])
            if runner.tracer is not None:
                runner.tracer.close()
        finally:
            _stop_spark(spark)
    timed = [o for o in runner.ops if o["timed"]]
    failed = sum(1 for o in runner.ops if not o["ok"])
    attempted = len(runner.ops)
    walls = [o["wall_s"] for o in timed]
    if args.trace:
        units = layer_metrics()
        values = _layer_values(timed, units, session_s, census, walls)
    else:
        units = E2E
        in_bytes = sum(o["input_bytes"] for o in timed)
        values = {
            "setup_s": setup_s,
            "records_per_s": sum(o["records"] for o in timed if o["ok"]) / sum(walls),
            "op_p50_s": statistics.median(walls),
            "op_tail_s": quantile(walls, TAIL_Q),
            "ok_ratio": (attempted - failed) / attempted,
            "peak_rss_mb": mem.peak / 2**20,
            "write_amp": written / in_bytes,
        }
    artifact = {
        "workload": cls.name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "why": cls.__doc__, "input_properties": dict(cls.props, **_sizes(cls)),
        "cpus": os.environ["SPARK_GRAFT_CPUS"], "loadavg": os.getloadavg(),
        "session_s": session_s, "census": census, "failures": runner.failures,
        "peak_memory_by_pid": mem.peak_by_pid,
        "ops": runner.ops, "metrics": values,
        "spans": runner.tracer.spans if runner.tracer else [],
    }
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{cls.name}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(artifact, fh, default=str)
    for f in runner.failures[:20]:
        print("FAILED", f, file=sys.stderr)
    print(result_line(failed == 0, attempted, failed, values, units))
    return 0


def _sizes(cls) -> dict:
    return {k: getattr(cls, k) for k in (
        "events_per_op", "docs_per_op", "base_rows", "batch_rows", "rows_per_file",
        "COMPACT_EVERY") if hasattr(cls, k)}


def _layer_values(timed, units, session_s, census, walls) -> dict:
    """Per-layer metrics: the mean over timed ops of each op's value (0 where
    the op does not touch the layer); ``op.*`` are medians per public call
    or, for ops without calls, per op kind."""
    values = {k: 0.0 for k in units}
    for o in timed:
        for k, v in o.get("layers", {}).items():
            values[k] += v / len(timed)
    by_name: dict[str, list[float]] = {}
    for o in timed:
        for name, wall in o["named"].items():
            by_name.setdefault(name, []).append(wall)
    for name, w in by_name.items():
        values[f"op.{name}_s"] = statistics.median(w)
    values["session.start_s"] = session_s
    values["trace.op_p50_s"] = statistics.median(walls)
    if values["versioned.bytes_written"]:
        values["versioned.write_amp"] = values["versioned.bytes_written"] * len(timed) / sum(
            o["input_bytes"] for o in timed
        )
    values["caches.memo_entries"] = census.get("memo_entries", 0)
    values["caches.persisted_entries"] = census.get("persisted_entries", 0)
    values["jvm.heap_used_mb"] = census.get("jvm_heap_used_mb", 0)
    values["jvm.gc_ms"] = census.get("jvm_gc_ms", 0)
    values["jvm.jit_ms"] = census.get("jvm_jit_ms", 0)
    return values


if __name__ == "__main__":
    sys.exit(main())
