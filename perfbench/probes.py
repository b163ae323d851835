"""Measurement from outside the engine.

- ``ProcTree``: memory summed over this process and every descendant
  (Python driver, JVM, Python workers), read from ``/proc``.
  ``MemorySampler`` keeps the peak on one background thread.
- ``stage_write_bytes``: what the engine's stages wrote (shuffle files,
  spills, output files) during given time windows, from the status store.
- ``Tracer``: after each op, reads what the engine's own instruments
  recorded while the op ran: the status store's stages, the SQL status
  store's executed (AQE-final) plans with their metrics, the Catalyst
  phase tracker of the returned DataFrame, and the progress of every
  streaming micro-batch (through a listener the benchmark registers).
  Each op becomes a tree of spans kept in memory and written out at the
  end of the run.
"""

from __future__ import annotations

import os
import re
import threading
from datetime import datetime

_PAGE = os.sysconf("SC_PAGE_SIZE")


class ProcTree:
    """Process-tree accounting rooted at ``root`` (default: this process)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _stats(self) -> dict[int, tuple[int, str]]:
        """pid -> (ppid, command) for every visible process."""
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as fh:
                    raw = fh.read()
            except OSError:
                continue  # exited between listdir and open
            # fields after the parenthesised command name: state ppid ...
            cut = raw.rfind(b")")
            rest = raw[cut + 2 :].split()
            out[int(name)] = (int(rest[1]), raw[raw.find(b"(") + 1 : cut].decode())
        return out

    def pids(self, stats=None) -> list[int]:
        stats = stats or self._stats()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, ()))
        return out

    def memory_by_pid(self) -> dict[int, tuple[str, int]]:
        """pid -> (command, resident bytes) over the tree.

        Python processes count their PSS, which splits each shared page
        among the processes sharing it: forked Python workers share their
        daemon's pages. The JVM shares no pages with them, so it counts
        its RSS from ``statm``, which costs nothing to read; its PSS would
        make the kernel walk every page of the pre-touched heap, which
        takes tens of milliseconds and holds the JVM's memory map lock
        while it runs. A child of the JVM that has not yet exec'd runs the
        JVM's binary on the JVM's pages and is skipped."""
        stats = self._stats()
        out, exes = {}, {}

        def is_java(pid: int) -> bool:
            if pid not in exes:
                try:
                    exes[pid] = os.path.basename(os.readlink(f"/proc/{pid}/exe")) == "java"
                except OSError:
                    exes[pid] = False
            return exes[pid]

        for pid in self.pids(stats):
            try:
                comm, ppid = stats[pid][1], stats[pid][0]
                if is_java(pid):
                    if is_java(ppid):
                        continue
                    with open(f"/proc/{pid}/statm") as fh:
                        out[pid] = (comm, int(fh.read().split()[1]) * _PAGE)
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            out[pid] = (comm, int(line.split()[1]) * 1024)
                            break
            except (OSError, KeyError, IndexError):
                pass  # exited, or not readable
        return out

    def resident_bytes(self) -> int:
        return sum(b for _, b in self.memory_by_pid().values())


class MemorySampler:
    """Samples the process tree's memory every ``interval`` s
    on one thread and keeps the peak, with its per-process breakdown."""

    def __init__(self, tree: ProcTree, interval: float = 0.1):
        self.tree, self.interval = tree, interval
        self.peak = 0
        self.peak_by_pid: dict[int, tuple[str, int]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="memory-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            by_pid = self.tree.memory_by_pid()
            total = sum(b for _, b in by_pid.values())
            if total > self.peak:
                self.peak, self.peak_by_pid = total, by_pid
            self._stop.wait(self.interval)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, self.tree.resident_bytes())


# -- SQL metric strings -----------------------------------------------------

_UNITS = {
    "B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A SQL status-store metric string as a number: bytes for sizes,
    seconds for timings, a plain count for sums. Aggregated metrics read
    ``total (min, med, max ...)\\n<total> (...)``; the total is taken."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


# -- streaming listener -----------------------------------------------------


def make_listener(sink: list):
    """A ``StreamingQueryListener`` appending each micro-batch's progress
    (as a dict) to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            sink.append(
                {
                    "batch": p.batchId,
                    "start": start,  # trigger start, epoch seconds
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Progress()


# -- per-op collection ------------------------------------------------------

# Stage and execution start times are recorded by the JVM at millisecond
# resolution; allow for that much skew against the op's window.
_SLACK = 0.05


def complete_stages(spark, after: int = -1):
    """``(stage, start_s, end_s)`` for each completed stage with an id above
    ``after``, from the status store (5-arg ``stageList``)."""
    sc = spark.sparkContext
    jvm, jl = spark._jvm, spark._jvm.java.util.ArrayList
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(jl(), False, False, sc._gateway.new_array(jvm.double, 0), jl())
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() <= after or str(s.status().toString()) != "COMPLETE":
            continue
        sub, done = s.submissionTime(), s.completionTime()
        if sub.isDefined() and done.isDefined():
            yield s, sub.get().getTime() / 1e3, done.get().getTime() / 1e3


def stage_write_bytes(spark, windows: list[tuple[float, float]]) -> int:
    """Bytes written by the stages submitted inside any of ``windows``
    (epoch seconds): shuffle files, spills to disk and output files."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return sum(
        s.shuffleWriteBytes() + s.diskBytesSpilled() + s.outputBytes()
        for s, start, _ in complete_stages(spark)
        if any(t0 - _SLACK <= start <= t1 for t0, t1 in windows)
    )


# Python-runner node metric names (Spark's display names).
_PY_TIME = "time to run Python workers"
_PY_BOOT = "time to start Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"


class Tracer:
    """Reads the engine's instruments after each op and keeps spans."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._jsc = sc._jsc.sc()
        self._gw = sc._gateway
        self._jvm = spark._jvm
        self._app = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_stage = -1
        self._last_exec = -1
        self.progress: list[dict] = []
        self._listener = make_listener(self.progress)
        spark.streams.addListener(self._listener)
        self.spans: list[dict] = []
        self._next_span = 0

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)

    def span(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self._next_span += 1
        self.spans.append(
            {"id": self._next_span, "parent": parent, "name": name,
             "start": round(start, 6), "end": round(end, 6), **attrs}
        )
        return self._next_span

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _stages(self, t0: float, t1: float, op_span: int) -> dict:
        out = {"run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "tasks": 0,
               "shuffle_bytes": 0, "spill_bytes": 0, "task_skew": 0.0}
        worst = None
        for s, start, end in complete_stages(self.spark, self._last_stage):
            if start > t1:
                continue  # a later window's
            self._last_stage = max(self._last_stage, s.stageId())
            if start < t0 - _SLACK:
                continue
            run = s.executorRunTime() / 1e3
            out["run_s"] += run
            out["cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["tasks"] += s.numTasks()
            out["shuffle_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            self.span(f"stage {s.stageId()}", start, end, op_span, tasks=s.numTasks(), run_s=run)
            if worst is None or run > worst[2]:
                worst = (s.stageId(), s.attemptId(), run)
        if worst is not None:
            q = self._gw.new_array(self._jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            summ = self._app.taskSummary(worst[0], worst[1], q)
            if summ.isDefined():
                rt = summ.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                out["task_skew"] = mx / med if med > 0 else 1.0
        return out

    def _executions(self, t0: float, t1: float, op_span: int) -> dict:
        out = {k: 0.0 for k in (
            "scan_rows", "scan_bytes", "files_read", "max_join_rows",
            "py_s", "py_rows", "py_sent", "py_recv", "py_boot_s")}
        execs = self._sql.executionsList()
        newest = self._last_exec
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                continue
            done = e.completionTime()
            start = e.submissionTime() / 1e3
            if not done.isDefined() or start > t1:
                continue
            newest = max(newest, eid)
            end = done.get().getTime() / 1e3
            if start < t0 - _SLACK:
                continue
            self.span(f"sql {eid}", start, end, op_span)
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                is_scan = name.startswith("Scan") or "FileScan" in name
                is_join = "Join" in name
                ms = node.metrics()
                m = {}
                for k in range(ms.size()):
                    metric = ms.apply(k)
                    v = values.get(metric.accumulatorId())
                    m[metric.name()] = parse_metric(v.get() if v.isDefined() else None)
                if _PY_TIME in m:
                    out["py_s"] += m[_PY_TIME]
                    out["py_boot_s"] += m.get(_PY_BOOT, 0.0)
                    out["py_sent"] += m.get(_PY_SENT, 0.0)
                    out["py_recv"] += m.get(_PY_RECV, 0.0)
                    out["py_rows"] += m.get(_ROWS, 0.0)
                elif is_scan:
                    out["scan_rows"] += m.get(_ROWS, 0.0)
                    out["scan_bytes"] += m.get("size of files read", 0.0)
                    out["files_read"] += m.get("number of files read", 0.0)
                elif is_join:
                    out["max_join_rows"] = max(out["max_join_rows"], m.get(_ROWS, 0.0))
        self._last_exec = newest
        return out

    def _streaming(self, op_span: int, t1: float, call_s: float) -> dict:
        n = len(self.progress)  # the listener thread only appends
        batches = [b for b in self.progress[:n] if b["start"] <= t1]
        self.progress[:n] = [b for b in self.progress[:n] if b["start"] > t1]

        def d(b: dict, phase: str) -> float:
            return b["durations"].get(phase, 0) / 1e3

        trig = sum(d(b, "triggerExecution") for b in batches)
        for b in batches:
            start = b["start"]
            self.span(f"batch {b['batch']}", start, start + d(b, "triggerExecution"), op_span)
        return {
            "drive_s": call_s if batches else 0.0,
            "batches": len(batches),
            "add_batch_s": sum(d(b, "addBatch") for b in batches),
            "query_planning_s": sum(d(b, "queryPlanning") for b in batches),
            "wal_commit_s": sum(d(b, "walCommit") for b in batches),
            "offsets_s": sum(d(b, "latestOffset") + d(b, "commitOffsets") for b in batches),
            "state_rows": sum(b["state_rows"] for b in batches),
            "state_commit_s": sum(b["state_commit_ms"] for b in batches) / 1e3,
            "outside_engine_s": max(0.0, call_s - trig) if batches else 0.0,
        }

    def catalyst(self, df, parent: int) -> dict:
        """Phase durations from the returned DataFrame's QueryExecution."""
        out = {}
        phases = df._jdf.queryExecution().tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                p = p.get()
                out[name + "_s"] = p.durationMs() / 1e3
                self.span(f"catalyst.{name}", p.startTimeMs() / 1e3, p.endTimeMs() / 1e3, parent)
            else:
                out[name + "_s"] = 0.0
        return out

    def collect(self, op_span: int, t0: float, t1: float, call_s: float) -> dict:
        """Everything the engine started during ``[t0, t1]``, one op's call.
        What started later is left for the window it belongs to, so the
        calls of one op can be read in order after the op."""
        self._drain()
        return {
            "executor": self._stages(t0, t1, op_span),
            "plan": self._executions(t0, t1, op_span),
            "streaming": self._streaming(op_span, t1, call_s),
        }
