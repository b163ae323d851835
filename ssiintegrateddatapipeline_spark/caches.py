"""Session-scoped cache registry with an explicit eviction path.

The engine memoizes three kinds of session-local artifacts:

- analyzed relations (``sources/batch._LOAD_MEMO``) — metadata only;
- ``.persist()``-ed DataFrames (``operators/dedup._PAIRS_CACHE``,
  ``streaming/pipeline._GATE_CORPUS_CACHE``) — executor block-manager
  memory;
- plan-time literal tables (``functions/twophase`` offset/boundary memos)
  — tiny driver dicts.

All are keyed by ``(applicationId, ...)`` so a new session never sees stale
JVM references, and all assume the keyed ``sf_dir``'s contents are
IMMUTABLE for the life of the session (the memoized relation freezes the
file listing). They grow per (app, sf_dir) with no automatic eviction —
harmless in a bench run over one dataset, a slow leak in a long-lived
session sweeping many. Call :func:`clear_caches` between datasets (bench
runs a single sf_dir per process, so it never needs to — a multi-dataset
loop MUST call it when switching sf_dirs or the frozen file listings go
stale); tests/test_caches.py pins that eviction leaves no persisted RDDs
behind.
"""

from __future__ import annotations

# (cache_dict, holds_persisted_dataframes)
_REGISTRY: list[tuple[dict, bool]] = []


def track(df):
    """Enroll a call-scoped ``.persist()``-ed DataFrame for eviction.

    Several operators persist an intermediate for intra-query reuse (LSH
    signatures before a self-join, a scored table across offset+rank
    passes, k-means candidate frames). The persist must outlive the call —
    the returned plan may recompute from it lazily — so it cannot be
    unpersisted inline; without tracking, every invocation leaks one
    persisted DataFrame for the life of the session. ``track`` hands each
    one to :func:`clear_caches`.

    Entries key on (applicationId, call site, analyzed-plan
    semanticHash), so a re-invocation of the same operator (bench's
    median-of-3) REPLACES its previous entry instead of appending — one
    tracked reference per plan, not three. No unpersist on replacement:
    Spark's CacheManager dedupes persists of semantically identical
    plans to ONE shared entry, so unpersisting the old frame would evict
    the storage under the new one too (observed as a suite-order
    InMemoryTableScan pin failure). Distinct plans from the same site
    (e.g. the BFS/pointer-doubling loops, whose per-iteration frames
    must ALL stay alive within an invocation) get distinct keys and
    coexist; clear_caches remains the eviction path for those."""
    import sys

    try:
        caller = sys._getframe(1).f_code
        site = (caller.co_filename, caller.co_qualname)
    except Exception:
        site = ("?", "?")
    try:
        # semanticHash is 32-bit; pair it with the schema string so a
        # same-site hash collision between genuinely different plans
        # (which would silently drop a tracked frame from eviction)
        # requires colliding hash AND identical output schema
        key = (
            df.sparkSession.sparkContext.applicationId,
            site,
            df._jdf.queryExecution().analyzed().semanticHash(),
            df.schema.simpleString(),
        )
    except Exception:  # fall back to append-only if plan access fails
        key = ("seq", next(_EPHEMERAL_SEQ))
    _EPHEMERAL[key] = df
    return df


def register(cache: dict, persisted: bool = False) -> dict:
    """Enroll a module-level cache dict for :func:`clear_caches` eviction.
    ``persisted=True`` marks values as ``.persist()``-ed DataFrames that
    must be unpersisted on eviction (not just dropped)."""
    _REGISTRY.append((cache, persisted))
    return cache


from itertools import count as _count

_EPHEMERAL_SEQ = _count()
_EPHEMERAL: dict[tuple, object] = register({}, persisted=True)


def clear_caches(spark=None) -> int:
    """Evict every registered session cache; returns the number of entries
    dropped. Unpersists DataFrame values (blocking=False) before clearing,
    so executor storage is actually released, then clears the dicts. Safe
    to call at any point between queries; the next call to any memoized
    loader simply rebuilds its entry.

    Eviction is registry-driven and GLOBAL across sessions — every
    registered dict is emptied regardless of which SparkSession its
    entries belong to (the dicts key by applicationId precisely so a
    clear can never leak a stale entry into a live session). ``spark``
    is accepted only for call-site symmetry and ignored."""
    dropped = 0
    for cache, persisted in _REGISTRY:
        if persisted:
            for v in cache.values():
                # a value may be one persisted DataFrame or a list of them
                # (auxiliary persists feeding a cached result, e.g. the LSH
                # signature table under the pair graph)
                for df in v if isinstance(v, (list, tuple)) else (v,):
                    try:
                        df.unpersist()
                    except Exception:
                        pass  # session already stopped; nothing to release
        dropped += len(cache)
        cache.clear()
    return dropped


_PLAN_MEMO: dict[tuple, object] = register({})


def memo_plan(name: str, fn):
    """Prepared-query reuse: build (analyze) a query's DataFrame once per
    (application, sf_dir); repeat calls return a FRESH Dataset over the
    memoized, already-analyzed plan (``df.select("*")``). ONLY analysis
    is amortized — each returned Dataset carries its own QueryExecution,
    so every execution (toPandas / noop write) re-runs the full job from
    the parquet inputs, AQE and all; nothing about the result is cached.
    Returning the SAME Dataset object would silently reuse AQE's
    materialized shuffle stages across actions (measured: 5.6 s first
    execution, 0.14 s re-execution of one object vs 2.5 s through a
    fresh wrapper) — that is result caching, which this engine bans in
    query paths, hence the wrapper. This is the driver-side twin of the
    _memo_col literal-expression memo: for the plan-heavy queries
    (iterative greedy loops, plan-time literal codebooks, multi-way
    delta-fold lattices) eager per-transformation Catalyst analysis was
    0.3-1.7 s of every invocation, re-derived from the same
    deterministic inputs each time (a real client prepares such a query
    once per session). Applied in __spark_entry__.queries() to an
    audited whitelist of PURE-PLAN batch queries — functions whose only
    eager work is session-cached fixture loading; queries that execute
    work in the function body (streaming drives, write-path proofs,
    build-time counts) stay unwrapped so their measured work is never
    skipped."""
    from functools import wraps

    @wraps(fn)
    def wrapped(spark, sf_dir):
        key = (spark.sparkContext.applicationId, name, sf_dir)
        df = _PLAN_MEMO.get(key)
        if df is None:
            df = fn(spark, sf_dir)
            _PLAN_MEMO[key] = df
        # fresh Dataset + QueryExecution per call: no AQE stage reuse
        return df.select("*")

    return wrapped


def census(spark=None) -> dict:
    """Observable cache state for artifacts (r8-VERDICT task 2): how much
    session-lifetime memo/persist state has accumulated. Recorded by
    bench.py at the end of its run so a 200-query session's growth is in
    the bench artifact itself, not just reproducible via tests.

    - ``memo_entries``: total entries across every registered cache dict
      (driver-side metadata: analyzed plans, literal tables, built paths);
    - ``persisted_entries``: entries in persist-holding caches (each pins
      executor block-manager storage until clear_caches);
    - ``jvm_persistent_rdds``: the JVM CacheManager's live persistent-RDD
      count — the ground truth the persisted entries must bound;
    - ``python_daemon_module``: the Python worker daemon in effect
      (``spark.python.daemon.module``), so an artifact shows which ran;
    - ``driver_rss_mb``: this process's resident set (linux /proc).
    """
    out = {
        "memo_entries": sum(len(c) for c, _ in _REGISTRY),
        "persisted_entries": sum(len(c) for c, p in _REGISTRY if p),
    }
    if spark is not None:
        try:
            out["jvm_persistent_rdds"] = (
                spark.sparkContext._jsc.sc().getPersistentRDDs().size()
            )
            out["python_daemon_module"] = spark.sparkContext.getConf().get(
                "spark.python.daemon.module", "pyspark.daemon"
            )
        except Exception:
            pass
        try:
            beans = (
                spark._jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans()
            )
            out["jvm_gc_ms"] = sum(
                beans.get(i).getCollectionTime() for i in range(beans.size())
            )
            out["jvm_heap_used_mb"] = int(
                spark._jvm.java.lang.management.ManagementFactory
                .getMemoryMXBean().getHeapMemoryUsage().getUsed()
                // (1024 * 1024)
            )
            # JIT code-cache fill: a full code cache (flushing on) degrades
            # a codegen-heavy suite into recompile churn; bounding it in the
            # artifact makes that failure mode observable round-over-round
            pools = (
                spark._jvm.java.lang.management.ManagementFactory
                .getMemoryPoolMXBeans()
            )
            code_used = 0
            for i in range(pools.size()):
                p = pools.get(i)
                if "CodeHeap" in p.getName() or "Code Cache" in p.getName():
                    code_used += p.getUsage().getUsed()
            out["jvm_codeheap_used_mb"] = int(code_used // (1024 * 1024))
            out["jvm_jit_ms"] = int(
                spark._jvm.java.lang.management.ManagementFactory
                .getCompilationMXBean().getTotalCompilationTime()
            )
        except Exception:
            pass
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    out["driver_rss_mb"] = int(line.split()[1]) // 1024
                    break
    except OSError:
        pass
    return out
