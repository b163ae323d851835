"""The workloads: which engine calls an op makes, on what input, and
how its output is checked.

A workload has a ``cycle`` of op kinds. The run repeats whole cycles, so
every run sees the same mix of op kinds. For each op the runner calls
``make_input`` (untimed), ``run`` (timed; returns the walls of its parts
and, for query ops, of each public call) and ``check`` (untimed).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
import pyarrow as pa

import gen


@dataclass
class Input:
    dir: str
    records: int
    nbytes: int
    extra: dict = field(default_factory=dict)


@dataclass
class Call:
    """One public call of an op and the pull of its result."""

    name: str
    t0: float  # epoch seconds
    t1: float
    call_s: float  # the call itself: plan build, and the drive of a stream
    transfer_s: float  # toPandas of the returned DataFrame
    df: object
    pdf: object


@dataclass
class Result:
    parts: dict  # part name -> seconds, in call order
    calls: list = field(default_factory=list)  # query ops: one Call per query
    rows: int = 0
    value: object = None


def _timed(parts: dict, name: str, fn, *args, **kw):
    t = time.perf_counter()
    out = fn(*args, **kw)
    parts[name] = parts.get(name, 0.0) + time.perf_counter() - t
    return out


class QueryWorkload:
    """An op runs every contract query ``(spark, sf_dir) -> DataFrame`` of
    ``calls`` over one fresh input directory; each result is pulled with
    ``toPandas`` and compared with the query's DuckDB oracle on the same
    directory."""

    tables: tuple[str, ...] = ()
    calls: tuple[str, ...] = ()
    cycle: tuple[str, ...] = ()
    cycle_s = 1.0  # nominal wall of one cycle on a 4-vCPU host, warm
    warmup_ops = 0  # untimed ops after the cold ones
    java_opts = ""  # added to the driver JVM's options
    # query -> layer its Python-runner nodes belong to
    udf_layer: dict[str, str] = {}
    props: dict = {}

    def __init__(self, spark, seed: int, work: str, queries: dict, oracles: dict):
        self.spark, self.seed, self.work = spark, seed, work
        self.queries, self.oracles = queries, oracles

    def write_input(self, index: int, path: str) -> tuple[int, int]:
        raise NotImplementedError

    def make_input(self, kind: str, index: int) -> Input:
        path = os.path.join(self.work, "inputs", f"op{index:05d}")
        records, nbytes = self.write_input(index, path)
        return Input(path, records, nbytes)

    def run(self, kind: str, inp: Input) -> Result:
        parts, calls = {}, []
        for q in self.calls:
            t0, p0 = time.time(), time.perf_counter()
            df = self.queries[q](self.spark, inp.dir)
            p1 = time.perf_counter()
            pdf = df.toPandas()
            p2 = time.perf_counter()
            calls.append(Call(q, t0, t0 + p2 - p0, p1 - p0, p2 - p1, df, pdf))
            parts[q] = p2 - p0
        return Result(parts, calls=calls, rows=sum(len(c.pdf) for c in calls))

    def check(self, kind: str, inp: Input, res: Result) -> tuple[bool, str]:
        for c in res.calls:
            ok, msg = oracle_check(c.df, c.pdf, inp.dir, self.tables, self.oracles[c.name])
            if not ok:
                return False, f"{c.name}: {msg}"
        return True, "ok"

    def finish(self) -> tuple[bool, str]:
        return True, "ok"


def oracle_check(df, pdf, sf_dir: str, tables, oracle: str) -> tuple[bool, str]:
    """``tests.oracle.compare`` applied to an already-pulled result: same
    column, type-class and canonical-value comparison, without running
    the query a second time."""
    from tests.oracle import _arrow_type_class, _spark_type_class, canonical_rows

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        tbl = con.execute(oracle).arrow()
    finally:
        con.close()
    scols = list(pdf.columns)
    stypes = {f.name: _spark_type_class(f.dataType) for f in df.schema.fields}
    ocols = tbl.schema.names
    otypes = {f.name: _arrow_type_class(f.type) for f in tbl.schema}
    if sorted(scols) != sorted(ocols):
        return False, f"column mismatch: spark={sorted(scols)} oracle={sorted(ocols)}"
    bad = {c: (stypes[c], otypes[c]) for c in scols if stypes[c] != otypes[c]}
    if bad:
        return False, f"dtype mismatch (spark, oracle): {bad}"
    srows = [tuple(d[c] for c in scols) for d in pa.Table.from_pandas(pdf, preserve_index=False).to_pylist()]
    orows = [tuple(d[c] for c in ocols) for d in tbl.to_pylist()]
    if len(srows) != len(orows):
        return False, f"row count mismatch: spark={len(srows)} oracle={len(orows)}"
    sc, oc = canonical_rows(scols, srows), canonical_rows(ocols, orows)
    if sc != oc:
        return False, f"value mismatch, first diffs: {[(a, b) for a, b in zip(sc, oc) if a != b][:3]}"
    return True, "ok"


class EventsWorkload(QueryWorkload):
    tables = ("events",)
    props = gen.EVENT_PROPS
    events_per_op = 4_000

    def write_input(self, index: int, path: str) -> tuple[int, int]:
        t = gen.events_table(self.seed, index, self.events_per_op)
        return t.num_rows, gen.write_table(os.path.join(path, "events.parquet"), t)


class SsiIngest(EventsWorkload):
    """The paper's producer -> verifier hop: each op drives one fresh
    arrival of trade events through a streaming sign/verify tally, the
    streaming provider matrix (EdDSA and ES256K) and the Avro wire round
    trip. The identity and wire Arrow kernels do most of the work."""

    name = "ssi_ingest"
    calls = ("streaming_sign_verify", "streaming_provider_matrix", "wire_avro_roundtrip")
    cycle = ("arrival",)
    cycle_s = 4.3
    # the first warm arrival is still some 30% slower than the ones after it
    warmup_ops = 1
    udf_layer = {
        "streaming_sign_verify": "identity",
        "streaming_provider_matrix": "identity",
        "wire_avro_roundtrip": "wire",
    }


class CorpusCuration(QueryWorkload):
    """Each op runs one fresh generated corpus through MinHash-LSH near-dup
    pairs, substring scrub and quality scoring. LSH bucket sizes depend on
    token rarity (Zipfian vocabulary), near duplicates feed the pair join,
    and the hot boilerplate gram exercises key skew."""

    name = "corpus_curation"
    tables = ("documents",)
    props = gen.CORPUS_PROPS
    docs_per_op = 400
    calls = ("dedup_minhash_lsh_pairs", "text_substring_scrub", "text_quality_score")
    cycle = ("corpus",)
    cycle_s = 3.5
    # C1 only. Under C2 an op took 2.4 s once the JIT had compiled its
    # hot code and 4.2 s before, and that happened anywhere from the first
    # to the sixth warm op, so runs were bimodal; C1 compiles early
    java_opts = " -XX:TieredStopAtLevel=1"

    def write_input(self, index: int, path: str) -> tuple[int, int]:
        t = gen.corpus_table(self.seed, index, self.docs_per_op)
        return t.num_rows, gen.write_table(os.path.join(path, "documents.parquet"), t)


class CredentialStore:
    """Writes beside reads on one ``VersionedTable`` of credentials (the
    store behind ``dataStoreSaveVerifiableCredential``): each op appends
    the batch's new credentials, merges its status updates, then runs a
    bloom point lookup, the op's change feed and a snapshot aggregate;
    every ``COMPACT_EVERY``-th op also compacts the files the appends
    left. Outputs are checked against a keyed replay of the base rows
    plus every batch written so far."""

    name = "credential_store"
    props = gen.STORE_PROPS
    base_rows = 20_000
    batch_rows = 1_000
    rows_per_file = 2_500
    COMPACT_EVERY = 3
    cycle = ("credential_upsert",) * (COMPACT_EVERY - 1) + ("credential_upsert_compact",)
    cycle_s = 9.0  # nominal wall of one cycle on a 4-vCPU host, warm
    calls: tuple[str, ...] = ()
    warmup_ops = 0
    java_opts = ""
    udf_layer: dict[str, str] = {}

    def __init__(self, spark, seed: int, work: str, queries: dict, oracles: dict):
        self.spark, self.seed, self.work = spark, seed, work
        self.path = os.path.join(work, "store", "credentials")
        base = gen.store_base(seed, self.base_rows)
        self.base_path = os.path.join(work, "store", "base.parquet")
        gen.write_table(self.base_path, base)
        self.replay = base.to_pandas().set_index("cred_id")
        self.table = None
        self.version = 0
        self.batches = 0

    def make_input(self, kind: str, index: int) -> Input:
        ins, upd = gen.store_batch(self.seed, self.batches, self.base_rows, self.batch_rows)
        self.batches += 1
        path = os.path.join(self.work, "inputs", f"op{index:05d}")
        nbytes = gen.write_table(os.path.join(path, "inserts.parquet"), ins)
        nbytes += gen.write_table(os.path.join(path, "updates.parquet"), upd)
        did = upd.column("did")[0].as_py()
        return Input(path, ins.num_rows + upd.num_rows, nbytes, {"inserts": ins, "updates": upd, "did": did})

    def create(self) -> float:
        """Create the table from the base rows; returns its wall."""
        from ssiintegrateddatapipeline_spark.sources.versioned import VersionedTable

        t = time.perf_counter()
        self.table = VersionedTable.create(
            self.spark, self.path, self.spark.read.parquet(self.base_path),
            key="cred_id", target_rows_per_file=self.rows_per_file, bloom_by="did",
        )
        self.version = self.table.latest_version()
        return time.perf_counter() - t

    def run(self, kind: str, inp: Input) -> Result:
        from pyspark.sql import functions as F

        t, parts, read = self.table, {}, self.spark.read.parquet
        v0 = self.version
        _timed(parts, "append", t.append, read(f"{inp.dir}/inserts.parquet"), key="cred_id")
        v = _timed(parts, "merge", t.merge_into, read(f"{inp.dir}/updates.parquet"), key="cred_id")
        df, files_opened, _ = _timed(parts, "lookup", t.point_scan, "did", inp.extra["did"])
        hits = _timed(parts, "lookup", df.toPandas)
        feed = _timed(parts, "change_feed", lambda: t.change_feed("cred_id", v0, v).toPandas())
        agg = _timed(
            parts, "snapshot",
            lambda: t.snapshot().agg(
                F.count("*").alias("n"), F.sum("balance").alias("balance"),
                F.sum("version").alias("version"),
            ).toPandas(),
        )
        if kind.endswith("_compact"):
            v = _timed(parts, "compact", t.compact, "cred_id", target_rows_per_file=self.rows_per_file)
        self.version = v
        return Result(parts, rows=len(feed), value={
            "hits": hits, "feed": feed, "agg": agg, "files_per_lookup": files_opened})

    def check(self, kind: str, inp: Input, res: Result) -> tuple[bool, str]:
        ins = inp.extra["inserts"].to_pandas().set_index("cred_id")
        upd = inp.extra["updates"].to_pandas().set_index("cred_id")
        r = self.replay = pd.concat([self.replay.drop(upd.index), ins, upd])
        agg = res.value["agg"].iloc[0]
        want = (len(r), int(r["balance"].sum()), int(r["version"].sum()))
        got = (int(agg["n"]), int(agg["balance"]), int(agg["version"]))
        if got != want:
            return False, f"snapshot aggregate {got} != replay {want}"
        kinds = res.value["feed"]["_change_type"].value_counts().to_dict()
        want_kinds = {"insert": len(ins), "update_postimage": len(upd)}
        if kinds != want_kinds:
            return False, f"change feed {kinds} != keys changed {want_kinds}"
        did = inp.extra["did"]
        hits = sorted(res.value["hits"]["cred_id"])
        want_hits = sorted(r.index[r["did"] == did])
        if hits != want_hits:
            return False, f"point lookup {did}: {len(hits)} rows != replay {len(want_hits)}"
        return True, "ok"

    def finish(self) -> tuple[bool, str]:
        """Full snapshot against the replay, row by row (untimed)."""
        snap = self.table.snapshot().toPandas().set_index("cred_id").sort_index()
        want = self.replay.astype(snap.dtypes.to_dict()).sort_index()[list(snap.columns)]
        if not snap.equals(want):
            return False, "final snapshot differs from the keyed replay"
        return True, "ok"


WORKLOADS = {w.name: w for w in (SsiIngest, CredentialStore, CorpusCuration)}
