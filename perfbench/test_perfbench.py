"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pyarrow.compute as pc
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import probes  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9_.-]+$")


def _bytes(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _write_all(seed: int, root: str) -> list[str]:
    paths = []
    for name, table in (
        ("events.parquet", gen.events_table(seed, 3, 500)),
        ("documents.parquet", gen.corpus_table(seed, 3, 60)),
        ("base.parquet", gen.store_base(seed, 400)),
        ("inserts.parquet", gen.store_batch(seed, 2, 400, 100)[0]),
        ("updates.parquet", gen.store_batch(seed, 2, 400, 100)[1]),
    ):
        p = os.path.join(root, name)
        gen.write_table(p, table)
        paths.append(p)
    return paths


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    c = _write_all(8, str(tmp_path / "c"))
    for pa_, pb, pc_ in zip(a, b, c):
        assert _bytes(pa_) == _bytes(pb), pa_
        assert _bytes(pa_) != _bytes(pc_), pa_


def test_event_properties_hit_targets():
    p = gen.EVENT_PROPS
    t = gen.events_table(1, 0, 20_000).to_pandas()
    assert set(t.event_type) == set(gen.EVENT_TYPES)
    # late / out of order: events whose ts is behind an earlier event's
    ts = t.ts.astype("int64").to_numpy()
    behind = (ts < np.maximum.accumulate(ts)).mean()
    assert 0.5 * p["late_share"] < behind < 1.5 * p["late_share"]
    # Zipf users: the hottest user is far above the uniform share
    top = t.user_id.value_counts().iloc[0] / len(t)
    assert top > 20 / p["n_users"]
    # heavy-tailed payloads: p99 well above the median, capped
    size = t.props.str.len()
    assert size.quantile(0.99) > 5 * size.median()
    assert size.max() <= p["payload_pad_max"] + 40
    assert t.props.str.startswith('{"k": ').all()


def test_corpus_properties_hit_targets():
    p = gen.CORPUS_PROPS
    docs = gen.corpus_table(1, 0, 2_000)
    text = docs.column("text").to_pylist()
    hot = sum(p["hot_gram"] in d for d in text) / len(text)
    assert abs(hot - p["hot_gram_share"]) < 0.06
    words = [w for d in text for w in d.split()]
    vocab = set(gen.vocabulary(1, p["vocab_size"]))
    used = set(words) - set(p["hot_gram"].split())
    assert used <= vocab and len(used) > p["vocab_size"] // 4
    # near duplicates: docs sharing an 8-token span (outside the hot gram)
    # with an earlier doc; independent Zipf draws practically never do
    hot_words = set(p["hot_gram"].split())
    seen, dups = set(), 0
    for d in text:
        toks = d.split()
        grams = {
            tuple(toks[i : i + 8]) for i in range(len(toks) - 7)
            if not hot_words & set(toks[i : i + 8])
        }
        dups += bool(grams & seen)
        seen |= grams
    assert abs(dups / len(text) - p["near_dup_share"]) < 0.06
    assert docs.column("n_chars").to_pylist() == [len(d) for d in text]


def test_store_batches_insert_fresh_keys_and_update_existing_ones():
    base, batch = 1_000, 200
    n_ins = int(batch * gen.STORE_PROPS["insert_share"])
    for i in range(3):
        ins, upd = gen.store_batch(1, i, base, batch)
        existing = base + i * n_ins
        assert ins.column("cred_id").to_pylist() == list(range(existing, existing + n_ins))
        keys = upd.column("cred_id").to_numpy()
        assert len(np.unique(keys)) == len(keys) and keys.max() < existing
        # recency-hot: the newest key is updated, and most updates are recent
        assert existing - 1 in keys and np.median(keys) > existing / 2
        for t in (ins, upd):
            assert pc.all(pc.equal(t.column("version"), i + 1)).as_py()


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert declared_e2e == run.E2E
    assert declared_layer == run.layer_metrics()
    from workloads import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    for units in (run.E2E, run.layer_metrics()):
        line = json.loads(run.result_line(True, 3, 0, {k: 1.5 for k in units}, units))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(units)
        assert all(NAME.match(k) and len(k) <= 64 for k in line["metrics"])


@pytest.mark.parametrize(
    "text,value",
    [
        ("1,000", 1000.0),
        ("286 ms", 0.286),
        ("total (min, med, max (stageId: taskId))\n8.2 s (2.0 s, 2.1 s, 2.1 s (stage 2.0: task 2))", 8.2),
        ("total (min, med, max (stageId: taskId))\n32.8 KiB (7.5 KiB, 8.4 KiB, 9.1 KiB (stage 2.0: task 5))", 32.8 * 1024),
        (None, 0.0),
    ],
)
def test_parse_metric(text, value):
    assert probes.parse_metric(text) == pytest.approx(value)


def test_quantile_is_nearest_rank():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert run.quantile(v, 0.5) == 3.0
    assert run.quantile(v, 0.9) == 5.0
    assert run.quantile(list(range(1, 21)), 0.9) == 18


def test_every_run_times_at_least_three_ops():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    from workloads import WORKLOADS

    for w in WORKLOADS.values():
        assert run.timed_cycles(w, seconds) * len(w.cycle) >= 3, w.name


def test_memory_counts_this_process():
    by_pid = probes.ProcTree().memory_by_pid()
    assert by_pid[os.getpid()][1] > 0
