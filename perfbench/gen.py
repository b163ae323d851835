"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same arguments
give byte-identical parquet files, so a run can write each op's input just
before the op (outside the timed window) and still be exactly
reproducible. Files follow the engine's testdata schema (``events``,
``documents``); the credential store gets its own tables.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
LANGS = ("en", "es", "de", "fr", "zh")
LANG_WEIGHTS = (0.45, 0.15, 0.14, 0.13, 0.13)
BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

# Input properties each generator sets. They are copied into the run
# artifact, and the self-tests check that generated inputs hit them.
EVENT_PROPS = {
    "n_users": 2_000,
    "user_zipf_s": 1.1,
    "late_share": 0.03,  # events whose ts lies behind an earlier event's
    "late_max_s": 300,
    "payload_pad_pareto_a": 1.5,  # heavy-tailed props padding, in bytes
    "payload_pad_max": 4_000,
    "span_s": 3_600,  # event-time span of one arrival
}
CORPUS_PROPS = {
    "vocab_size": 5_000,
    "vocab_zipf_s": 1.05,
    "near_dup_share": 0.15,
    "hot_gram_share": 0.30,
    "hot_gram": "please subscribe to our newsletter for weekly market updates today",
    "doc_tokens": (30, 120),
}
STORE_PROPS = {
    "key_zipf_s": 1.1,  # over recency: the newest credentials are the hottest
    "insert_share": 0.2,
    "n_holders": 50_000,
}


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def zipf_ranks(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """``size`` draws from a Zipf(s) law bounded to ranks ``0..n-1``."""
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return rng.choice(n, size=size, p=w / w.sum())


def write_table(path: str, table: pa.Table) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


# -- events (ssi_ingest, dashboard) ---------------------------------------


def events_table(seed: int, index: int, n: int) -> pa.Table:
    p = EVENT_PROPS
    rng = rng_for(seed, 1, index)
    # users are ranked by activity; a fixed permutation scatters the hot
    # ranks over the id space so the engine's user -> symbol routing
    # (user_id % 5) sees skewed but not trivially aligned keys
    perm = rng_for(seed, 0).permutation(p["n_users"])
    users = perm[zipf_ranks(rng, p["n_users"], p["user_zipf_s"], n)]
    ts = np.sort(rng.uniform(0, p["span_s"] * 1e6, n)).astype(np.int64)
    late = rng.random(n) < p["late_share"]
    ts[late] -= (rng.uniform(1, p["late_max_s"], late.sum()) * 1e6).astype(np.int64)
    ts = np.maximum(ts, 0) + BASE_TS_US + index * p["span_s"] * 1_000_000
    pad = np.minimum(
        (rng.pareto(p["payload_pad_pareto_a"], n) * 16).astype(np.int64),
        p["payload_pad_max"],
    )
    ks = rng.integers(0, 100, n)
    props = [
        json.dumps({"k": int(k), "pad": "x" * int(m)}) if m else json.dumps({"k": int(k)})
        for k, m in zip(ks, pad)
    ]
    value = np.round(rng.lognormal(2.0, 0.8, n), 2)
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64) + index * n),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(users.astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(value),
            "props": pa.array(props),
        }
    )


# -- corpus (corpus_curation) ---------------------------------------------


def vocabulary(seed: int, size: int) -> list[str]:
    """``size`` distinct pronounceable words (2-4 syllables)."""
    rng = rng_for(seed, 2)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words: dict[str, None] = {}
    while len(words) < size:
        n = int(rng.integers(1, 4))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(n))
        words.setdefault(w + cons[rng.integers(len(cons))], None)
    return list(words)


def corpus_table(seed: int, index: int, n_docs: int) -> pa.Table:
    p = CORPUS_PROPS
    vocab = np.array(vocabulary(seed, p["vocab_size"]))
    rng = rng_for(seed, 3, index)
    lo, hi = p["doc_tokens"]
    hot = p["hot_gram"].split()
    texts: list[str] = []
    for i in range(n_docs):
        if i and rng.random() < p["near_dup_share"]:
            # near duplicate: an earlier doc with ~5% of its tokens replaced
            toks = texts[int(rng.integers(i))].split()
            for j in np.flatnonzero(rng.random(len(toks)) < 0.05):
                toks[j] = vocab[zipf_ranks(rng, len(vocab), p["vocab_zipf_s"], 1)[0]]
        else:
            toks = list(vocab[zipf_ranks(rng, len(vocab), p["vocab_zipf_s"], int(rng.integers(lo, hi)))])
            if rng.random() < p["hot_gram_share"]:
                at = int(rng.integers(len(toks) + 1))
                toks[at:at] = hot
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_WEIGHTS)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


# -- credential store (credential_store) ----------------------------------


def _credentials(rng: np.random.Generator, keys: np.ndarray, version: int) -> pa.Table:
    n = len(keys)
    holders = rng.integers(0, STORE_PROPS["n_holders"], n)
    return pa.table(
        {
            "cred_id": pa.array(keys.astype(np.int64)),
            "did": pa.array([f"did:example:{h:06d}" for h in holders]),
            "status": pa.array(rng.choice(("active", "suspended", "revoked"), n, p=(0.9, 0.07, 0.03))),
            "balance": pa.array(rng.integers(0, 1_000_000, n).astype(np.int64)),
            "version": pa.array(np.full(n, version, dtype=np.int64)),
        }
    )


def store_base(seed: int, n: int) -> pa.Table:
    return _credentials(rng_for(seed, 5), np.arange(n), 0)


def store_batch(seed: int, index: int, base_n: int, batch: int) -> tuple[pa.Table, pa.Table]:
    """Write batch ``index`` (0-based) as ``(inserts, updates)``: inserts of
    fresh keys, and updates of existing keys, Zipf-hot by recency and
    unique per key. Every updated row carries ``version = index + 1``, so
    each key in the batch really changes."""
    p = STORE_PROPS
    rng = rng_for(seed, 6, index)
    n_ins = int(batch * p["insert_share"])
    existing = base_n + index * n_ins
    upd = existing - 1 - zipf_ranks(rng, existing, p["key_zipf_s"], batch - n_ins)
    return (
        _credentials(rng, existing + np.arange(n_ins), index + 1),
        _credentials(rng, np.unique(upd), index + 1),
    )
