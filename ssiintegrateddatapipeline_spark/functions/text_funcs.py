"""Column-level text/hash primitives shared by dedup, similarity and text ops.

Everything here is a pure Catalyst expression (no UDFs): whole-stage codegen
applies, and each primitive has an exactly-equivalent DuckDB SQL spelling so
the driver's oracle can reproduce results bit-for-bit.

Cross-dialect hash: both engines expose md5 over UTF-8 strings; we take the
first 8 hex chars as an unsigned 32-bit int (fits in a long). Spark:
``conv(substring(md5(x),1,8),16,10)``; DuckDB: ``('0x'||substr(md5(x),1,8))
::UBIGINT``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def md5_int32(c: Column) -> Column:
    """First 32 bits of md5(c) as a non-negative long (dialect-portable)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def tokens(c: Column) -> Column:
    """Whitespace tokenization (single-space split, matching string_split)."""
    return F.split(c, " ")


def word_shingles(toks: Column, k: int = 3) -> Column:
    """k-word shingles: [join(tokens[i..i+k-1]) for i in 0..n-k].

    Pure higher-order-function expression — scales per-row, no explode.
    """
    idx = F.sequence(F.lit(0), F.size(toks) - k)
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.get(toks, i + j) for j in range(k)])
    )


def _mh_slicer(k: int):
    # NB: the lambda must take exactly one arg — a two-arg HOF lambda is
    # interpreted by Spark as (value, index)
    return lambda h: F.conv(F.substring(h, 8 * k + 1, 8), 16, 10).cast("long")


def _mh_md5_group(g: int):
    return lambda sh: F.md5(F.concat(F.lit(f"{g}|"), sh))


def minhash_signature(shingles: Column, n_hashes: int = 8) -> Column:
    """MinHash signature: hash s of a shingle is 32 bits sliced out of
    md5(group|shingle), where group = s div 4 — one md5 yields four
    independent 32-bit hashes, so 8 permutations cost only 2 md5 calls per
    shingle (4x cheaper than salting per seed).

    NOTE: as a single Column the md5 transform gets re-inlined once per
    slicer (4x the md5 work) because Catalyst does not CSE across the four
    array_min consumers. Prefer ``with_minhash_signature`` on a DataFrame,
    which materializes the hex arrays in an intermediate projection.
    """
    assert n_hashes % 4 == 0 or n_hashes < 4
    n_groups = (n_hashes + 3) // 4
    sigs = []
    for g in range(n_groups):
        hexes = F.transform(shingles, _mh_md5_group(g))
        for k in range(min(4, n_hashes - 4 * g)):
            sigs.append(F.array_min(F.transform(hexes, _mh_slicer(k))))
    return F.array(*sigs)


def with_minhash_signature(df, shingles: Column, n_hashes: int = 8, out: str = "sig"):
    """Two-projection MinHash: first materialize md5 hex arrays (one per
    4-hash group), then slice mins out of them. Each md5 computes exactly
    once; CollapseProject keeps the projections separate because the hex
    arrays are non-cheap and multiply referenced."""
    assert n_hashes % 4 == 0 or n_hashes < 4
    n_groups = (n_hashes + 3) // 4
    hex_cols = [
        F.transform(shingles, _mh_md5_group(g)).alias(f"_mh_hex{g}")
        for g in range(n_groups)
    ]
    step = df.select("*", *hex_cols)
    sig = F.array(
        *[
            F.array_min(F.transform(F.col(f"_mh_hex{s // 4}"), _mh_slicer(s % 4)))
            for s in range(n_hashes)
        ]
    )
    return step.select(
        *[c for c in df.columns], sig.alias(out)
    )


def _simhash_from_hashes(hashes: Column) -> Column:
    def bit_mask(j: Column) -> Column:
        # 2^j as long (shiftleft needs a literal amount; pow is exact here)
        return F.pow(F.lit(2.0), j).cast("long")

    bit_vals = F.transform(
        F.sequence(F.lit(0), F.lit(31)),
        lambda j: F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda acc, h: acc
                + F.when(h.bitwiseAND(bit_mask(j)) > 0, F.lit(1)).otherwise(F.lit(-1)),
            )
            > 0,
            bit_mask(j),
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bit_vals, F.lit(0).cast("long"), lambda acc, x: acc + x)


def with_simhash32(df, toks: Column, out: str = "simhash"):
    """Two-projection SimHash: md5 per token computed exactly once, the 32
    bit-votes then aggregate over the materialized int array."""
    step = df.select("*", F.transform(toks, md5_int32).alias("_sh_hashes"))
    return step.select(
        *[c for c in df.columns],
        _simhash_from_hashes(F.col("_sh_hashes")).alias(out),
    )


def arr_dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays in doubles, index order."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )


def arr_norm(a: Column) -> Column:
    """L2 norm of a float array in doubles, index order — identical
    arithmetic to the norm terms inside :func:`cosine`, split out so
    all-pairs scorers can precompute it once per vector instead of once
    per pair."""
    ad = F.transform(a, lambda x: x.cast("double"))
    return F.sqrt(
        F.aggregate(F.transform(ad, lambda x: x * x), F.lit(0.0), lambda s, x: s + x)
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two float arrays, computed in doubles in index
    order (parity with the oracle's list_transform/list_sum)."""
    return arr_dot(a, b) / (arr_norm(a) * arr_norm(b))


# --- DuckDB spellings of the same primitives (oracle-side building blocks) --

SQL_MD5_INT32 = "(('0x' || substr(md5({x}), 1, 8))::UBIGINT::BIGINT)"
SQL_TOKENS = "string_split({x}, ' ')"
SQL_SHINGLES3 = (
    "list_transform(generate_series(1, len({t}) - 2), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])"
)

# --- Quality heuristic: ONE source of truth for engine + oracles ----------
# score = 0.4*type_token_ratio + 0.3*(1-stopword_ratio) + 0.3*min(1, n/50).
# operators.text.quality_score builds the Spark expression from
# EN_STOPWORDS; every oracle that re-derives a quality score (text.py's
# quality/clean-corpus oracles, dedup.py's quality-canonical oracle) builds
# its SQL from these fragments, so an edit to the formula or the stopword
# set cannot silently desynchronize one of them.

EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "on")
TOKS_SQL = "string_split(text, ' ')"
STOPWORDS_SQL = ", ".join(f"'{w}'" for w in EN_STOPWORDS)


def quality_terms_sql(toks: str = TOKS_SQL) -> str:
    """The n/nd/ns select-list terms the quality formula consumes."""
    return (
        f"len({toks}) AS n, len(list_distinct({toks})) AS nd, "
        f"len(list_filter({toks}, t -> t IN ({STOPWORDS_SQL}))) AS ns"
    )


# over the quality_terms_sql columns (n, nd, ns)
QUALITY_FORMULA_SQL = (
    "round(0.4 * (nd / n) + 0.3 * (1.0 - ns / n) "
    "+ 0.3 * least(1.0, n / 50.0), 6)"
)
