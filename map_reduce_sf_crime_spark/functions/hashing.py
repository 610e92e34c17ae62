"""Portable deterministic hashing — identical values in Spark and DuckDB.

Everything downstream (minhash, simhash, LSH bands, fingerprints) is
built on one primitive: interpret the first 15 hex digits of
``md5(seed || ':' || s)`` as a 60-bit non-negative integer. Both
engines implement md5 over UTF-8 bytes, so signatures hash-match
across the oracle boundary — the driver's value-hash compare works on
the *hash values themselves*.

Spark side stays JVM/codegen (md5/conv/substr are built-ins — no
Python in the hot path); the DuckDB twin uses the same construction
via hex-literal casting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX_DIGITS = 15  # 60 bits < 2^63 — safe in signed bigint on both engines


def hash64_col(s: Column, seed: str | None = None) -> Column:
    """60-bit seeded hash of a string column (Spark)."""
    if seed is not None:
        s = F.concat(F.lit(f"{seed}:"), s)
    return F.conv(F.substring(F.md5(s), 1, HEX_DIGITS), 16, 10).cast("long")


def hash64_sql(s: str, seed: str | None = None) -> str:
    """DuckDB twin of :func:`hash64_col`."""
    if seed is not None:
        s = f"'{seed}:' || {s}"
    return f"(('0x' || substr(md5({s}), 1, {HEX_DIGITS}))::bigint)"


def _seeded_hasher(seed: str):
    # NB: must return a ONE-parameter lambda — a second parameter
    # (even a defaulted `k=k`) makes pyspark's `transform` treat it as
    # an (element, index) lambda and bind the array index to it.
    return lambda sh: hash64_col(sh, seed=seed)


def minhash_col(shingles: Column, n_hashes: int) -> Column:
    """MinHash signature: array of ``n_hashes`` minima over the shingle
    set, seed ``k`` per hash function. Empty shingle set → NULL mins."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, _seeded_hasher(str(k))))
            for k in range(n_hashes)
        ]
    )


def minhash_sql(shingles: str, n_hashes: int) -> str:
    mins = ", ".join(
        f"list_min(list_transform({shingles}, sh -> {hash64_sql('sh', seed=str(k))}))"
        for k in range(n_hashes)
    )
    return f"[{mins}]"
