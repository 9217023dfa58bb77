"""Partitioned Bloom filters over the URL-seen set.

north_rule: "a distributed URL-seen set built from partitioned
Bloom/cuckoo filters keyed by canonicalized+murmur3-hashed URLs". The
reference's equivalent is a per-key mutex map (crawler/crawler.go:56-80) —
a driver-memory structure that cannot scale; here the filter is SHARDED BY
url_hash BUCKET so each shard stays small and each probe/build touches
only its bucket's rows (bucket-local work, no broadcast of the whole
filter — at 10^10 URLs a monolithic filter would be ~20 GB, but a bucket
is ~20 GB / n_buckets and lives next to its frontier partition).

USE: the crawl round does not probe these filters today. Its one seen
check is the exact anti-join at round end (plans/round.py), which scans
and shuffles the whole seen side every round, so a prefilter in front of
it saves no work. A filter pays once a seen side too large to scan every
round (a compacted seen table) lets it keep rows off the exact path. The
kernels stay unit-tested and benchmarked for that case.

EXACTNESS (SURVEY.md §7 risk 4): Bloom answers may only ever serve as a
prefilter. `might_contain == False` rows are definitely new (Bloom has no
false negatives) and may skip the exact anti-join; `True` rows (seen or
false positive) must go through the exact anti-join against the seen
table, so the seen-set stays exact regardless of the false-positive rate.

Representation: table ``(bucket int, bits binary, n_items long)``, one row
per bucket; ``bits`` is a fixed-size numpy bitset so round deltas OR-merge.
Hash family: double hashing derived from the 64-bit url_hash (Kirsch &
Mitzenmacher 2006: two hashes generate k independent-enough probes), all
numpy-vectorized — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# 64-bit mix constants (splitmix64 finalizer, public domain reference impl)
_MIX1 = np.uint64(0xBF58476D1CE4E5B9)
_MIX2 = np.uint64(0x94D049BB133111EB)

BLOOM_SCHEMA = "bucket int, bits binary, n_items long"


def _splitmix64(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    x ^= x >> np.uint64(30)
    x *= _MIX1
    x ^= x >> np.uint64(27)
    x *= _MIX2
    x ^= x >> np.uint64(31)
    return x


def _probe_positions(url_hash: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing. url_hash: int64 array."""
    h1 = url_hash.view(np.uint64) if url_hash.dtype == np.int64 else url_hash.astype(np.uint64)
    h2 = _splitmix64(h1) | np.uint64(1)  # odd -> full-period stride
    i = np.arange(k, dtype=np.uint64)
    # (n,1) + (n,1)*(k,) broadcast -> (n,k), wrapping mod 2^64 then mod m
    pos = h1[:, None] + h2[:, None] * i[None, :]
    return (pos % np.uint64(m_bits)).astype(np.int64)


def set_bits(bits: np.ndarray, url_hash: np.ndarray, m_bits: int, k: int) -> None:
    """OR the k probe positions of every hash into ``bits`` (uint8 array)."""
    if len(url_hash) == 0:
        return
    pos = _probe_positions(url_hash, m_bits, k).ravel()
    np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))


def might_contain(bits: np.ndarray, url_hash: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """Vectorized membership test -> bool array (no false negatives)."""
    if len(url_hash) == 0:
        return np.zeros(0, dtype=bool)
    pos = _probe_positions(url_hash, m_bits, k)
    byte = bits[pos >> 3]
    mask = np.uint8(1) << (pos & 7).astype(np.uint8)
    return ((byte & mask) != 0).all(axis=1)


def empty_bits(m_bits: int) -> np.ndarray:
    return np.zeros(m_bits // 8, dtype=np.uint8)


# --- Spark-side builders (cogrouped applyInPandas kernels) ------------------


def make_merge_fn(m_bits: int, k: int):
    """Kernel for ``seen_delta.cogroup(bloom_prev)``: OR this round's new
    hashes into the bucket's previous bitset (carrying forward untouched
    buckets — cogroup emits groups present on either side)."""

    def merge(delta: pd.DataFrame, prev: pd.DataFrame) -> pd.DataFrame:
        if len(prev):
            bits = np.frombuffer(prev["bits"].iloc[0], dtype=np.uint8).copy()
            n = int(prev["n_items"].iloc[0])
            bucket = int(prev["bucket"].iloc[0])
        else:
            bits = empty_bits(m_bits)
            n = 0
            bucket = int(delta["bucket"].iloc[0])
        if len(delta):
            set_bits(bits, delta["url_hash"].to_numpy(np.int64), m_bits, k)
            n += len(delta)
        return pd.DataFrame(
            {"bucket": [bucket], "bits": [bits.tobytes()], "n_items": [n]}
        )

    return merge


def make_probe_fn(m_bits: int, k: int, out_cols: list[str]):
    """Kernel for ``frontier.cogroup(bloom)``: append a ``maybe_seen``
    column. Missing bucket -> everything definitely new."""

    def probe(front: pd.DataFrame, bloom: pd.DataFrame) -> pd.DataFrame:
        if not len(front):
            return pd.DataFrame(columns=out_cols + ["maybe_seen"])
        out = front[out_cols].copy()
        if len(bloom):
            bits = np.frombuffer(bloom["bits"].iloc[0], dtype=np.uint8)
            out["maybe_seen"] = might_contain(
                bits, front["url_hash"].to_numpy(np.int64), m_bits, k
            )
        else:
            out["maybe_seen"] = False
        return out

    return probe
