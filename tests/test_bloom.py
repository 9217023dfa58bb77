"""Partitioned Bloom filter: no false negatives (the exactness invariant),
plausible FP rate and merge semantics."""

from __future__ import annotations

import numpy as np

from don_crawler_spark.functions.bloom import (
    empty_bits,
    might_contain,
    set_bits,
)

M_BITS = 1 << 16
K = 7


def test_no_false_negatives() -> None:
    rng = np.random.default_rng(42)
    keys = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    bits = empty_bits(M_BITS)
    set_bits(bits, keys, M_BITS, K)
    assert might_contain(bits, keys, M_BITS, K).all()


def test_false_positive_rate_reasonable() -> None:
    rng = np.random.default_rng(1)
    keys = rng.integers(-(2**63), 2**63 - 1, size=2000, dtype=np.int64)
    others = rng.integers(-(2**63), 2**63 - 1, size=20000, dtype=np.int64)
    others = np.setdiff1d(others, keys)
    bits = empty_bits(M_BITS)
    set_bits(bits, keys, M_BITS, K)
    fp = might_contain(bits, others, M_BITS, K).mean()
    # n=2000, m=65536, k=7 -> theoretical fp ~ (1-e^{-kn/m})^k ~ 0.5%
    assert fp < 0.05, fp


def test_incremental_set_equals_bulk() -> None:
    rng = np.random.default_rng(2)
    keys = rng.integers(-(2**63), 2**63 - 1, size=1000, dtype=np.int64)
    bulk = empty_bits(M_BITS)
    set_bits(bulk, keys, M_BITS, K)
    inc = empty_bits(M_BITS)
    for chunk in np.array_split(keys, 7):
        set_bits(inc, chunk, M_BITS, K)
    assert np.array_equal(bulk, inc)


def test_empty_probe() -> None:
    bits = empty_bits(M_BITS)
    assert might_contain(bits, np.array([], dtype=np.int64), M_BITS, K).shape == (0,)
    some = np.array([1, 2, 3], dtype=np.int64)
    assert not might_contain(bits, some, M_BITS, K).any()

