"""NumPy port of Spark's ``hash`` expression (Murmur3_x86_32, seed 42) over
the integer column types the landed layouts bucket on.  A bucketed table's
bucket id is ``pmod(hash(bucket_cols), n_buckets)``, so this lets the driver
check bucket parity of files it reads with pyarrow without a Spark job.
Parity with ``F.hash`` is pinned by tests/test_murmur3.py."""

from __future__ import annotations

import numpy as np

_M = np.uint32


def _rotl(x, r: int):
    return (x << _M(r)) | (x >> _M(32 - r))


def _mix(h, k):
    k = _rotl(k * _M(0xCC9E2D51), 15) * _M(0x1B873593)
    return _rotl(h ^ k, 13) * _M(5) + _M(0xE6546B64)


def _fmix(h, length: int):
    h = h ^ _M(length)
    h = (h ^ (h >> _M(16))) * _M(0x85EBCA6B)
    h = (h ^ (h >> _M(13))) * _M(0xC2B2AE35)
    return h ^ (h >> _M(16))


def spark_hash(*cols, seed: int = 42) -> np.ndarray:
    """int32 array equal to Spark's ``hash(*cols)`` over NULL-free int32 or
    int64 columns (NumPy or pyarrow arrays).  A column with NULLs arrives
    as floats and raises: Spark would skip those values, this port does
    not."""
    h = None
    for c in map(np.asarray, cols):
        if h is None:
            h = np.full(len(c), seed, dtype=_M)
        if c.dtype == np.int64:
            u = c.view(np.uint64)
            lo = (u & np.uint64(0xFFFFFFFF)).astype(_M)
            h = _fmix(_mix(_mix(h, lo), (u >> np.uint64(32)).astype(_M)), 8)
        elif c.dtype == np.int32:
            h = _fmix(_mix(h, c.view(_M)), 4)
        else:
            raise TypeError(f"spark_hash covers int32/int64, got {c.dtype}")
    return h.view(np.int32)


def spark_bucket(n: int, *cols) -> np.ndarray:
    """``pmod(hash(*cols), n)`` — the bucket id Spark's bucketed writer and
    scan use for these columns."""
    return np.mod(spark_hash(*cols).astype(np.int64), n)
