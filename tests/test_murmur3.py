"""Parity of the NumPy Murmur3 port (functions/murmur3.py) with Spark's
``hash`` expression — the bucket-id check behind the landed layouts'
driver-side metadata repair (plans/bucketing.repair_bucketed_metadata)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from distributed_spatial_index_spark.functions.murmur3 import (
    spark_bucket,
    spark_hash,
)

_EXTREMES = [0, 1, -1, 2, -2, 2**31 - 1, -(2**31), 2**31, -(2**31) - 1,
             2**32, 2**32 - 1, 2**63 - 1, -(2**63)]


def _longs(seed: int, n: int = 2000) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return np.concatenate([
        np.array(_EXTREMES, dtype=np.int64),
        rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64),
        rng.integers(-1000, 1000, 200, dtype=np.int64),
    ])


def _spark_col(spark, df, expr):
    return np.array([r[0] for r in df.select(expr).collect()])


def test_long_parity(spark):
    v = _longs(3)
    df = spark.createDataFrame([(int(x),) for x in v], "v long")
    got = _spark_col(spark, df, F.hash("v")).astype(np.int32)
    assert np.array_equal(got, spark_hash(v))


def test_int_parity(spark):
    rng = np.random.default_rng(5)
    v = np.concatenate([
        np.array([0, 1, -1, 2**31 - 1, -(2**31)], dtype=np.int32),
        rng.integers(-(2**31), 2**31 - 1, 1000, dtype=np.int32),
    ])
    df = spark.createDataFrame([(int(x),) for x in v], "v int")
    got = _spark_col(spark, df, F.hash("v")).astype(np.int32)
    assert np.array_equal(got, spark_hash(v))


def test_cell_salt_pairs_and_pmod(spark):
    """The salted bucket key hash(cell, salt), for a long and an int salt,
    and pmod(hash, n) — the bucket id — for several bucket counts."""
    cell = _longs(7)
    rng = np.random.default_rng(9)
    salt = rng.integers(0, 8, len(cell), dtype=np.int64)
    df = spark.createDataFrame(
        [(int(c), int(s), int(s)) for c, s in zip(cell, salt)],
        "cell long, salt long, isalt int",
    )
    for cols, np_cols in (
        (["cell", "salt"], [cell, salt]),
        (["cell", "isalt"], [cell, salt.astype(np.int32)]),
    ):
        got = _spark_col(spark, df, F.hash(*cols)).astype(np.int32)
        assert np.array_equal(got, spark_hash(*np_cols)), cols
    for n in (1, 2, 4, 7, 32, 1000):
        got = _spark_col(spark, df, F.pmod(F.hash("cell"), F.lit(n)))
        assert np.array_equal(got, spark_bucket(n, cell)), n
        got = _spark_col(spark, df, F.pmod(F.hash("cell", "salt"), F.lit(n)))
        assert np.array_equal(got, spark_bucket(n, cell, salt)), n


def test_null_column_is_refused():
    """Spark skips NULLs in ``hash``; the port refuses a column holding
    any rather than hash a stand-in value."""
    with pytest.raises(TypeError):
        spark_hash(pa.chunked_array([pa.array([5, None, 7], pa.int64())]))
