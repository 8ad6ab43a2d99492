"""The array-fold generator emits one kernel text per engine; both must
agree bit for bit, since every similarity oracle compares Spark folds
against DuckDB folds of the same kernel.

The inputs make summation order visible: magnitudes spread from 1e-150
to 1e150 (a large term swallows a small one unless the small ones are
added first), element pairs that cancel exactly, and signed zeros. A
fold that adds the same terms in any other order gives other bits on
most rows, which ``test_inputs_make_summation_order_matter`` confirms.
"""

from __future__ import annotations

import random

import duckdb
from pyspark.sql import types as T

from spark_etl_pipeline_spark.operators.similarity import DIM, FOLDS, fold

N_PAIRS = 200

#: kernel -> its operand columns (``None``: the 1-based positions)
OPERANDS = {
    "dot": ("a", "b"),
    "sqdist": ("a", "b"),
    "idot": ("ia", "ib"),
    "checksum": ("ia", None),
}


def _double(rng: random.Random, lo: int, hi: int) -> float:
    """A signed zero one time in twenty, else ±U(0, 1) · 10^[lo, hi]."""
    if rng.random() < 0.05:
        return rng.choice((-0.0, 0.0))
    return rng.choice((-1.0, 1.0)) * rng.random() * 10.0 ** rng.randint(lo, hi)


def _pair(rng: random.Random) -> tuple[list[float], list[float]]:
    """Mostly O(1) elements, a fifth spread over 1e-150..1e150, and four
    large products that cancel exactly (a[j] = -a[i], b[j] = b[i]): the
    small terms added while such a product is open are lost, so the
    result depends on the order of the terms."""
    def elem() -> float:
        wide = rng.random() < 0.2
        return _double(rng, -150, 150) if wide else _double(rng, -2, 2)

    a = [elem() for _ in range(DIM)]
    b = [elem() for _ in range(DIM)]
    for _ in range(4):
        i, j = rng.sample(range(DIM), 2)
        a[i], b[i] = _double(rng, 50, 150), _double(rng, 0, 150)
        a[j], b[j] = -a[i], b[i]
    return a, b


def _rows() -> list[tuple]:
    rng = random.Random(20261019)
    return [
        (
            k,
            *_pair(rng),
            [rng.randint(-10**6, 10**6) for _ in range(DIM)],
            [rng.randint(-10**6, 10**6) for _ in range(DIM)],
        )
        for k in range(N_PAIRS)
    ]


def _bits(x):
    return x.hex() if isinstance(x, float) else x


def test_fold_kernels_cover_the_generator():
    assert set(OPERANDS) == set(FOLDS)


def test_inputs_make_summation_order_matter():
    def dot(a, b, order):
        s = 0.0
        for i in order:
            s += a[i] * b[i]
        return s

    fwd, rev = range(DIM), range(DIM - 1, -1, -1)
    differ = sum(
        dot(a, b, fwd).hex() != dot(a, b, rev).hex() for _, a, b, _, _ in _rows()
    )
    assert differ > N_PAIRS // 2, f"only {differ}/{N_PAIRS} rows are order-sensitive"


def test_fold_dialects_bit_identical(spark):
    rows = _rows()
    schema = T.StructType(
        [
            T.StructField("k", T.IntegerType()),
            T.StructField("a", T.ArrayType(T.DoubleType())),
            T.StructField("b", T.ArrayType(T.DoubleType())),
            T.StructField("ia", T.ArrayType(T.LongType())),
            T.StructField("ib", T.ArrayType(T.LongType())),
        ]
    )
    kernels = sorted(FOLDS)
    got_spark = {
        r[0]: tuple(map(_bits, r[1:]))
        for r in spark.createDataFrame(rows, schema)
        .selectExpr("k", *[fold("spark", k, *OPERANDS[k]) for k in kernels])
        .collect()
    }
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE t (k INTEGER, a DOUBLE[], b DOUBLE[], ia BIGINT[], ib BIGINT[])"
        )
        con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
        cols = ", ".join(fold("duck", k, *OPERANDS[k]) for k in kernels)
        got_duck = {
            r[0]: tuple(map(_bits, r[1:]))
            for r in con.execute(f"SELECT k, {cols} FROM t").fetchall()
        }
    finally:
        con.close()
    assert len(got_spark) == len(got_duck) == N_PAIRS
    bad = [
        (k, kern, got_spark[k][i], got_duck[k][i])
        for k in sorted(got_spark)
        for i, kern in enumerate(kernels)
        if got_spark[k][i] != got_duck[k][i]
    ]
    assert not bad, f"{len(bad)} (row, kernel) results differ, e.g. {bad[:3]}"
