"""JL random projection: shape, determinism, distance preservation."""

import math

import pandas as pd

from ala_name_matching_spark.operators.random_projection import (
    jl_signs,
    random_projection,
)


def _vecs(spark, rows, dim):
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(rows)), "embedding": rows}),
        schema=f"vec_id long, embedding array<double>",
    )


def test_signs_deterministic_and_pm_one(monkeypatch):
    from ala_name_matching_spark.operators import random_projection as rp

    a = jl_signs(8, 4)
    assert a == jl_signs(8, 4)
    assert all(s in (-1, 1) for row in a for s in row)
    monkeypatch.setattr(rp, "SEED", "other")
    assert a != jl_signs(8, 4)


def test_projection_shape_and_determinism(spark):
    import random

    rng = random.Random(7)
    rows = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(40)]
    df = _vecs(spark, rows, 16)
    a = {r["vec_id"]: r["rp"] for r in random_projection(df, dim=16, k=4).collect()}
    b = {r["vec_id"]: r["rp"] for r in random_projection(df, dim=16, k=4).collect()}
    assert a == b
    assert all(len(v) == 4 for v in a.values())


def test_norms_preserved_in_expectation(spark):
    # JL guarantee: E||Rx||^2 = ||x||^2; with k=16 the average ratio over
    # many random vectors concentrates near 1
    import random

    rng = random.Random(11)
    rows = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(120)]
    df = _vecs(spark, rows, 64)
    rp = {r["vec_id"]: r["rp"] for r in random_projection(df, dim=64, k=16).collect()}
    ratios = []
    for i, x in enumerate(rows):
        nx = sum(v * v for v in x)
        ny = sum(v * v for v in rp[i])
        ratios.append(ny / nx)
    mean = sum(ratios) / len(ratios)
    assert 0.85 < mean < 1.15, mean
    # and no ratio is pathological
    assert all(0.2 < r < 3.5 for r in ratios)
