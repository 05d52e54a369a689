"""Embedding-space drift checks (checks/embedding_drift.py)."""

import random

import pytest
from pyspark.sql import functions as F

from voluptuous_spark.checks.embedding_drift import (
    embedding_projections,
    embedding_psi,
    projection_expr,
)

DIM = 16


def _corpus(spark, seed, shift=0.0, scale=1.0, n=1500):
    rng = random.Random(seed)
    rows = [
        (i, [rng.gauss(0, 1) * scale + shift for _ in range(DIM)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def ref(spark):
    return _corpus(spark, seed=1).cache()


def test_same_distribution_no_drift(spark, ref):
    cur = _corpus(spark, seed=2)  # fresh draw, same distribution
    rows = embedding_psi(ref, cur, DIM, n_planes=4).collect()
    assert len(rows) == 4
    assert all(r["psi"] < 0.1 for r in rows)


def test_shifted_distribution_drifts(spark, ref):
    cur = _corpus(spark, seed=3, shift=0.8)
    rows = embedding_psi(ref, cur, DIM, n_planes=4).collect()
    # a global translation shows up in (at least) some directions
    assert max(r["psi"] for r in rows) > 0.2


def test_rescaled_distribution_drifts(spark, ref):
    # variance doubles: every projection's spread doubles -> PSI fires
    cur = _corpus(spark, seed=4, scale=2.0)
    rows = embedding_psi(ref, cur, DIM, n_planes=4).collect()
    assert max(r["psi"] for r in rows) > 0.2


def test_projection_deterministic_and_replayable(spark, ref):
    """proj_p is the documented closed form — recompute plane 0's
    components in Python and compare one row exactly."""
    from voluptuous_spark.similarity import _P, srp_coef

    row = embedding_projections(ref, DIM, n_planes=1).limit(1).collect()[0]
    a, b = srp_coef(0)
    comps = [((a * (j + 1) + b) % _P) / _P - 0.5 for j in range(DIM)]
    exp = sum(x * c for x, c in zip(row["embedding"], comps))
    assert abs(row["proj_0"] - exp) < 1e-9


def test_projections_ride_the_scan(ref):
    plan = (
        embedding_projections(ref, DIM, n_planes=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
