"""Exact two-sample KS (``checks.drift.ks_statistic``): equality with a
pure-Python KS, and the build-time job budget of the KS and of
``suite.run_suite`` (no Spark job until an output is forced)."""

import itertools
import random
import zlib
from bisect import bisect_right

import pytest

from voluptuous_spark.checks.drift import ks_statistic
from voluptuous_spark.datasynth import clips_df, transcripts_df
from voluptuous_spark.suite import run_suite

_group = itertools.count()


def _py_ks(a, b):
    """max over every observed value x of |F_a(x) - F_b(x)|; None when a
    side has no non-NULL value."""
    a = sorted(float(x) for x in a if x is not None)
    b = sorted(float(x) for x in b if x is not None)
    if not a or not b:
        return None
    return max(
        abs(bisect_right(a, x) / len(a) - bisect_right(b, x) / len(b))
        for x in a + b
    )


def _jobs(spark, fn):
    """(fn's result, number of Spark jobs launched while it ran)."""
    sc = spark.sparkContext
    group = f"drift-build-{next(_group)}"
    sc.setJobGroup(group, "plan construction")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


_rng = random.Random(7)
CASES = [
    ("ties", [1, 1, 2, 3, 3, 3], [2, 2, 3, 4], "long"),
    ("empty_side", [1, 2, 3], [], "long"),
    ("both_empty", [], [], "long"),
    ("nulls", [None, 1, 2, None, 2], [None, 2, 5], "long"),
    ("only_nulls", [None, None], [1, 2], "long"),
    ("singletons_equal", [5], [5], "long"),
    ("singletons_apart", [1], [2], "long"),
    ("negative_float", [-1.5, 0.25, 3.0, -7.0, 0.25],
     [-1.5, 2.0, 1e9, -0.1], "double"),
    ("unequal_sizes", [_rng.randint(-20, 40) for _ in range(300)],
     [_rng.randint(-10, 60) for _ in range(77)], "int"),
    ("gaussians", [_rng.gauss(0.0, 1.0) for _ in range(2000)],
     [_rng.gauss(0.1, 1.2) for _ in range(1500)], "double"),
]


@pytest.mark.parametrize("name,a,b,ddl", CASES, ids=[c[0] for c in CASES])
def test_ks_equals_python_ks(spark, name, a, b, ddl):
    da = spark.createDataFrame([(x,) for x in a], f"x {ddl}")
    db = spark.createDataFrame([(x,) for x in b], f"x {ddl}")
    out, jobs = _jobs(spark, lambda: ks_statistic(da, db, "x"))
    assert jobs == 0, (name, jobs)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["ks_stat"] == _py_ks(a, b), name


def test_run_suite_builds_no_job(spark):
    n = 400
    clips = clips_df(spark, n, seed=3, partitions=2)
    transcripts = transcripts_df(spark, n, seed=3, partitions=2)
    res, jobs = _jobs(spark, lambda: run_suite(clips, transcripts))
    try:
        assert jobs == 0, jobs
        rows = res.annotated.select("clip_id", "dur_ms").collect()
        side = {0: [], 1: []}
        for r in rows:
            side[zlib.crc32(r["clip_id"].encode()) % 2].append(r["dur_ms"])
        assert res.counts()["dur_ks"] == _py_ks(side[0], side[1])
    finally:
        res.unpersist()
