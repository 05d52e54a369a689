"""Exact two-sample KS (``checks.drift.ks_statistic``): equality with a
pure-Python KS, and the build-time job budget of the KS and of
``suite.run_suite`` (no Spark job until an output is forced). PSI
(``psi_report``) against a pure-Python PSI, and the category totals
computed without an unpartitioned window."""

import math
import random
import zlib
from bisect import bisect_right
from collections import Counter

import pytest

from voluptuous_spark.checks.drift import (
    EPS, category_histogram, ks_statistic, psi_report,
)
from voluptuous_spark.datasynth import clips_df, transcripts_df
from voluptuous_spark.suite import run_suite


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
def test_ks_equals_python_ks(spark, jobs_of, name, a, b, ddl):
    da = spark.createDataFrame([(x,) for x in a], f"x {ddl}")
    db = spark.createDataFrame([(x,) for x in b], f"x {ddl}")
    out, jobs = jobs_of(lambda: ks_statistic(da, db, "x"))
    assert jobs == 0, (name, jobs)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["ks_stat"] == _py_ks(a, b), name


def test_run_suite_builds_no_job(spark, jobs_of):
    n = 400
    clips = clips_df(spark, n, seed=3, partitions=2)
    transcripts = transcripts_df(spark, n, seed=3, partitions=2)
    res, jobs = jobs_of(lambda: run_suite(clips, transcripts))
    try:
        assert jobs == 0, jobs
        rows = res.annotated.select("clip_id", "dur_ms").collect()
        side = {0: [], 1: []}
        for r in rows:
            side[zlib.crc32(r["clip_id"].encode()) % 2].append(r["dur_ms"])
        assert res.counts()["dur_ks"] == _py_ks(side[0], side[1])
    finally:
        res.unpersist()


def _py_psi(a, b):
    """PSI over the full outer join of the two histograms on value, in
    which a NULL category never joins: (psi, n_categories)."""
    def ratios(xs):
        return {k: n / len(xs) for k, n in Counter(xs).items()}

    ra, rb = ratios(a), ratios(b)
    rows = [(ra.get(k), rb.get(k)) for k in (set(ra) | set(rb)) - {None}]
    rows += [(ra[None], None)] if None in ra else []
    rows += [(None, rb[None])] if None in rb else []
    if not rows:
        return None, 0

    def p(r):
        return max(r or 0.0, EPS)

    return (sum((p(x) - p(y)) * math.log(p(x) / p(y)) for x, y in rows),
            len(rows))


PSI_CASES = [
    ("skewed", ["wav"] * 85 + ["flac"] * 10 + ["mp3"] * 5,
     ["wav"] * 70 + ["flac"] * 20 + ["opus"] * 10),
    ("nulls_both_sides", ["a", None, "b", None], [None, "a", "a", "c"]),
    ("disjoint", ["a", "b"], ["c"]),
    ("empty_side", ["a", "b", "b"], []),
    ("both_empty", [], []),
    ("identical", ["x", "y", "y"], ["y", "x", "y"]),
]


@pytest.mark.parametrize("name,a,b", PSI_CASES, ids=[c[0] for c in PSI_CASES])
def test_psi_equals_python_psi(spark, jobs_of, name, a, b):
    da = spark.createDataFrame([(x,) for x in a], "c string")
    db = spark.createDataFrame([(x,) for x in b], "c string")
    out, jobs = jobs_of(lambda: psi_report(da, db, "c"))
    assert jobs == 0, (name, jobs)
    [row] = out.collect()
    psi, n_cat = _py_psi(a, b)
    assert row["n_categories"] == n_cat, name
    if psi is None:
        assert row["psi"] is None, name
    else:
        assert row["psi"] == pytest.approx(psi, rel=1e-12, abs=1e-12), name


def test_category_totals_use_no_window(spark):
    df = spark.createDataFrame(
        [(s,) for s in ["train"] * 8 + ["val", "test", None]], "split string")
    hist = category_histogram(df, "split")
    for out in (hist, psi_report(df, df, "split")):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
    got = {r["value"]: (r["count"], r["ratio"]) for r in hist.collect()}
    assert got == {"train": (8, 8 / 11), "val": (1, 1 / 11),
                   "test": (1, 1 / 11), None: (1, 1 / 11)}
