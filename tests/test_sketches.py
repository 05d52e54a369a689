"""Mergeable column-stats sketches: per-partition rows fold to corpus
stats (north rule: checkpoints carrying stats metrics). Oracles are
exact Spark aggregates over the same input; HLL and log-histogram
estimates are asserted within their published error bounds."""

import math
import tempfile

import pytest
from pyspark.sql import functions as F

from voluptuous_spark.checkpoint import CheckpointedValidation
from voluptuous_spark.checks.sketches import (
    column_sketches,
    log_bin_expr,
    merge_sketches,
)
from voluptuous_spark.datasynth import clips_df


def _mk(spark, n=3000, parts=4):
    import random

    random.seed(11)
    rows = [
        (
            i,
            random.gauss(250.0, 40.0),
            random.choice(["opus", "flac", "pcm", None]),
            (-1.0 * i) if i % 5 == 0 else i * 0.004,
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "id long, x double, codec string, y double"
    ).repartition(parts)


def _merged_map(df):
    return {r["column"]: r for r in df.collect()}


def test_merge_equals_whole(spark):
    """Sketching per group then merging == sketching the whole input:
    exact for counts/min/max/moments, bounded error for HLL/quantiles."""
    df = _mk(spark).withColumn("g", (F.col("id") % 7).cast("int"))
    per_group = column_sketches(df, ["id", "x", "codec", "y"], group_col="g")
    assert per_group.count() == 7 * 4
    got = _merged_map(merge_sketches(per_group, quantiles=(0.5, 0.9)))

    whole = column_sketches(df, ["id", "x", "codec", "y"])
    want = _merged_map(merge_sketches(whole, quantiles=(0.5, 0.9)))

    for c in ("id", "x", "codec", "y"):
        for f in ("n_rows", "null_count", "min_value", "max_value"):
            assert got[c][f] == want[c][f], (c, f)
        # moments: float-sum order differs across groupings
        for f in ("mean", "stddev"):
            if want[c][f] is None:
                assert got[c][f] is None
            else:
                assert got[c][f] == pytest.approx(want[c][f], rel=1e-9)
        # HLL union of partials is the SAME sketch family: estimates may
        # differ slightly from the single-pass sketch but both sit
        # within the lgK=12 bound (~1.6% rse) of each other
        assert got[c]["distinct_count"] == pytest.approx(
            want[c]["distinct_count"], rel=0.05
        )
        # histogram merge is exact (integer bin-count sums)
        assert got[c]["quantiles"] == want[c]["quantiles"]


def test_stats_match_exact_oracles(spark):
    df = _mk(spark)
    m = _merged_map(
        merge_sketches(
            column_sketches(df, ["id", "x", "codec", "y"]),
            quantiles=(0.5, 0.9, 0.99),
        )
    )
    exact = df.selectExpr(
        "count(1) n",
        "sum(cast(codec is null as long)) nc",
        "count(distinct codec) dc",
        "count(distinct id) di",
        "avg(x) mx",
        "stddev_pop(x) sx",
        "percentile(x, array(0.5, 0.9, 0.99)) qx",
        "percentile(y, array(0.5, 0.9, 0.99)) qy",
        "min(x) mnx",
        "max(x) mxx",
    ).collect()[0]

    assert m["codec"]["n_rows"] == exact["n"]
    assert m["codec"]["null_count"] == exact["nc"]
    assert m["codec"]["null_rate"] == pytest.approx(exact["nc"] / exact["n"])
    # small-cardinality HLL is exact
    assert m["codec"]["distinct_count"] == exact["dc"]
    assert m["codec"]["min_value"] == "flac"
    assert m["codec"]["max_value"] == "pcm"
    assert m["codec"]["mean"] is None and m["codec"]["stddev"] is None
    assert m["codec"]["quantiles"] is None

    # HLL at 3000 distinct: lgK=12 rse ~1.6%; assert 3 sigma
    assert m["id"]["distinct_count"] == pytest.approx(exact["di"], rel=0.05)
    assert m["x"]["mean"] == pytest.approx(exact["mx"], rel=1e-9)
    assert m["x"]["stddev"] == pytest.approx(exact["sx"], rel=1e-9)
    assert float(m["x"]["min_value"]) == exact["mnx"]
    assert float(m["x"]["max_value"]) == exact["mxx"]

    # log-histogram quantiles: relative error <= 2^(1/(2*8)) - 1 (~4.4%)
    bound = 2 ** (1 / 16) - 1 + 1e-9
    for col, key in (("x", "qx"), ("y", "qy")):
        for got, true in zip(m[col]["quantiles"], exact[key]):
            if true == 0:
                assert abs(got) < 1e-12
            else:
                assert abs(got / true - 1) <= bound, (col, got, true)


def test_sign_zero_nan_bins(spark):
    df = spark.createDataFrame(
        [(1, -8.0), (2, 0.0), (3, 8.0), (4, float("nan")), (5, None)],
        "id int, v double",
    )
    bins = {
        r["id"]: r["b"]
        for r in df.select("id", log_bin_expr(F.col("v")).alias("b")).collect()
    }
    assert bins[2] == 0
    assert bins[3] > 0 and bins[1] == -bins[3]
    assert bins[4] is None and bins[5] is None

    m = _merged_map(
        merge_sketches(column_sketches(df, ["v"]), quantiles=(0.5,))
    )
    # NaN excluded from moments and min/max; nulls counted separately
    assert m["v"]["null_count"] == 1
    assert float(m["v"]["min_value"]) == -8.0
    assert float(m["v"]["max_value"]) == 8.0
    assert m["v"]["mean"] == pytest.approx(0.0, abs=1e-12)


def test_extreme_magnitudes_clamp(spark):
    df = spark.createDataFrame(
        [(1, 1e300), (2, 1e-300), (3, -1e300)], "id int, v double"
    )
    m = _merged_map(
        merge_sketches(column_sketches(df, ["v"]), quantiles=(0.01, 0.99))
    )
    qs = m["v"]["quantiles"]
    # clamped edge bins keep ORDER (sign/magnitude rank), not magnitude
    assert qs[0] < 0 < qs[1]
    assert math.isfinite(qs[0]) and math.isfinite(qs[1])


def test_checkpointed_stats_resume(spark):
    """Crash after one step; resume; merged stats equal a single-shot
    sketch of the full input — without rescanning completed buckets."""
    clips = clips_df(spark, 1500, seed=3, partitions=4).cache()
    clips.count()
    cols = ["sr_hz", "dur_ms", "codec"]
    with tempfile.TemporaryDirectory() as tmp:
        cv = CheckpointedValidation(spark, f"{tmp}/ckpt", n_buckets=8)
        fn = lambda d: d.withColumn(  # noqa: E731
            "__errors", F.array().cast(
                "array<struct<path:array<string>,message:string>>"
            )
        )
        steps = cv.run(
            clips, fn, buckets_per_step=2, max_steps=1,
            stats_cols=cols, stats_path=f"{tmp}/stats", run_id="r1",
        )
        assert steps == 1
        # partial stats exist for exactly the completed buckets
        partial = spark.read.parquet(f"{tmp}/stats")
        assert partial.select("bucket").distinct().count() == 2
        cv.run(
            clips, fn, buckets_per_step=2,
            stats_cols=cols, stats_path=f"{tmp}/stats", run_id="r2",
        )
        got = _merged_map(
            cv.merged_stats(f"{tmp}/stats", quantiles=(0.5,))
        )
        want = _merged_map(
            merge_sketches(
                column_sketches(clips, cols), quantiles=(0.5,)
            )
        )
        for c in cols:
            for f in ("n_rows", "null_count", "min_value", "max_value",
                      "quantiles"):
                assert got[c][f] == want[c][f], (c, f)
            assert got[c]["distinct_count"] == pytest.approx(
                want[c]["distinct_count"], rel=0.05
            )

        # crash-induced double append: re-adding a sketch row for an
        # already-completed bucket must not double-count
        one = spark.read.parquet(f"{tmp}/stats").filter(
            (F.col("bucket") == 0) & (F.col("column") == "sr_hz")
        )
        one.withColumn("run_id", F.lit("r3")).write.mode("append").parquet(
            f"{tmp}/stats"
        )
        again = _merged_map(cv.merged_stats(f"{tmp}/stats", quantiles=(0.5,)))
        assert again["sr_hz"]["n_rows"] == want["sr_hz"]["n_rows"]


def test_sketch_psi_drift(spark):
    """Cross-run drift from sketch histograms alone: same distribution
    -> tiny PSI; shifted distribution -> large PSI. Input tables are
    never re-read (the PSI plan sees only the sketch rows)."""
    import random

    from voluptuous_spark.checks.sketches import sketch_psi

    random.seed(21)

    def mk(mean):
        rows = [(i, random.gauss(mean, 30.0)) for i in range(4000)]
        return spark.createDataFrame(rows, "id long, x double")

    sk_same_a = column_sketches(mk(200.0), ["x"])
    sk_same_b = column_sketches(mk(200.0), ["x"])
    sk_shift = column_sketches(mk(800.0), ["x"])

    same = {r["column"]: r["psi"]
            for r in sketch_psi(sk_same_a, sk_same_b).collect()}
    shift = {r["column"]: r["psi"]
             for r in sketch_psi(sk_same_a, sk_shift).collect()}
    assert same["x"] < 0.1          # industry "no drift" band
    assert shift["x"] > 0.5         # far past the 0.25 action threshold

    # per-bucket sketch rows (the checkpoint stats layout) fold to the
    # same PSI as whole-table sketches: the explode+sum IS the merge
    g = mk(200.0).withColumn("g", (F.col("id") % 5).cast("int"))
    per_bucket = column_sketches(g, ["x"], group_col="g").drop("g")
    whole = column_sketches(g.drop("g"), ["x"])
    a = sketch_psi(per_bucket, sk_shift).collect()[0]["psi"]
    b = sketch_psi(whole, sk_shift).collect()[0]["psi"]
    assert a == pytest.approx(b, rel=1e-9)


def test_stats_args_must_pair(spark):
    clips = clips_df(spark, 10, seed=0, partitions=1)
    with tempfile.TemporaryDirectory() as tmp:
        cv = CheckpointedValidation(spark, f"{tmp}/c", n_buckets=2)
        with pytest.raises(ValueError):
            cv.run(clips, lambda d: d, stats_cols=["sr_hz"])
