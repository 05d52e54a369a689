"""Distribution-drift checks: PSI and KS (north star: dur_ms, sr_hz,
codec histograms).

Scale strategy:
- Histograms are hash aggregations (one narrow shuffle). The ``codec``
  column is intentionally skewed (85% 'wav', FIXTURES.md F1) — a plain
  groupBy('codec') puts 85% of partial counts on one reducer key, but
  because partial (map-side) aggregation reduces each task's output to
  <= n_categories rows BEFORE the shuffle, the reducer receives only
  n_tasks x n_categories tiny rows: low-cardinality skew is absorbed by
  partial agg, no salting needed for counts. Salting matters for
  high-cardinality skewed JOINS, not for counting; the referential join
  path relies on AQE skew-join splitting instead.
- Exact KS needs cumulative counts over *distinct values*: one groupBy
  over the tagged union of both sides, then one global aggregate folds
  the sorted (|distinct values|-row) table in a single task, so its
  memory is bounded by value cardinality, not by row count.
- Everything here is LAZY — no driver-side .count()/.collect(), no Spark
  job while the plan is built. Ratios and totals come from windows or
  aggregates over the already-aggregated (tiny) tables, so each check
  runs when an action finally forces it, and several checks can be
  submitted concurrently from threads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EPS = 1e-6

def _ALL():
    """Unpartitioned window, used ONLY over post-aggregation tables whose
    row count is bounded by category/value cardinality (n_categories or
    |distinct values| rows — kilobytes). Spark logs ``WindowExec: No
    Partition Defined ... can cause serious performance degradation`` for
    every use; over these tiny aggregated tables the warning is benign by
    construction. If this ever appears over a NON-aggregated input, that
    is a real regression — every caller below feeds it a groupBy output.
    Needs an active session, so built lazily."""
    return Window.partitionBy()


def category_histogram(df: DataFrame, col: str) -> DataFrame:
    """(value, count, ratio) — one hash agg; ratio via a window over the
    aggregated (n_categories-row) table, no separate count job."""
    return (
        df.groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn("ratio", F.col("count") / F.sum("count").over(_ALL()))
    )


def psi_report(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Population Stability Index between two categorical distributions.

    PSI = sum over categories of (pa - pb) * ln(pa / pb), with ratios
    floored at EPS for categories absent on one side. Single row:
    (psi, n_categories).
    """
    ha = category_histogram(df_a, col).select(
        "value", F.col("ratio").alias("ratio_a")
    )
    hb = category_histogram(df_b, col).select(
        "value", F.col("ratio").alias("ratio_b")
    )
    joined = ha.join(hb, on="value", how="full_outer").select(
        "value",
        F.greatest(F.coalesce("ratio_a", F.lit(0.0)), F.lit(EPS)).alias("pa"),
        F.greatest(F.coalesce("ratio_b", F.lit(0.0)), F.lit(EPS)).alias("pb"),
    )
    return joined.agg(
        F.sum((F.col("pa") - F.col("pb")) * F.log(F.col("pa") / F.col("pb"))).alias(
            "psi"
        ),
        F.count(F.lit(1)).alias("n_categories"),
    )


def numeric_psi(
    df_a: DataFrame, df_b: DataFrame, col: str, min_v: float, max_v: float,
    n_buckets: int = 10,
) -> DataFrame:
    """PSI over fixed-width buckets of a numeric column. Explicit
    [min_v, max_v) bounds keep the bucketing deterministic across engines
    and across runs (no data-dependent bounds)."""
    def bucketed(df):
        b = F.width_bucket(
            F.col(col).cast("double"), F.lit(float(min_v)), F.lit(float(max_v)),
            F.lit(n_buckets),
        )
        return df.filter(F.col(col).isNotNull()).select(b.alias("value"))

    return psi_report(bucketed(df_a), bucketed(df_b), "value")


def ks_statistic(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic, single row
    (ks_stat); NULL when either side has no non-NULL value.

    One lazy plan, no Spark job at build time: the two sides are tagged
    ``(v, 1, 0)`` / ``(v, 0, 1)`` and unioned, one ``groupBy(v)`` gives
    the distinct-value table ``(v, ca, cb)`` (one hash-agg shuffle), and
    one global aggregate sorts it into an array and folds it with integer
    running counts, keeping max |a/na - b/nb| (one single-task stage).

    Cost bound: the fold's task holds the whole sorted distinct-value
    array, so its memory grows with the number of distinct values of
    ``col`` (a few hundred for ``dur_ms``; 583k for sf0.1
    ``l_extendedprice`` still folds in seconds), not with the row count.
    """
    def side(df, ca, cb):
        return df.select(
            F.col(col).cast("double").alias("v"),
            F.lit(ca).alias("ca"), F.lit(cb).alias("cb"),
        ).filter(F.col("v").isNotNull())

    tbl = side(df_a, 1, 0).unionAll(side(df_b, 0, 1)).groupBy("v").agg(
        F.sum("ca").alias("ca"), F.sum("cb").alias("cb")
    ).agg(
        F.array_sort(F.collect_list(F.struct("v", "ca", "cb"))).alias("xs"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    )
    na, nb = F.col("na"), F.col("nb")

    def step(acc, x):
        a, b = acc["a"] + x["ca"], acc["b"] + x["cb"]
        return F.struct(
            a.alias("a"), b.alias("b"),
            F.greatest(acc["d"], F.abs(a / na - b / nb)).alias("d"),
        )

    start = F.struct(
        F.lit(0).cast("long").alias("a"), F.lit(0).cast("long").alias("b"),
        F.lit(0.0).alias("d"),
    )
    return tbl.select(
        F.when((na > 0) & (nb > 0), F.aggregate("xs", start, step)["d"])
        .alias("ks_stat")
    )
