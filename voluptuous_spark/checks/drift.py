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
  job while the plan is built. Ratios and totals come from one global
  aggregate over the already-aggregated (tiny) tables, so each check
  runs when an action finally forces it, and several checks can be
  submitted concurrently from threads. No unpartitioned window: Spark
  warns on each, and a collect_list into one row carries the same
  single-task total.
- PSI and KS build their Column trees once per session and column
  (``session.session_memo``); each call then only applies them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import session_memo

EPS = 1e-6


def category_histogram(df: DataFrame, col: str) -> DataFrame:
    """(value, count, ratio) — one hash agg, then one single-row
    aggregate over the (n_categories-row) result for the total; no
    separate count job."""
    return (
        df.groupBy(F.col(col).alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .agg(F.collect_list(F.struct("value", "count")).alias("xs"),
             F.sum("count").alias("n"))
        .select(F.inline("xs"), "n")
        .select("value", "count", (F.col("count") / F.col("n")).alias("ratio"))
    )


def _psi_columns(col: str):
    """Column lists of ``psi_report``: each side's tagged select, the
    per-category sums and the single-row fold."""
    def side(tag, ca, cb):
        v = F.col(col)
        # a NULL category stays one row per side, as it was when the two
        # histograms were joined on value (NULL never joins)
        return [v.alias("value"),
                F.when(v.isNull(), F.lit(tag)).alias("null_side"),
                F.lit(ca).alias("ca"), F.lit(cb).alias("cb")]

    per_value = [F.sum("ca").alias("ca"), F.sum("cb").alias("cb")]
    fold = [F.collect_list(F.struct("ca", "cb")).alias("xs"),
            F.sum("ca").alias("na"), F.sum("cb").alias("nb")]
    na, nb = F.col("na"), F.col("nb")

    def share(c, n):
        # ratio floored at EPS; an empty side has share 0 everywhere
        return F.greatest(
            F.coalesce(F.when(n > 0, c / n), F.lit(0.0)), F.lit(EPS))

    def step(acc, x):
        pa, pb = share(x["ca"], na), share(x["cb"], nb)
        return acc + (pa - pb) * F.log(pa / pb)

    xs = F.col("xs")
    out = [
        F.when(F.size(xs) > 0, F.aggregate(xs, F.lit(0.0), step))
        .alias("psi"),
        F.size(xs).cast("long").alias("n_categories"),
    ]
    return side("a", 1, 0), side("b", 0, 1), per_value, fold, out


def psi_report(df_a: DataFrame, df_b: DataFrame, col: str) -> DataFrame:
    """Population Stability Index between two categorical distributions.

    PSI = sum over categories of (pa - pb) * ln(pa / pb), with ratios
    floored at EPS for categories absent on one side. Single row:
    (psi, n_categories); psi is NULL when both sides are empty.

    One lazy plan, as ``ks_statistic``: the sides are tagged and unioned,
    one ``groupBy`` gives per-category counts of both (one hash-agg
    shuffle), and one global aggregate folds them with the side totals.
    """
    side_a, side_b, per_value, fold, out = session_memo(
        df_a.sparkSession, ("psi_report", col), lambda: _psi_columns(col))
    return (
        df_a.select(*side_a).unionAll(df_b.select(*side_b))
        .groupBy("value", "null_side").agg(*per_value)
        .agg(*fold)
        .select(*out)
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


def _ks_columns(col: str):
    """Column lists of ``ks_statistic``: each side's tagged select, the
    per-value sums, the sorting aggregate and the fold."""
    def side(ca, cb):
        return [F.col(col).cast("double").alias("v"),
                F.lit(ca).alias("ca"), F.lit(cb).alias("cb")]

    per_value = [F.sum("ca").alias("ca"), F.sum("cb").alias("cb")]
    fold = [
        F.array_sort(F.collect_list(F.struct("v", "ca", "cb"))).alias("xs"),
        F.sum("ca").alias("na"),
        F.sum("cb").alias("nb"),
    ]
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
    out = (F.when((na > 0) & (nb > 0), F.aggregate("xs", start, step)["d"])
           .alias("ks_stat"))
    return side(1, 0), side(0, 1), F.col("v").isNotNull(), per_value, fold, out


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
    side_a, side_b, non_null, per_value, fold, out = session_memo(
        df_a.sparkSession, ("ks_statistic", col), lambda: _ks_columns(col))
    return (
        df_a.select(*side_a).filter(non_null)
        .unionAll(df_b.select(*side_b).filter(non_null))
        .groupBy("v").agg(*per_value)
        .agg(*fold)
        .select(out)
    )
