"""Per-column statistics in ONE aggregation pass.

North-star requirement: null rate, min/max, approx-distinct (HyperLogLog),
quantile sketches. All k columns x m measures are computed in a single
``agg`` (one scan + one reduce stage, map-side partial aggregation), the
analog of the reference's "one evaluation per key" linearity guarantee
(tests.py:1201-1243): k checks never mean k scans.
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import session_memo


def column_stats(
    df: DataFrame,
    cols: typing.Sequence[str] | None = None,
    exact_distinct: bool = False,
    quantiles: typing.Sequence[float] = (),
) -> DataFrame:
    """One row per column: (column, n_rows, null_count, null_rate,
    distinct_count, min_value, max_value [, q_* quantiles for numerics]).

    ``exact_distinct=False`` (default) uses approx_count_distinct (HLL,
    constant memory — the only sane choice at 10^12 rows);
    ``exact_distinct=True`` is for oracle comparison at test scale.
    min/max are cast to string so heterogeneous columns stack into one
    result table. The Column lists are built once per session and
    arguments (``session.session_memo``).
    """
    cols = tuple(cols or df.columns)
    quantiles = tuple(quantiles)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    numeric = tuple(
        bool(quantiles) and isinstance(by_name[c], T.NumericType)
        for c in cols
    )
    aggs, dist, out = session_memo(
        df.sparkSession,
        ("column_stats", cols, exact_distinct, quantiles, numeric),
        lambda: _stats_columns(cols, exact_distinct, quantiles, numeric),
    )
    wide = df.agg(*aggs)
    if exact_distinct:
        # exact multi-column COUNT(DISTINCT) mixed into the same agg forces
        # an Expand plan that multiplies every row by (n_cols + 1) through
        # the partial aggregate (measured 4-8x slower than two passes).
        # Separate single-row aggs + crossJoin keep both passes narrow.
        wide = wide.crossJoin(df.agg(*dist))
    return wide.select(out).select("s.*")


def _stats_columns(cols, exact_distinct, quantiles, numeric):
    """(aggregates, exact-distinct aggregates, exploded row Column) of
    ``column_stats``; ``numeric[i]`` says whether ``cols[i]`` gets
    quantiles."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c, num in zip(cols, numeric):
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nc_{c}"))
        if not exact_distinct:
            # HLL is an ordinary partial aggregate: mixes freely with the
            # other aggs in ONE pass — the only sane choice at 10^12 rows
            aggs.append(F.approx_count_distinct(F.col(c)).alias(f"__d_{c}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{c}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{c}"))
        if num:
            aggs.append(
                F.percentile_approx(
                    F.col(c).cast("double"), list(quantiles), 10000
                ).alias(f"__q_{c}")
            )
    dist = [F.count_distinct(F.col(c)).alias(f"__d_{c}")
            for c in cols] if exact_distinct else []

    rows = []
    for c, num in zip(cols, numeric):
        fields = [
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nc_{c}").alias("null_count"),
            (F.col(f"__nc_{c}") / F.col("__n")).alias("null_rate"),
            F.col(f"__d_{c}").alias("distinct_count"),
            F.col(f"__min_{c}").alias("min_value"),
            F.col(f"__max_{c}").alias("max_value"),
        ]
        if quantiles:
            if num:
                fields.append(F.col(f"__q_{c}").alias("quantiles"))
            else:
                fields.append(
                    F.lit(None).cast("array<double>").alias("quantiles")
                )
        rows.append(F.struct(*fields))
    return aggs, dist, F.explode(F.array(*rows)).alias("s")
