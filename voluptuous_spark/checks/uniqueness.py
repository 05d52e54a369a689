"""Table-level uniqueness (north star: clip_id over 10^12 rows).

The reference's ``Unique`` (validators.py:959-1000) checks ONE iterable
cell; at table scale uniqueness is a hash aggregation on the key — one
shuffle, map-side partial counts, AQE-coalesced reducers. No window
function (a global window would sort; hash-agg doesn't).
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import session_memo


def duplicate_keys(df: DataFrame, keys: typing.Sequence[str]) -> DataFrame:
    """Keys appearing more than once: (key..., dup_count).

    Violation message mirrors the reference's
    'contains duplicate items: [...]' (validators.py:996).
    """
    keys = list(keys)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_report(df: DataFrame, keys: typing.Sequence[str]) -> DataFrame:
    """Single-row summary: n_rows, n_distinct, n_dup_keys, n_dup_rows.

    Computed from one groupBy (re-aggregated counts), not two scans. The
    Columns are built once per session and key list
    (``session.session_memo``).
    """
    keys = tuple(keys)
    key_cols, per_key, summary = session_memo(
        df.sparkSession, ("uniqueness_report", keys),
        lambda: _uniqueness_columns(keys))
    return df.groupBy(*key_cols).agg(per_key).agg(*summary)


def _uniqueness_columns(keys):
    cnt = F.col("cnt")
    return (
        [F.col(k) for k in keys],
        F.count(F.lit(1)).alias("cnt"),
        [
            F.sum(cnt).alias("n_rows"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum((cnt > 1).cast("long")).alias("n_dup_keys"),
            F.sum(F.when(cnt > 1, cnt).otherwise(0)).alias("n_dup_rows"),
        ],
    )
