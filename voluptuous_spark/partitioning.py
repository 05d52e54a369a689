"""Deterministic range bucketing for ``textops._dense_ranks``.

``repartitionByRange`` draws its range bounds from a reservoir sample
taken PER JOB — two jobs over the same frame can disagree on which
partition a row lands in, so a caller that pairs a per-partition
offsets job with a consuming job (the dense-rank dictionary) had to
``.cache()`` the repartitioned frame for bound consistency. Nothing
ever unpersisted that cache: in a long-lived session (the bench runs
the whole suite in one) cached corpus-scale partitions accumulate
until eviction pressure — at 10^12 rows, a cluster-memory incident.

This module replaces the sampled bounds with DETERMINISTIC ones: a
hash-ordered top-k sample (map-side top-k + driver merge — no full
sort, no shuffle of the corpus) collected once to the driver, cut at
even quantiles, and re-applied as a pure literal Column expression.
Every job computes the same bucket for the same row from literals, so
there is nothing to cache and nothing to leak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_range_bounds(
    df: DataFrame, col: str, buckets: int, sample_rows: int | None = None
) -> list:
    """Sorted, distinct cut points (at most ``buckets - 1``) for
    ``col``, from the ``sample_rows`` (default ``buckets * 128``) rows
    with the LOWEST xxhash64(col) — a deterministic uniform sample of
    the distinct values. Plans as TakeOrderedAndProject: each task
    keeps its local top-k, the driver merges — the corpus itself never
    shuffles for the sample."""
    if sample_rows is None:
        sample_rows = buckets * 128
    rows = (
        df.select(F.col(col).alias("v"))
        .where(F.col("v").isNotNull())
        .orderBy(F.xxhash64(F.col("v").cast("string")), F.col("v"))
        .limit(sample_rows)
        .collect()
    )
    vals = sorted(r["v"] for r in rows)
    if not vals:
        return []
    bounds, seen = [], set()
    for i in range(1, buckets):
        v = vals[min(i * len(vals) // buckets, len(vals) - 1)]
        if v not in seen:
            seen.add(v)
            bounds.append(v)
    return bounds


def range_pid_expr(col, bounds: list):
    """Monotone bucket id from literal cut points:
    pid = count of bounds strictly below ``col`` (0..len(bounds)), so
    bucket i holds values in (bounds[i-1], bounds[i]] and ascending pid
    = ascending value range — per-bucket local order + per-bucket
    offsets reconstructs the global order, the property dense ranks
    need. NULLs land in bucket 0 (they sort first, matching the window's
    default null ordering)."""
    if not bounds:
        return F.lit(0)
    e = None
    for b in bounds:
        t = (col > F.lit(b)).cast("int")
        e = t if e is None else e + t
    return F.coalesce(e, F.lit(0))
