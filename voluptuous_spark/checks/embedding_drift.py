"""Embedding-space drift: did this week's embedding distribution move?

Scalar drift checks (drift.py) can't see a 64-dim column. The signal
here is deterministic and scan-shaped:

- **Projection PSI** — project every vector onto ``n_planes`` fixed
  pseudo-random directions (the same hash-derived SRP plane generator
  the LSH ops use, ``similarity.srp_coef``; a projection is one
  zip_with fold riding the scan) and compare each projection's
  distribution between the two corpora with the existing fixed-bucket
  ``numeric_psi``. Random projections preserve relative geometry
  (Johnson–Lindenstrauss), so a shift in any direction of the embedding
  distribution shows up in some projection's PSI; per-plane rows name
  which.

Each plane is ONE narrow aggregation per input; nothing shuffles
vectors. ``streaming.validate_stream.streaming_embedding_psi`` is the
incremental form of the same bucketing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..similarity import _P, srp_coef
from .drift import numeric_psi


def projection_expr(vec_col, plane: int, dim: int):
    """Dot product of ``vec_col`` with deterministic unit-ish plane
    ``plane`` (components ((a*(j+1)+b) % P)/P - 0.5, the exact SRP
    formula — an external engine replays it from two constants)."""
    a, b = srp_coef(plane)
    comps = [((a * (j + 1) + b) % _P) / _P - 0.5 for j in range(dim)]
    return F.aggregate(
        F.zip_with(
            vec_col,
            F.array(*[F.lit(c) for c in comps]),
            lambda x, c: x * c,
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def embedding_projections(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Input plus ``proj_0..proj_{n-1}`` — pure projection, rides the
    scan."""
    e = df.withColumn(vec_col, F.col(vec_col).cast("array<double>"))
    for p in range(n_planes):
        e = e.withColumn(
            f"proj_{p}", projection_expr(F.col(vec_col), p, dim)
        )
    return e


def embedding_psi(
    ref: DataFrame,
    cur: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_buckets: int = 10,
    vec_col: str = "embedding",
    bound: float | None = None,
) -> DataFrame:
    """(plane, psi, n_categories) — one row per projection direction.
    ``bound``: fixed symmetric bucket range for the projections; default
    sqrt(dim)/2 covers any vector with components in [-1, 1] (a
    projection of such a vector onto a plane with components in
    [-0.5, 0.5] is bounded by dim/2 in the worst case but concentrates
    near ±sqrt(dim)/2; values outside land in width_bucket's overflow
    buckets and still count). Fixed bounds keep the bucketing
    deterministic — no data-dependent min/max job."""
    if bound is None:
        bound = float(dim) ** 0.5 / 2.0
    a = embedding_projections(ref, dim, n_planes, vec_col)
    b = embedding_projections(cur, dim, n_planes, vec_col)
    out = None
    for p in range(n_planes):
        row = numeric_psi(
            a, b, f"proj_{p}", -bound, bound, n_buckets
        ).select(F.lit(p).alias("plane"), "psi", "n_categories")
        out = row if out is None else out.unionByName(row)
    return out
