"""Token-budget sequence packing for LLM training batches.

Training consumes fixed-length token windows; feeding one short
document per window wastes the tail. Packing concatenates documents
into ~``budget``-token packs. The exact first-fit-decreasing bin
packing is inherently sequential, so the distributed form used here is
**bucketed streaming fill**: spread documents over ``n_buckets``
independent lanes by a salted hash, order each lane deterministically
(hash order — effectively random, which keeps packs topic-mixed), and
cut a new pack whenever the running token total passes the budget.
Each lane packs in parallel; a pack never spans lanes.

Guarantees:
- deterministic (id+salt hash order; no RNG, no partition dependence),
- every document lands in exactly one pack,
- a pack's pre-overflow total is < budget and each pack overflows at
  most once (the straddling document stays whole — truncation/splitting
  is the trainer's decision, not the packer's),
- waste (unused budget) only where a lane runs dry.

Shape: ONE shuffle (the per-lane ordering window). Lane count trades
parallelism against packing efficiency: more lanes = more part-full
final packs (one per lane) but window state stays per-lane. The
default derives n_buckets from ``sc.defaultParallelism * 4`` so the
lane count tracks the cluster; pin it for reproducible pack ids.

Oracle: the whole construction is a SQL window function chain (md5
basis) — DuckDB replays pack ids byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _unit_hex, _unit_long


def pack_assign(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    salt: str = "",
    basis: str = "hashed",
    out_prefix: str = "pack",
) -> DataFrame:
    """Assign (``pack_bucket``, ``pack_id``, ``pack_pos``): documents
    with the same (bucket, id) pair concatenate in ``pack_pos`` order
    into one training window. ``pack_id`` = floor(exclusive running
    token sum / budget) within the bucket — a new pack starts at the
    first document whose predecessors fill the budget.

    ``n_buckets`` defaults to ``sc.defaultParallelism * 4`` — each
    lane's running sum is ONE task, so the lane count must track the
    cluster, not a constant (a hard-coded 32 caps a 1000-executor run
    at 32 tasks). Pin it explicitly for reproducible pack ids across
    differently-sized clusters (the oracle-replayed query does)."""
    if budget <= 0:
        raise ValueError("budget must be positive")
    if n_buckets is None:
        n_buckets = df.sparkSession.sparkContext.defaultParallelism * 4
    h = (_unit_hex(F.col(id_col), salt) if basis == "md5"
         else _unit_long(F.col(id_col), salt))
    # 60-bit mask, not abs(): abs(Long.MIN_VALUE) stays negative
    # (non-ANSI) or throws (ANSI) — the same convention as _unit_long
    bucket = (
        F.xxhash64(F.col(id_col).cast("string"), F.lit(salt + "#b"))
        .bitwiseAND(F.lit((1 << 60) - 1))
        % n_buckets
        if basis != "md5"
        else (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col(id_col).cast("string"),
                            F.lit(":" + salt + "#b"),
                        )
                    ),
                    1, 8,
                ),
                16, 10,
            ).cast("long")
            % n_buckets
        )
    )
    b = df.withColumn(f"{out_prefix}_bucket", bucket.cast("int"))
    w = Window.partitionBy(f"{out_prefix}_bucket").orderBy(h, F.col(id_col))
    prev = F.coalesce(
        F.sum(F.col(token_col)).over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return (
        b.withColumn(
            f"{out_prefix}_id", F.floor(prev / budget).cast("int")
        )
        .withColumn(f"{out_prefix}_pos", F.row_number().over(w))
    )
