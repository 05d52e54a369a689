"""Mergeable per-partition column-stats sketches (north rule: resumable
runs "carrying lineage + stats metrics").

``column_stats`` answers "what are the corpus stats?" in one pass; this
module answers the RESUMABLE form of the question: each bucket/partition
emits one narrow SKETCH row per column whose fields all merge
associatively —

  - ``n_rows`` / ``null_count``        merge by SUM
  - ``min_num/max_num/min_str/max_str`` merge by MIN/MAX
  - ``sum1`` / ``sum2`` (moments)       merge by SUM  -> mean / stddev
  - ``hll`` (Datasketches HyperLogLog binary, ``hll_sketch_agg``)
                                        merge by ``hll_union_agg``
                                        -> approx distinct
  - ``hist`` (sign-aware log2 histogram, map<bin,count>)
                                        merge by per-bin SUM
                                        -> approx quantiles with a
                                        RELATIVE error bound

so corpus-level stats over 10^12 rows are the fold of per-bucket sketch
rows (a few KB each) — a crashed run resumes by sketching only the
remaining buckets and re-merging; completed buckets are never re-scanned.
``CheckpointedValidation.run(stats_cols=...)`` appends these rows next
to its checkpoint table and ``merged_stats()`` folds them.

Quantiles from the log histogram: value x lands in bin
sign(x) * (floor(bins_per_octave * log2(|x|)) shifted into a clamped
exponent range); a quantile estimate returns the geometric midpoint of
its bin, so the relative error is bounded by a half-bin:
|est/true - 1| <= 2^(1/(2*bins_per_octave)) - 1 (~4.4% at the default 8
bins/octave), independent of data scale or distribution — the property
that makes a FIXED bin domain mergeable with no re-binning, unlike
equi-width histograms (need the global range up front) or
``percentile_approx`` (accurate but its sketch state is not exposed as
data). Zero occupies its own bin; negatives mirror the positive bins.
Spark's native KLL (``kll_sketch_agg_double``) is not used here: its
compaction is randomized, so four runs over the same cached 20k gaussians
gave four different p99s (337.6 to 343.7, exact 342.2), which breaks the
merge-equals-whole equality that the sketch tests and checkpoint resume
pin.

The histogram pass explodes each row into one (column, bin) entry per
numeric column, then aggregates counts: partial (map-side) aggregation
collapses each task's entries to at most n_cols x n_bins rows before the
shuffle, so the exchange carries ~#bins per column per task regardless
of input size.
"""

from __future__ import annotations

import typing

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# exponent domain: floor(bins_per_octave * log2(|x|)) clamped to
# [-EXP_SPAN*bpo, EXP_SPAN*bpo) — covers |x| in [2^-64, 2^64), i.e.
# ~5e-20 .. 1.8e19; doubles outside clamp to the edge bins
EXP_SPAN = 64

def _is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType) and not isinstance(
        dt, T.DecimalType
    ) or isinstance(dt, T.DecimalType)


def log_bin_expr(col, bins_per_octave: int = 8):
    """Sign-aware log2 bin id for a double column: 0 for zero, positive
    ids for x>0, mirrored negative ids for x<0; null for null. The bin
    domain is FIXED (no data-dependent boundaries), which is what makes
    per-partition histograms mergeable by plain per-bin count sums."""
    lo = -EXP_SPAN * bins_per_octave
    hi = EXP_SPAN * bins_per_octave - 1
    x = col.cast("double")
    e = F.greatest(
        F.lit(lo),
        F.least(
            F.lit(hi),
            F.floor(F.lit(bins_per_octave) * F.log2(F.abs(x))).cast("int"),
        ),
    )
    mag = (e - F.lit(lo) + F.lit(1)).cast("int")
    return (
        F.when(x.isNull() | F.isnan(x), F.lit(None).cast("int"))
        .when(x == 0, F.lit(0))
        .when(x > 0, mag)
        .otherwise(-mag)
    )


def column_sketches(
    df: DataFrame,
    cols: typing.Sequence[str] | None = None,
    group_col: str | None = None,
    lg_k: int = 12,
    bins_per_octave: int = 8,
) -> DataFrame:
    """One mergeable sketch row per (group,) column — see module
    docstring for the field-by-field merge law. Two aggregations over
    the input (both map-side partial, narrow shuffles): the wide
    stats+HLL agg, and the exploded (column, bin) histogram count.

    ``group_col``: emit per-group sketch rows (e.g. the checkpoint
    bucket column) instead of one global row — the per-partition form
    the north rule's resumable stats need."""
    cols = list(cols or df.columns)
    by_name = {f.name: f.dataType for f in df.schema.fields}
    keys = [group_col] if group_col else []
    num_cols = [c for c in cols if _is_numeric(by_name[c])]

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        x = F.col(c)
        aggs.append(F.sum(x.isNull().cast("long")).alias(f"__nc_{c}"))
        aggs.append(F.min(x).cast("string").alias(f"__mns_{c}"))
        aggs.append(F.max(x).cast("string").alias(f"__mxs_{c}"))
        if c in num_cols:
            # NaN excluded everywhere (it sorts above every double in
            # Spark min/max and poisons sums), matching the histogram
            d = x.cast("double")
            d = F.when(F.isnan(d), F.lit(None).cast("double")).otherwise(d)
            aggs.append(F.min(d).alias(f"__mn_{c}"))
            aggs.append(F.max(d).alias(f"__mx_{c}"))
            aggs.append(F.sum(d).alias(f"__s1_{c}"))
            aggs.append(F.sum(d * d).alias(f"__s2_{c}"))
        # HLL over the string rendering: one sketch type for every
        # column type (hll_sketch_agg accepts int/long/string/binary
        # only); nulls are skipped by the sketch itself
        aggs.append(
            F.hll_sketch_agg(x.cast("string"), F.lit(lg_k)).alias(f"__h_{c}")
        )
    wide = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    structs = []
    for c in cols:
        is_num = c in num_cols
        structs.append(F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            F.col(f"__nc_{c}").alias("null_count"),
            (F.col(f"__mn_{c}") if is_num
             else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"__mx_{c}") if is_num
             else F.lit(None).cast("double")).alias("max_num"),
            (F.col(f"__s1_{c}") if is_num
             else F.lit(None).cast("double")).alias("sum1"),
            (F.col(f"__s2_{c}") if is_num
             else F.lit(None).cast("double")).alias("sum2"),
            F.col(f"__mns_{c}").alias("min_str"),
            F.col(f"__mxs_{c}").alias("max_str"),
            F.col(f"__h_{c}").alias("hll"),
        ))
    base = wide.select(
        *keys, F.explode(F.array(*structs)).alias("s")
    ).select(*keys, "s.*")

    if num_cols:
        ent = F.array(*[
            F.struct(
                F.lit(c).alias("column"),
                log_bin_expr(F.col(c), bins_per_octave).alias("bin"),
            )
            for c in num_cols
        ])
        hist = (
            df.select(*keys, F.explode(ent).alias("e"))
            .select(*keys, "e.column", "e.bin")
            .filter(F.col("bin").isNotNull())
            .groupBy(*keys, "column", "bin")
            .agg(F.count(F.lit(1)).alias("cnt"))
            # bounded fan-in: <= 2*EXP_SPAN*bins_per_octave+1 bins/column
            .groupBy(*keys, "column")
            .agg(
                F.map_from_entries(
                    F.sort_array(F.collect_list(F.struct("bin", "cnt")))
                ).alias("hist")
            )
        )
        base = base.join(hist, [*keys, "column"], "left")
    else:
        base = base.withColumn("hist", F.lit(None).cast("map<int,long>"))
    return base


def merge_sketches(
    sketches: DataFrame,
    quantiles: typing.Sequence[float] = (),
    bins_per_octave: int = 8,
) -> DataFrame:
    """Fold sketch rows (any number of groups/runs) into one final stats
    row per column: (column, n_rows, null_count, null_rate,
    distinct_count, min_value, max_value, mean, stddev[, quantiles]).
    Every field folds associatively, so this is one narrow reduce over
    rows that are already tiny — the input table never reappears."""
    merged = sketches.groupBy("column").agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("null_count").alias("null_count"),
        F.min("min_num").alias("min_num"),
        F.max("max_num").alias("max_num"),
        F.sum("sum1").alias("sum1"),
        F.sum("sum2").alias("sum2"),
        F.min("min_str").alias("min_str"),
        F.max("max_str").alias("max_str"),
        F.hll_sketch_estimate(
            F.hll_union_agg("hll", F.lit(True))
        ).alias("distinct_count"),
    )
    # histogram merge = per-(column, bin) count SUM — explode the maps
    # into narrow rows and aggregate (map-side partial; fan-in bounded
    # by #bins per column), then re-pack per column
    hist_merged = (
        sketches.select(
            "column", F.explode(F.map_entries("hist")).alias("e")
        )
        .groupBy("column", F.col("e.key").alias("bin"))
        .agg(F.sum("e.value").alias("cnt"))
        .groupBy("column")
        .agg(
            F.map_from_entries(
                F.sort_array(F.collect_list(F.struct("bin", "cnt")))
            ).alias("hist")
        )
    )
    merged = merged.join(hist_merged, "column", "left")
    n_valid = F.col("n_rows") - F.col("null_count")
    mean = F.when(n_valid > 0, F.col("sum1") / n_valid)
    var = F.when(
        n_valid > 0, F.col("sum2") / n_valid - mean * mean
    )
    out = merged.select(
        "column",
        "n_rows",
        "null_count",
        F.when(
            F.col("n_rows") > 0, F.col("null_count") / F.col("n_rows")
        ).otherwise(F.lit(0.0)).alias("null_rate"),
        "distinct_count",
        F.coalesce(F.col("min_num").cast("string"), "min_str")
        .alias("min_value"),
        F.coalesce(F.col("max_num").cast("string"), "max_str")
        .alias("max_value"),
        mean.alias("mean"),
        F.when(
            var.isNotNull(), F.sqrt(F.greatest(var, F.lit(0.0)))
        ).alias("stddev"),
        "hist",
    )
    if quantiles:
        out = out.withColumn(
            "quantiles",
            F.when(
                F.col("hist").isNotNull(),
                F.array(*[
                    _hist_quantile_expr(
                        F.col("hist"), p, bins_per_octave
                    )
                    for p in quantiles
                ]),
            ),
        )
    return out.drop("hist")


def sketch_psi(
    sketches_a: DataFrame,
    sketches_b: DataFrame,
    coarsen: int = 8,
) -> DataFrame:
    """Population Stability Index per numeric column between two SKETCH
    tables (e.g. two checkpointed runs' ``stats_path`` outputs, or last
    week's merged sketches vs today's): drift is computed from the
    log-histogram maps alone — neither input table is ever re-read, so
    cross-run drift costs KBs of sketch rows regardless of corpus size.
    The fixed bin domain is what makes the two histograms directly
    comparable (no re-binning against a shared sample).

    ``coarsen`` merges each run of ``coarsen`` adjacent log bins into
    one PSI bucket (default 8 = one bucket per octave per sign at the
    default bins_per_octave) — PSI over hundreds of fine bins inflates
    sampling noise; octave buckets match the 10-20-bucket practice.
    Returns one row per column: (column, psi, n_bins)."""
    from pyspark.sql import Window

    def _bins(sk, name):
        return (
            sk.select(
                "column", F.explode(F.map_entries("hist")).alias("e")
            )
            .select(
                "column",
                F.floor(F.col("e.key") / F.lit(coarsen)).cast("int")
                .alias("bin"),
                F.col("e.value").alias(name),
            )
            .groupBy("column", "bin")
            .agg(F.sum(name).alias(name))
        )

    eps = 1e-6
    j = (
        _bins(sketches_a, "cnt_a")
        .join(_bins(sketches_b, "cnt_b"), ["column", "bin"], "full_outer")
        .fillna(0, subset=["cnt_a", "cnt_b"])
    )
    w = Window.partitionBy("column")
    ra = F.greatest(F.col("cnt_a") / F.sum("cnt_a").over(w), F.lit(eps))
    rb = F.greatest(F.col("cnt_b") / F.sum("cnt_b").over(w), F.lit(eps))
    return (
        j.withColumn("__t", (ra - rb) * F.log(ra / rb))
        .groupBy("column")
        .agg(
            F.sum("__t").alias("psi"),
            F.count(F.lit(1)).alias("n_bins"),
        )
    )


def _hist_quantile_expr(hist, p: float, bins_per_octave: int):
    """Quantile estimate from a merged log-histogram map: walk bins in
    ascending id order (== ascending value order by construction) until
    the cumulative count covers rank ceil(p * n); return the bin's
    geometric midpoint. Pure Column fold over <= ~1000 entries."""
    entries = F.sort_array(F.map_entries(hist))
    total = F.aggregate(
        entries, F.lit(0).cast("long"), lambda a, e: a + e["value"]
    )
    target = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.lit(p) * total).cast("long"),
    )
    lo = -EXP_SPAN * bins_per_octave
    # fold state: (cum, found_bin) — first bin whose cum >= target wins
    picked = F.aggregate(
        entries,
        F.struct(
            F.lit(0).cast("long").alias("cum"),
            F.lit(None).cast("int").alias("bin"),
        ),
        lambda st, e: F.struct(
            (st["cum"] + e["value"]).alias("cum"),
            F.coalesce(
                st["bin"],
                F.when(st["cum"] + e["value"] >= target, e["key"]),
            ).alias("bin"),
        ),
    )["bin"]
    mag = F.abs(picked) - 1 + F.lit(lo)
    val = F.pow(
        F.lit(2.0), (mag.cast("double") + 0.5) / F.lit(bins_per_octave)
    )
    return (
        F.when(picked.isNull(), F.lit(None).cast("double"))
        .when(picked == 0, F.lit(0.0))
        .when(picked > 0, val)
        .otherwise(-val)
    )
