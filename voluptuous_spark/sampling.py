"""Deterministic splitting / sampling for training-data curation.

A 100 TB corpus needs train/val/test assignment and per-stratum
sampling that is (a) deterministic — re-running the job, or running it
on a grown corpus, never flips an already-assigned id; (b) shuffle-free
where possible — assignment must ride the scan, not reshuffle 100 TB.

Everything keys off a salted content hash of the id column mapped into
the unit interval:

- ``basis='hashed'`` (production): ``xxhash64(id, salt)`` masked to 60
  bits — one JVM expression, zero extra cost.
- ``basis='md5'`` (oracle): the first 15 hex chars of
  ``md5(id || ':' || salt)`` compared LEXICOGRAPHICALLY against hex
  thresholds — md5 is identical in every engine and string comparison
  sidesteps hex->int conversions, so DuckDB replays assignments
  byte-for-byte (the ranked-vs-hashed convention from textops).

Operators:

- ``split_assign``        weighted train/val/test labels — pure
  projection, no shuffle, stable under corpus growth (filter on the
  label for one split; ``checks.drift.category_histogram`` counts them).
- ``stratified_sample``   per-stratum hash-threshold sampling (exact
  expected fraction, zero shuffles — the scale path).
- ``stratified_take``     EXACT n rows per stratum via a window over
  the stratum partition — one shuffle on the strata key; a mega-stratum
  flows through one task (documented skew trade; use the fraction form
  at scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SIXTY_BITS = 1 << 60


def _unit_hex(col, salt: str):
    """15-hex-char (60-bit) md5 prefix of 'value:salt' — uniform over
    [0, 16^15), ordered lexicographically = ordered numerically."""
    return F.substring(
        F.md5(F.concat(col.cast("string"), F.lit(":" + salt))), 1, 15
    )


def _unit_long(col, salt: str):
    """60-bit non-negative xxhash64 of (value, salt) — production basis."""
    return F.xxhash64(col.cast("string"), F.lit(salt)).bitwiseAND(
        F.lit(_SIXTY_BITS - 1)
    )


def _hex_threshold(fraction: float) -> str:
    """fraction in [0,1] -> zero-padded 15-hex-digit cut point; the md5
    prefix is < this for exactly that share of the hash space."""
    return format(min(int(fraction * (16 ** 15)), 16 ** 15 - 1), "015x")


def split_assign(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "",
    basis: str = "hashed",
    out_col: str = "split",
) -> DataFrame:
    """Add a deterministic split label drawn from ``weights`` (need not
    sum to 1; they are normalized). Each id's label depends only on
    (id, salt): growing the corpus or changing cluster size never
    reassigns a row, and a different ``salt`` draws fresh splits."""
    if not weights:
        raise ValueError("weights must be a non-empty {label: weight} dict")
    total = float(sum(weights.values()))
    if total <= 0:
        raise ValueError("weights must sum to a positive number")
    cum = 0.0
    label = None
    if basis == "md5":
        h = _unit_hex(F.col(id_col), salt)
        for name, w in list(weights.items())[:-1]:
            cum += w / total
            cond = h < F.lit(_hex_threshold(cum))
            label = (F.when(cond, name) if label is None
                     else label.when(cond, name))
    else:
        h = _unit_long(F.col(id_col), salt)
        for name, w in list(weights.items())[:-1]:
            cum += w / total
            cond = h < F.lit(int(cum * _SIXTY_BITS))
            label = (F.when(cond, name) if label is None
                     else label.when(cond, name))
    last = list(weights)[-1]
    label = F.lit(last) if label is None else label.otherwise(last)
    return df.withColumn(out_col, label)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions,
    id_col: str = "doc_id",
    salt: str = "",
    basis: str = "hashed",
) -> DataFrame:
    """Hash-threshold sample per stratum: ``fractions`` is a single
    float or a {stratum_value: fraction} dict (unlisted strata keep
    fraction 0). Expected-fraction exact, deterministic, ZERO shuffles —
    this is the form that survives 100 TB. Unlike
    ``DataFrame.sampleBy`` the draw is reproducible across runs,
    engines, and partitionings (no RNG seed-per-partition dependence)."""
    if basis == "md5":
        h = _unit_hex(F.col(id_col), salt)
        if isinstance(fractions, dict):
            thr = None
            for sv, fr in fractions.items():
                cond = F.col(strata_col) == sv
                t = F.lit(_hex_threshold(fr))
                thr = F.when(cond, t) if thr is None else thr.when(cond, t)
            thr = thr.otherwise(F.lit(_hex_threshold(0.0)))
        else:
            thr = F.lit(_hex_threshold(float(fractions)))
        return df.where(h < thr)
    h = _unit_long(F.col(id_col), salt)
    if isinstance(fractions, dict):
        thr = None
        for sv, fr in fractions.items():
            cond = F.col(strata_col) == sv
            t = F.lit(int(float(fr) * _SIXTY_BITS))
            thr = F.when(cond, t) if thr is None else thr.when(cond, t)
        thr = thr.otherwise(F.lit(0))
    else:
        thr = F.lit(int(float(fractions) * _SIXTY_BITS))
    return df.where(h < thr)


def stratified_take(
    df: DataFrame,
    strata_col: str,
    n: int,
    id_col: str = "doc_id",
    salt: str = "",
    basis: str = "hashed",
) -> DataFrame:
    """EXACTLY min(n, |stratum|) rows per stratum — the rows whose hash
    ranks lowest inside the stratum, so the taken set is deterministic
    and NESTED (take(5) ⊂ take(10) for the same salt). One shuffle on
    ``strata_col``; each stratum is ranked inside one task — for
    heavy-hitter strata use ``stratified_sample`` (shuffle-free) or
    pre-filter. Ties (hash collisions) break on the id itself."""
    h = (_unit_hex(F.col(id_col), salt) if basis == "md5"
         else _unit_long(F.col(id_col), salt))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n)
        .drop("__rn")
    )


def rebalance_sources(
    df: DataFrame,
    source_col: str = "source",
    target=None,
    id_col: str = "doc_id",
    salt: str = "",
    basis: str = "hashed",
    source_counts: dict | None = None,
) -> DataFrame:
    """Downsample so the OUTPUT's source distribution matches
    ``target`` shares ({source: share}, normalized; default uniform
    over observed sources) while keeping as many rows as possible:
    the binding source — the one with the smallest count/share ratio —
    is kept whole and every other source is hash-thresholded down to
    proportion. Deterministic — the kept set
    is a fixed function of (id, salt) — and one narrow aggregate (the
    per-source counts, #sources rows to the driver) plus a
    shuffle-free filtered scan; pass ``source_counts`` from table
    stats to skip the count job. Sources absent from a non-None
    ``target`` are dropped (share 0)."""
    if source_counts is None:
        source_counts = {
            r[source_col]: r["n"]
            for r in df.groupBy(source_col)
            .agg(F.count("*").alias("n")).collect()
        }
    if not source_counts:
        return df.where(F.lit(False))
    if target is None:
        target = {s: 1.0 for s in source_counts}
    tot = float(sum(target.values()))
    if tot <= 0:
        raise ValueError("target shares must sum to a positive number")
    shares = {s: w / tot for s, w in target.items() if w > 0}
    present = {s for s in shares if s in source_counts}
    if not present:
        # a typo'd target would otherwise surface as a bare
        # "min() arg is an empty sequence" — name the mismatch instead
        raise ValueError(
            "no target source present in the corpus: target names "
            f"{sorted(shares)} but observed sources are "
            f"{sorted(source_counts)}"
        )
    # scale = output size that keeps the binding source whole
    scale = min(
        source_counts[s] / share
        for s, share in shares.items() if s in source_counts
    )
    fractions = {
        s: min(1.0, scale * share / source_counts[s])
        for s, share in shares.items() if s in source_counts
    }
    return stratified_sample(
        df, source_col, fractions, id_col=id_col, salt=salt, basis=basis
    )
