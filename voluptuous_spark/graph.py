"""Distributed connected components + duplicate clustering.

The dedup pipeline (textops) stops at PAIRS: exact fingerprint groups,
MinHash/LSH candidate pairs, SimHash neighbors. Training-data dedup needs
one more step — transitive closure: if A~B and B~C, then {A,B,C} is ONE
duplicate cluster and exactly one member survives. That closure is
connected components on the near-dup candidate graph.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
DataFrame ops — the scale-correct choice:

- converges in O(log n) rounds on any graph (vs O(diameter) for naive
  label propagation — a duplicate CHAIN a~b~c~...~z would take one round
  per link under min-label propagation);
- every round is a groupBy(min) + a co-partitioned join on the SAME key,
  so at 10^12 edges each round is one shuffle of the edge list and the
  join reuses the aggregation's partitioning;
- no collect_list: star centers (which accumulate O(component-size)
  degree by design) are aggregated with `min`, never materialized as an
  in-memory neighbor array — the skew a dedup graph always has (one
  boilerplate string duplicated 10^6 times) stays inside Spark's
  partial-aggregation machinery.

Driver-side iteration with a convergence check is the idiomatic Spark
shape for iterative graph algorithms (GraphFrames does the same); lineage
is cut per round with localCheckpoint, or with reliable
`df.checkpoint()` when `checkpoint_dir=` is passed (fault tolerance for
multi-hour runs on a real cluster).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(df: DataFrame) -> DataFrame:
    """Canonical undirected edge form: (u, v) with u > v, self-loops
    dropped, distinct."""
    return (
        df.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(u): connect every LARGER neighbor of u to the minimum
    of u's neighborhood (including u). One groupBy + one join, both keyed
    on u."""
    sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    m = F.least(F.col("u"), F.col("mv")).alias("m")
    return _canon(
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(u): connect every SMALLER neighbor of u (and u itself)
    to the minimum of those neighbors. Operates directly on the canonical
    u>v orientation."""
    mins = edges.groupBy("u").agg(F.min("v").alias("m"))
    withm = edges.join(mins, "u")
    pairs = withm.select(F.col("v").alias("u"), F.col("m").alias("v")).union(
        mins.select("u", F.col("m").alias("v"))
    )
    return _canon(pairs)


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
    cleanup_superseded: bool = True,
) -> DataFrame:
    """(id, cluster_id) for every node of ``edges``; cluster_id is the
    minimum node id of the component. Nodes with no edges are absent
    (they are their own cluster — callers left-join and coalesce).

    Converges when a large-star + small-star round leaves the edge set
    unchanged (checked via count + order-independent hash sum — one tiny
    aggregate per round, no driver-side edge materialization). The
    fixpoint is a forest of stars centered at each component's minimum.

    ``checkpoint_dir``: when set, per-round lineage cuts use RELIABLE
    ``df.checkpoint()`` into that directory (survives executor loss —
    the right choice for a multi-hour 10^12-edge run); default is
    ``localCheckpoint`` (executor-local blocks, fastest in-sandbox).
    NOTE: this calls ``SparkContext.setCheckpointDir`` ONCE before the
    loop — session-GLOBAL state shared with any other checkpoint user.
    With ``cleanup_superseded=True`` (default) each round's reliable
    checkpoint is DELETED as soon as the next round is materialized
    (storage stays O(edges), not O(rounds x edges)); only the final
    round's files persist, because the returned DataFrame still reads
    them — the caller owns the directory's lifecycle after that.
    Superseded rounds are identified by diffing the checkpoint root's
    ``rdd-*`` listing around each materialization, so the default
    REQUIRES that no other job checkpoints concurrently in this session
    (their dirs would be mis-attributed to this loop and deleted — and
    the global ``setCheckpointDir`` would already be redirecting their
    files here). In a shared session pass
    ``cleanup_superseded=False``: nothing is ever deleted, at the cost
    of O(rounds x edges) checkpoint storage.
    """
    e = _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    sc = edges.sparkSession.sparkContext
    if checkpoint_dir is not None:
        sc.setCheckpointDir(checkpoint_dir)

    def _ckpt_snapshot() -> set:
        # rdd-N dirs under the session's checkpoint root, via Hadoop FS
        # (works on HDFS/S3A on a real cluster, local FS here)
        root = sc._jsc.sc().getCheckpointDir()
        if root.isEmpty():
            return set()
        jvm = sc._jvm
        p = jvm.org.apache.hadoop.fs.Path(root.get())
        fs = p.getFileSystem(sc._jsc.hadoopConfiguration())
        if not fs.exists(p):
            return set()
        return {str(st.getPath()) for st in fs.listStatus(p)}

    def _ckpt_delete(paths: set) -> None:
        jvm = sc._jvm
        for raw in paths:
            p = jvm.org.apache.hadoop.fs.Path(raw)
            p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)

    live_ckpt: set = set()

    def _cut(df: DataFrame) -> DataFrame:
        nonlocal live_ckpt
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        if not cleanup_superseded:
            return df.checkpoint(eager=True)
        before = _ckpt_snapshot()
        out = df.checkpoint(eager=True)  # materialized: input now dead
        stale, live_ckpt = live_ckpt, _ckpt_snapshot() - before
        _ckpt_delete(stale)
        return out

    e = _cut(e)

    def _sig(df: DataFrame):
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal accumulator: a long sum of 64-bit hashes overflows
            # under ANSI mode
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    sig = _sig(e)
    for _ in range(max_iter):
        e2 = _cut(_small_star(_large_star(e)))
        sig2 = _sig(e2)
        e = e2
        if sig2 == sig:
            break
        sig = sig2

    return (
        e.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
        .union(
            e.select(F.col("v").alias("id"), F.col("v").alias("cluster_id"))
        )
        .distinct()
    )


def duplicate_clusters(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Near-dup candidate pairs -> (id, cluster_id, is_canonical): the
    transitive closure of the pair relation, with the minimum id of each
    cluster marked canonical (the member a dedup pass keeps)."""
    cc = connected_components(pairs, src, dst, checkpoint_dir=checkpoint_dir)
    return cc.select(
        "id",
        "cluster_id",
        (F.col("id") == F.col("cluster_id")).alias("is_canonical"),
    )
