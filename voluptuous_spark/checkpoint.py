"""Per-partition checkpoint / resume with lineage + metrics (north rule).

The input is bucketed by a deterministic hash of the key
(``pmod(crc32(clip_id), n_buckets)``) — the sandbox analog of Iceberg
partition specs; on a real Iceberg table the bucket column is the
partition transform. Partition pruning makes resume I/O proportional to
*remaining* work ONLY when the bucket is a PHYSICAL partition column:
pass ``staging_path`` to ``run`` (or call ``stage`` once) to
materialize the input ``partitionBy(__bucket)``, after which every
step's scan carries a ``PartitionFilters`` entry and reads only the
chunk's directories (plan proof in tests/test_plans.py). Without
staging, the bucket is a computed column and each step re-scans the
full table — fine at sandbox scale, wrong at 10^12 rows (a 64-bucket /
8-per-step run would read the table 8 times).

Each completed step appends one row per bucket to the checkpoint table:
  (bucket, n_rows, passed, failed, violation_count,
   input_fingerprint, wall_ms, completed_at, run_id)
``input_fingerprint`` = sum of crc32(clip_id) within the bucket — cheap
lineage: a resume can detect that a bucket's input changed since the
checkpoint row was written (fingerprint mismatch -> revalidate).

Resume = anti-join pending buckets against completed checkpoint rows
(read once at startup; the completed set is tiny — one row per bucket).
Parquet directory appends are atomic per step (Spark's file commit
protocol), so a killed run never records a half-finished step.
"""

from __future__ import annotations

import time
import typing

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CHECKPOINT_DDL = (
    "bucket int, n_rows long, passed long, failed long, "
    "violation_count long, input_fingerprint long, wall_ms long, "
    "completed_at string, run_id string"
)


def bucket_col(key: str = "clip_id", n_buckets: int = 64):
    return F.pmod(F.crc32(F.col(key).cast("string")), F.lit(n_buckets)).cast(
        "int"
    )


class CheckpointedValidation:
    """Resumable bucket-at-a-time validation driver."""

    def __init__(
        self,
        spark: SparkSession,
        checkpoint_path: str,
        n_buckets: int = 64,
        key: str = "clip_id",
        bucket_expr=None,
        fingerprint_expr=None,
    ):
        """``bucket_expr`` / ``fingerprint_expr``: optional Column
        overrides for the partitioning hash and the per-bucket lineage
        fingerprint (defaults: crc32-based). Override with plain
        arithmetic (``pmod(key, n)`` / ``sum(key)``) when an external
        oracle must replay the bucketing."""
        self.spark = spark
        self.path = checkpoint_path
        self.n_buckets = n_buckets
        self.key = key
        self._bucket_expr = bucket_expr
        self._fp_expr = fingerprint_expr

    def _bucket(self):
        if self._bucket_expr is not None:
            return self._bucket_expr
        return bucket_col(self.key, self.n_buckets)

    def _fp(self):
        if self._fp_expr is not None:
            return self._fp_expr
        return F.crc32(F.col(self.key).cast("string"))

    def stage(self, df: DataFrame, staging_path: str) -> None:
        """Materialize ``df`` physically partitioned by the bucket
        column — one full write, after which every validation step is a
        partition-pruned scan (the Iceberg analog: a bucket partition
        transform in the table spec makes this step a no-op). Idempotent
        via Spark's commit protocol: a killed staging write leaves no
        ``_SUCCESS`` marker and is redone from scratch on resume."""
        (
            df.withColumn("__bucket", self._bucket())
            .write.mode("overwrite")
            .partitionBy("__bucket")
            .parquet(staging_path)
        )

    def _exists(self, path: str) -> bool:
        """Existence check through the Hadoop FileSystem API — a
        driver-local ``os.path.exists`` is always False for hdfs:///
        s3a:// URIs, which would re-stage (full-table rewrite) and
        revalidate everything on every run of a cluster deployment,
        inverting the resume-I/O guarantee."""
        sc = self.spark.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(path)
        return bool(p.getFileSystem(sc._jsc.hadoopConfiguration()).exists(p))

    def _staged(self, staging_path: str) -> bool:
        """Commit-marker check for a finished staging write."""
        return self._exists(staging_path + "/_SUCCESS")

    def _bucketed_input(
        self, df: DataFrame | None, staging_path: str | None
    ) -> DataFrame:
        """The per-step scan source: the bucket-partitioned staging
        layout when ``staging_path`` is given (staged on first use;
        ``__bucket`` is then a partition DIRECTORY column and chunk
        filters prune at the file listing), else ``df`` with the bucket
        as a computed column (every step scans the full input)."""
        if staging_path is None:
            return df.withColumn("__bucket", self._bucket())
        if not self._staged(staging_path):
            self.stage(df, staging_path)
        return self.spark.read.parquet(staging_path)

    def completed_buckets(self) -> set[int]:
        """Buckets with a checkpoint row. Only a missing checkpoint path
        means nothing is done; any other read error propagates, because
        treating it as "nothing done" would revalidate finished buckets
        and append their checkpoint rows a second time."""
        if not self._exists(self.path):
            return set()
        rows = (
            self.spark.read.schema(CHECKPOINT_DDL)
            .parquet(self.path)
            .select("bucket")
            .distinct()
            .collect()
        )
        return {r["bucket"] for r in rows}

    def pending_buckets(self) -> list[int]:
        done = self.completed_buckets()
        return [b for b in range(self.n_buckets) if b not in done]

    def run(
        self,
        df: DataFrame,
        validate_fn: typing.Callable[[DataFrame], DataFrame],
        buckets_per_step: int = 8,
        max_steps: int | None = None,
        run_id: str = "run",
        staging_path: str | None = None,
        stats_cols: typing.Sequence[str] | None = None,
        stats_path: str | None = None,
    ) -> int:
        """Process pending buckets in steps; ``validate_fn`` maps a
        bucketed subset to an annotated DataFrame with an ``__errors``
        array column (e.g. ``lambda d: schema.validate(d).annotated``).
        Returns the number of steps executed. Safe to kill and re-invoke:
        completed buckets are skipped on resume.

        ``staging_path``: materialize the input ``partitionBy(__bucket)``
        there first (skipped if already staged — including by a previous
        crashed run), so each step reads ONLY its chunk's partition
        directories instead of re-scanning the full input per step.

        ``stats_cols`` + ``stats_path``: the north rule's "checkpoints
        carrying stats metrics" — each step ALSO appends one mergeable
        sketch row per (bucket, column) (counts/min/max/moments + HLL
        distinct + log-histogram quantiles, ``checks.sketches``) to
        ``stats_path``, riding the same partition-pruned chunk scan.
        ``merged_stats`` then folds the sketch rows into corpus-level
        column stats WITHOUT rescanning any completed bucket — resume
        cost stays proportional to remaining work even for the stats.
        A crash between the stats append and the checkpoint append makes
        the bucket revalidate on resume and append a second sketch row;
        ``merged_stats`` keeps one row per (bucket, column), and both
        candidates are identical anyway (same input — lineage would
        flag it otherwise), so the double-append is harmless."""
        if (stats_cols is None) != (stats_path is None):
            raise ValueError(
                "stats_cols and stats_path must be passed together"
            )
        bdf = self._bucketed_input(df, staging_path)
        pending = self.pending_buckets()
        # each action runs under the job description checkpoint:<phase>;
        # the caller's description is restored after
        sc = self.spark.sparkContext
        prev_desc = sc.getLocalProperty("spark.job.description")
        steps = 0
        try:
            for start in range(0, len(pending), buckets_per_step):
                if max_steps is not None and steps >= max_steps:
                    break
                chunk = pending[start : start + buckets_per_step]
                t0 = time.time()
                subset = bdf.filter(F.col("__bucket").isin(chunk))
                if stats_cols is not None:
                    sc.setJobDescription("checkpoint:stats")
                    self._append_stats(subset, stats_cols, stats_path,
                                       run_id)
                annotated = validate_fn(subset.drop("__bucket")).withColumn(
                    "__bucket", self._bucket()
                )
                ok = (F.size("__errors") == 0).cast("long")
                sc.setJobDescription("checkpoint:validate")
                summary = {
                    r[0]: tuple(r[1:])
                    for r in annotated.groupBy("__bucket").agg(
                        F.count(F.lit(1)),
                        F.sum(ok),
                        F.sum(1 - ok),
                        F.sum(F.size("__errors")),
                        F.sum(self._fp()),
                    ).collect()
                }
                # stamped after the collect: wall_ms covers the sketch
                # append and the validation pass
                wall_ms = int((time.time() - t0) * 1000)
                completed_at = time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                             time.gmtime())
                # buckets with zero rows get a row too, so they count as
                # completed; at most buckets_per_step rows, written from
                # the driver
                rows = [
                    (b, *summary.get(b, (0, 0, 0, 0, 0)), wall_ms,
                     completed_at, run_id)
                    for b in chunk
                ]
                sc.setJobDescription("checkpoint:write")
                self.spark.createDataFrame(rows, CHECKPOINT_DDL).write.mode(
                    "append").parquet(self.path)
                steps += 1
        finally:
            sc.setJobDescription(prev_desc)
        return steps

    def _append_stats(
        self,
        subset: DataFrame,
        stats_cols: typing.Sequence[str],
        stats_path: str,
        run_id: str,
    ) -> None:
        from .checks.sketches import column_sketches

        sk = column_sketches(
            subset, cols=list(stats_cols), group_col="__bucket"
        ).select(
            F.col("__bucket").alias("bucket"),
            "column", "n_rows", "null_count", "min_num", "max_num",
            "sum1", "sum2", "min_str", "max_str", "hll", "hist",
            F.lit(run_id).alias("run_id"),
            F.lit(
                time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
            ).alias("completed_at"),
        )
        sk.write.mode("append").parquet(stats_path)

    def latest_sketches(self, stats_path: str) -> DataFrame:
        """The sketch table with exactly one row per (bucket, column) —
        latest append wins, so a crash-induced double-append cannot
        double-count a bucket. Feed this to ``merge_sketches`` or to
        ``sketch_psi`` (cross-run drift from sketch histograms alone)."""
        from pyspark.sql import Window

        sk = self.spark.read.parquet(stats_path)
        w = Window.partitionBy("bucket", "column").orderBy(
            F.desc("completed_at"), F.desc("run_id")
        )
        return (
            sk.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "bucket", "run_id", "completed_at")
        )

    def merged_stats(
        self,
        stats_path: str,
        quantiles: typing.Sequence[float] = (),
    ) -> DataFrame:
        """Corpus-level column stats folded from the per-bucket sketch
        rows ``run(stats_cols=...)`` appended — reads ONLY the (tiny)
        sketch table, never the input."""
        from .checks.sketches import merge_sketches

        return merge_sketches(
            self.latest_sketches(stats_path), quantiles=quantiles
        )

    def report(self) -> DataFrame:
        return self.spark.read.schema(CHECKPOINT_DDL).parquet(self.path)

    def verify_lineage(self, df: DataFrame) -> DataFrame:
        """Buckets whose current input fingerprint differs from the
        checkpointed one (data changed since validation -> stale)."""
        cur = (
            df.withColumn("__bucket", self._bucket())
            .groupBy("__bucket")
            .agg(F.sum(self._fp()).alias("current_fingerprint"))
        )
        return (
            self.report()
            .join(cur, F.col("bucket") == F.col("__bucket"), "inner")
            .filter(
                F.col("current_fingerprint") != F.col("input_fingerprint")
            )
            .select("bucket", "input_fingerprint", "current_fingerprint")
        )
