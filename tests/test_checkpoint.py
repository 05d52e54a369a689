"""Checkpoint/resume: kill mid-run, resume, verify lineage."""

import tempfile

from pyspark.sql import functions as F

from voluptuous_spark import ALLOW_EXTRA, In, Range, Schema
from voluptuous_spark.checkpoint import CheckpointedValidation
from voluptuous_spark.datasynth import clips_df

SCHEMA = Schema(
    {"sr_hz": In([8000, 16000, 22050, 44100, 48000]),
     "dur_ms": Range(min=1, max=600000)},
    extra=ALLOW_EXTRA,
)


def _fn(d):
    return SCHEMA.validate(d, id_cols=["clip_id"]).annotated


def test_checkpoint_resume(spark):
    clips = clips_df(spark, 2000, seed=1, partitions=4).cache()
    clips.count()
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        cv = CheckpointedValidation(spark, path, n_buckets=16)
        assert len(cv.pending_buckets()) == 16

        # simulate interruption: only 1 step of 4 buckets
        steps = cv.run(clips, _fn, buckets_per_step=4, max_steps=1)
        assert steps == 1
        assert len(cv.completed_buckets()) == 4
        assert len(cv.pending_buckets()) == 12

        # resume completes the rest, skipping finished buckets
        steps = cv.run(clips, _fn, buckets_per_step=4)
        assert steps == 3
        assert cv.pending_buckets() == []

        rep = cv.report()
        total = rep.agg(F.sum("n_rows").alias("n")).collect()[0]["n"]
        assert total == 2000
        # rerun is a no-op
        assert cv.run(clips, _fn) == 0

        # lineage: unchanged input -> no stale buckets
        assert cv.verify_lineage(clips).count() == 0
        # changed input -> stale buckets detected
        changed = clips.withColumn(
            "clip_id",
            F.when(F.col("dur_ms") > 100, F.concat(F.col("clip_id"), F.lit("x")))
            .otherwise(F.col("clip_id")),
        )
        assert cv.verify_lineage(changed).count() > 0


def test_checkpoint_read_failure_is_not_an_empty_checkpoint(spark):
    """Only a missing checkpoint path means "nothing done": a checkpoint
    that exists but cannot be read must fail the run, not revalidate the
    finished buckets and append their rows a second time."""
    import os

    import pytest

    clips = clips_df(spark, 400, seed=2, partitions=2)
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/ckpt"
        cv = CheckpointedValidation(spark, path, n_buckets=8)
        assert cv.completed_buckets() == set()  # missing path: empty
        assert cv.run(clips, _fn, buckets_per_step=4, max_steps=1) == 1
        n_rows = cv.report().count()
        assert n_rows == 4

        # inject a read failure: an unreadable file in the checkpoint
        with open(os.path.join(path, "part-corrupt.parquet"), "wb") as f:
            f.write(b"not a parquet file")
        with pytest.raises(Exception):
            cv.completed_buckets()
        with pytest.raises(Exception):
            cv.run(clips, _fn, buckets_per_step=4)

        os.remove(os.path.join(path, "part-corrupt.parquet"))
        assert cv.report().count() == n_rows  # nothing appended twice
        assert len(cv.completed_buckets()) == 4


def test_wall_ms_covers_the_step_and_labels_its_jobs(spark):
    """``wall_ms`` is stamped after the step's work has run: a filter
    through a sleeping Python UDF (which column pruning cannot drop) must
    show up in it. The step's jobs run under ``checkpoint:<phase>``
    descriptions, and the caller's description is restored after."""
    import time

    nap_s, n = 0.3, 4

    def slow(_):
        time.sleep(nap_s)
        return True

    slow_udf = F.udf(slow, "boolean")

    def fn(d):
        # one partition, so the naps run one after another
        return _fn(d.coalesce(1).filter(slow_udf("clip_id")))

    clips = clips_df(spark, n, seed=3, partitions=1)
    sc = spark.sparkContext
    sc.setJobDescription("caller")
    try:
        with tempfile.TemporaryDirectory() as tmp:
            cv = CheckpointedValidation(spark, f"{tmp}/ckpt", n_buckets=2)
            assert cv.run(clips, fn, buckets_per_step=2) == 1
            assert sc.getLocalProperty("spark.job.description") == "caller"
            rows = cv.report().collect()
    finally:
        sc.setJobDescription(None)
    assert sorted(r["bucket"] for r in rows) == [0, 1]
    assert sum(r["n_rows"] for r in rows) == n
    assert all(r["wall_ms"] >= nap_s * n * 1000 for r in rows)
