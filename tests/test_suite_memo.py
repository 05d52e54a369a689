"""A warm ``run_suite`` reuses what the session already built: the
compiled schema (no new ``_compiled_cache`` entry), the generated classes
(no Janino compile) and the Column trees (one memo per session)."""

import pytest

from voluptuous_spark import suite
from voluptuous_spark.audio import pcm_check_expr
from voluptuous_spark.datasynth import clips_df, transcripts_df
from voluptuous_spark.suite import run_suite

N = 400


@pytest.fixture(scope="module")
def inputs(spark):
    return (clips_df(spark, N, seed=3, partitions=2),
            transcripts_df(spark, N, seed=3, partitions=2))


def _op(clips, transcripts):
    res = run_suite(clips, transcripts)
    try:
        return res.violations.count(), res.counts()
    finally:
        res.unpersist()


def _assert_same(got, want):
    """Equal, up to float summation order in PSI and KS."""
    assert got[0] == want[0]
    assert got[1] == pytest.approx(want[1], rel=1e-12)


def test_second_run_suite_hits_the_schema_memo(inputs):
    run_suite(*inputs, persist=False)
    size = len(suite.CLIPS_SCHEMA._compiled_cache)
    run_suite(*inputs, persist=False)
    assert len(suite.CLIPS_SCHEMA._compiled_cache) == size


def test_warm_suite_compiles_no_class(spark, inputs):
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    first = _op(*inputs)
    before = compiles.getCount()
    _assert_same(_op(*inputs), first)
    assert compiles.getCount() - before == 0


def test_pcm_check_expr_once_per_session(spark):
    assert pcm_check_expr() is pcm_check_expr()
    assert pcm_check_expr("audio") is not pcm_check_expr()


def test_new_session_gets_its_own_memo(spark, inputs, tmp_path):
    clips, transcripts = inputs
    clips.write.parquet(str(tmp_path / "clips"))
    transcripts.write.parquet(str(tmp_path / "transcripts"))

    def read(session):
        return (session.read.parquet(str(tmp_path / "clips")),
                session.read.parquet(str(tmp_path / "transcripts")))

    other = spark.newSession()
    _assert_same(_op(*read(other)), _op(*read(spark)))
