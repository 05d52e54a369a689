"""Deterministic split / stratified sampling operators (sampling.py)."""

import duckdb
import pytest
from pyspark.sql import functions as F

from voluptuous_spark.sampling import (
    _hex_threshold,
    split_assign,
    stratified_sample,
    stratified_take,
)

WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(20_000).select(F.col("id").alias("doc_id"))


def test_split_fractions_and_determinism(ids):
    labeled = split_assign(ids, WEIGHTS, salt="s1")
    counts = {r["split"]: r["n"] for r in
              labeled.groupBy("split").agg(F.count("*").alias("n")).collect()}
    n = sum(counts.values())
    assert n == 20_000
    assert abs(counts["train"] / n - 0.8) < 0.02
    assert abs(counts["val"] / n - 0.1) < 0.01
    # same salt -> identical assignment; different salt -> a fresh draw
    again = split_assign(ids, WEIGHTS, salt="s1")
    assert labeled.exceptAll(again).count() == 0
    other = split_assign(ids, WEIGHTS, salt="s2")
    assert labeled.exceptAll(other).count() > 0


def test_split_stable_under_corpus_growth(spark):
    """An id's label depends only on (id, salt): computing splits over
    the first 1k ids or over 20k ids gives the 1k ids the same labels —
    growing the corpus never reassigns a row."""
    small = spark.range(1_000).select(F.col("id").alias("doc_id"))
    big = spark.range(20_000).select(F.col("id").alias("doc_id"))
    s = {r["doc_id"]: r["split"]
         for r in split_assign(small, WEIGHTS, salt="x").collect()}
    b = {r["doc_id"]: r["split"]
         for r in split_assign(big, WEIGHTS, salt="x").collect()}
    assert all(b[k] == v for k, v in s.items())


def test_md5_basis_matches_duckdb(ids):
    """The md5 basis is the ORACLE lane: DuckDB replays every label."""
    got = {r["doc_id"]: r["split"] for r in
           split_assign(ids, WEIGHTS, salt="s1", basis="md5")
           .where(F.col("doc_id") < 500).collect()}
    t1, t2 = _hex_threshold(0.8), _hex_threshold(0.9)
    con = duckdb.connect()
    oracle = con.execute(f"""
        select i, case
          when substr(md5(i::varchar || ':s1'), 1, 15) < '{t1}' then 'train'
          when substr(md5(i::varchar || ':s1'), 1, 15) < '{t2}' then 'val'
          else 'test' end
        from range(500) t(i)
    """).fetchall()
    assert {i: lab for i, lab in oracle} == got


def test_stratified_sample_fractions(spark):
    df = spark.range(30_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
    )
    samp = stratified_sample(
        df, "lang", {"0": 0.5, "1": 0.1}, salt="z"
    )
    counts = {r["lang"]: r["n"] for r in
              samp.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["0"] / 10_000 - 0.5) < 0.03
    assert abs(counts["1"] / 10_000 - 0.1) < 0.02
    assert "2" not in counts  # unlisted stratum -> fraction 0
    # deterministic: the same call returns the same rows
    assert samp.exceptAll(
        stratified_sample(df, "lang", {"0": 0.5, "1": 0.1}, salt="z")
    ).count() == 0


def test_stratified_take_exact_and_nested(spark):
    df = spark.range(9_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("lang"),
    )
    t5 = stratified_take(df, "lang", 5, salt="q")
    t20 = stratified_take(df, "lang", 20, salt="q")
    c5 = {r["lang"]: r["n"] for r in
          t5.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert c5 == {"0": 5, "1": 5, "2": 5}
    assert t20.groupBy("lang").count().where("count != 20").count() == 0
    # nested: take(5) is a subset of take(20) for the same salt
    assert t5.exceptAll(t20.join(t5, ["doc_id", "lang"], "semi")).count() == 0
    assert t5.join(t20, ["doc_id", "lang"], "semi").count() == 15
    # small stratum: takes all of it, no padding
    tiny = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "doc_id long, lang string"
    )
    assert stratified_take(tiny, "lang", 10).count() == 3


def test_stratified_take_md5_matches_duckdb(spark):
    df = spark.range(600).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("lang"),
    )
    got = sorted(r["doc_id"] for r in
                 stratified_take(df, "lang", 7, salt="q", basis="md5")
                 .collect())
    con = duckdb.connect()
    oracle = sorted(i for (i,) in con.execute("""
        with t as (select i, (i % 2)::varchar lang,
                   substr(md5(i::varchar || ':q'), 1, 15) h
                   from range(600) s(i)),
        r as (select i, row_number() over
                (partition by lang order by h, i) rn from t)
        select i from r where rn <= 7
    """).fetchall())
    assert got == oracle


def test_split_report(ids):
    """Per-label fractions of an assignment are ``category_histogram``
    over the label column."""
    from voluptuous_spark.checks.drift import category_histogram

    rep = category_histogram(
        split_assign(ids, WEIGHTS, salt="s1"), "split").collect()
    fr = {r["value"]: r["ratio"] for r in rep}
    assert abs(sum(fr.values()) - 1.0) < 1e-9
    assert fr["train"] > fr["val"]


def test_assignment_rides_the_scan(ids):
    """split_assign and stratified_sample are pure projections/filters:
    no Exchange in either plan (the 100 TB property)."""
    p1 = split_assign(ids, WEIGHTS)._jdf.queryExecution() \
        .executedPlan().toString()
    df = ids.withColumn("lang", (F.col("doc_id") % 3).cast("string"))
    p2 = stratified_sample(df, "lang", 0.25)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in p1
    assert "Exchange" not in p2


def test_rebalance_disjoint_target_raises(spark):
    import pytest as _pytest

    from voluptuous_spark.sampling import rebalance_sources

    df = spark.range(100).select(
        F.col("id").alias("doc_id"), F.lit("web").alias("source")
    )
    with _pytest.raises(ValueError, match="no target source present"):
        rebalance_sources(df, target={"books": 1.0})
