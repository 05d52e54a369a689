"""Boilerplate-line removal, source rebalancing, sequence packing."""

import duckdb
import pytest
from pyspark.sql import functions as F

from pyspark.sql import Window

from voluptuous_spark.packing import pack_assign
from voluptuous_spark.sampling import rebalance_sources, stratified_take
from voluptuous_spark.textops import _line_hash_frequency, remove_boilerplate

BP = "COOKIE BANNER: accept all"
NAV = "home | about | contact"


@pytest.fixture(scope="module")
def pages(spark):
    rows = [
        (0, "a", f"{BP}\nunique zero\n{NAV}"),
        (1, "a", f"{BP}\nunique one"),
        (2, "a", f"{BP}\n{NAV}\nunique two\nunique two b"),
        (3, "a", f"{BP}\n{NAV}"),  # all boilerplate
        (4, "b", f"{BP}\nother-source unique"),  # BP rare in source b
        (5, "b", "plain document\nsecond line"),
    ]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_line_doc_frequency(pages):
    """Per-source document frequency of each line, keyed by the line
    hash that ``remove_boilerplate`` joins on."""
    spark = pages.sparkSession
    lines = [BP, NAV, "unique zero"]
    h = dict(zip(lines, spark.range(1).select(
        *[F.xxhash64(F.lit(x)) for x in lines]).first()))
    by_hash = {
        (r["source"], r["__lh"]): r["df_docs"]
        for r in _line_hash_frequency(pages, "text", "doc_id", "source")
        .collect()
    }
    dfreq = {(s, x): by_hash.get((s, h[x])) for s in "ab" for x in lines}
    assert dfreq[("a", BP)] == 4
    assert dfreq[("a", NAV)] == 3
    assert dfreq[("b", BP)] == 1
    assert dfreq[("a", "unique zero")] == 1


def test_remove_boilerplate_per_source(pages):
    out = {r["doc_id"]: r for r in
           remove_boilerplate(pages, min_docs=3).collect()}
    assert out[0]["text"] == "unique zero"
    assert out[0]["lines_removed"] == 2
    assert out[1]["text"] == "unique one"
    assert out[2]["text"] == "unique two\nunique two b"  # order kept
    assert out[3]["text"] == "" and out[3]["lines_removed"] == 2
    # source b never crossed min_docs: its BP copy survives
    assert out[4]["text"] == f"{BP}\nother-source unique"
    assert out[5]["lines_removed"] == 0
    assert set(out[0].asDict()) == {
        "doc_id", "source", "text", "lines_removed"
    }


def test_remove_boilerplate_min_frac(pages):
    # min_frac=0.8: BP hits 4/4 docs of source a, NAV only 3/4 (0.75)
    out = {r["doc_id"]: r["text"] for r in
           remove_boilerplate(pages, min_frac=0.8).collect()}
    assert out[3] == NAV  # NAV stays, BP removed
    assert out[0] == f"unique zero\n{NAV}"


def test_remove_boilerplate_min_frac_keeps_small_sources(spark):
    """A line seen in one document does not repeat: a one-document
    source keeps its text under ``min_frac``, while a three-document
    source still loses its banner."""
    rows = [(0, "tiny", "TINY BANNER\nlonely line")] + [
        (k, "big", f"BIG BANNER\nunique {k}") for k in (1, 2, 3)
    ]
    pages = spark.createDataFrame(
        rows, "doc_id long, source string, text string")
    out = {r["doc_id"]: (r["text"], r["lines_removed"]) for r in
           remove_boilerplate(pages, min_frac=0.5).collect()}
    assert out[0] == ("TINY BANNER\nlonely line", 0)
    assert {k: out[k] for k in (1, 2, 3)} == {
        k: (f"unique {k}", 1) for k in (1, 2, 3)}


def test_remove_boilerplate_duckdb_oracle(pages):
    """The whole pipeline replays in SQL: per-source line DF, flag,
    filter, ordered string_agg."""
    got = {r["doc_id"]: (r["text"], r["lines_removed"]) for r in
           remove_boilerplate(pages, min_docs=3).collect()}
    con = duckdb.connect()
    con.register("pages_pd", pages.toPandas())
    oracle = con.execute("""
        with lines as (
          select doc_id, source, s.x['pos'] as pos,
                 trim(s.x['line']) as line
          from pages_pd,
               lateral unnest(list_transform(
                 string_split(text, chr(10)),
                 (l, i) -> {'line': l, 'pos': i})) as s(x)
          where trim(s.x['line']) <> ''
        ),
        dfreq as (
          select source, line, count(distinct doc_id) df_docs
          from lines group by 1, 2
        ),
        flagged as (
          select l.*, (d.df_docs >= 3) as bp
          from lines l join dfreq d using (source, line)
        )
        select p.doc_id,
               coalesce(string_agg(case when not f.bp then f.line end,
                        chr(10) order by f.pos), '') as text,
               coalesce(sum(case when f.bp then 1 else 0 end), 0) as rem
        from pages_pd p left join flagged f using (doc_id)
        group by p.doc_id
    """).fetchall()
    assert {i: (t, int(r)) for i, t, r in oracle} == got


def test_rebalance_uniform(spark):
    # 3 sources with 600/300/100 rows -> uniform target keeps the
    # smallest whole and downsamples the others to ~100 each
    rows = [(i, "big" if i < 600 else ("mid" if i < 900 else "small"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = rebalance_sources(df, salt="r")
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts["small"] == 100  # binding source kept whole
    assert abs(counts["big"] - 100) <= 25
    assert abs(counts["mid"] - 100) <= 20
    # deterministic
    assert out.exceptAll(rebalance_sources(df, salt="r")).count() == 0


def test_rebalance_target_shares(spark):
    rows = [(i, "a" if i < 800 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = rebalance_sources(df, target={"a": 3.0, "b": 1.0}, salt="t")
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # binding source: b (200/0.25=800 < 800/0.75=1067) kept whole;
    # a downsampled to ~600 for a 3:1 mix
    assert counts["b"] == 200
    assert abs(counts["a"] - 600) <= 40
    # a source with target share 0 is dropped
    out2 = rebalance_sources(df, target={"a": 1.0}, salt="t")
    assert out2.where(F.col("source") == "b").count() == 0


def test_pack_assign_invariants(spark):
    df = spark.range(2_000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 700 + 50).alias("n_tokens"),
    )
    packed = pack_assign(df, budget=2048, n_buckets=8, salt="p")
    # every doc in exactly one pack
    assert packed.count() == 2_000
    # per pack: token total and the tokens of its last document
    w = Window.partitionBy("pack_bucket", "pack_id").orderBy(
        F.desc("pack_pos"))
    packs = packed.withColumn("__last", F.row_number().over(w)).groupBy(
        "pack_bucket", "pack_id").agg(
        F.sum("n_tokens").alias("tokens"),
        F.max(F.when(F.col("__last") == 1, F.col("n_tokens")))
        .alias("last_tokens"),
    ).collect()
    # pre-overflow total < budget: total - last doc's tokens < budget
    for r in packs:
        assert r["tokens"] - r["last_tokens"] < 2048, r
    # lanes fill well past the tails: budget used, overflow clipped
    used = sum(min(r["tokens"], 2048) for r in packs)
    assert used / (len(packs) * 2048) > 0.85


def test_pack_md5_matches_duckdb(spark):
    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 90 + 10).alias("n_tokens"),
    )
    got = {
        r["doc_id"]: (r["pack_bucket"], r["pack_id"], r["pack_pos"])
        for r in pack_assign(
            df, budget=256, n_buckets=4, salt="q", basis="md5"
        ).collect()
    }
    con = duckdb.connect()
    oracle = con.execute("""
        with t as (
          select i as doc_id, i % 90 + 10 as n_tokens,
                 cast(('0x' || substr(md5(i::varchar || ':q#b'), 1, 8))
                      as bigint) % 4 as b,
                 substr(md5(i::varchar || ':q'), 1, 15) as h
          from range(300) s(i)
        ),
        w as (
          select doc_id, b,
                 coalesce(sum(n_tokens) over
                   (partition by b order by h, doc_id
                    rows between unbounded preceding and 1 preceding), 0)
                   as prev,
                 row_number() over
                   (partition by b order by h, doc_id) as pos
          from t
        )
        select doc_id, b, cast(floor(prev / 256) as int), pos from w
    """).fetchall()
    assert {i: (b, p, pos) for i, b, p, pos in oracle} == got


def test_cap_per_domain(spark):
    """A per-domain volume cap is ``stratified_take`` on the domain."""
    df = spark.range(1_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 900, "megasite.com")
        .otherwise("small.org").alias("source"),
    )
    capped = stratified_take(df, "source", 50, salt="c")
    counts = {r["source"]: r["n"] for r in
              capped.groupBy("source").agg(F.count("*").alias("n"))
              .collect()}
    assert counts["megasite.com"] == 50  # mega-site capped
    assert counts["small.org"] == 50
    # deterministic
    assert capped.exceptAll(
        stratified_take(df, "source", 50, salt="c")).count() == 0


def test_pack_assign_default_lanes_track_parallelism(spark):
    df = spark.range(2_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 300 + 1).alias("n_tokens")
    )
    packed = pack_assign(df, budget=2048, salt="dp")
    n_lanes = packed.select("pack_bucket").distinct().count()
    expected = spark.sparkContext.defaultParallelism * 4
    # every derived lane index is in range and most lanes are populated
    assert packed.agg(F.max("pack_bucket")).collect()[0][0] < expected
    assert packed.agg(F.min("pack_bucket")).collect()[0][0] >= 0
    assert n_lanes > expected // 2
