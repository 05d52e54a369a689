"""Dedup / similarity / text-analysis operators."""

import pytest
from pyspark.sql import functions as F

from voluptuous_spark.similarity import (
    brute_force_topk,
    cosine_near_duplicates,
    lsh_topk,
)
from voluptuous_spark.textops import (
    _dense_ranks,
    language_id,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    quality_score,
    shingle_ranks,
    simhash,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "der hund ist nicht ein katze und der vogel"),
        (4, "le chat est une belle creature et le chien"),
        (5, "completely different words entirely unrelated text here"),
        (6, "  the QUICK   brown fox jumps over the lazy dog "),  # norm dup
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs, tmp_path):
    """Exact dedup is the ``doc_profile`` query's inline columns: the md5
    of the normalized text, grouped by a window."""
    import sys
    from pathlib import Path

    root = str(Path(__file__).resolve().parents[1])
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__

    docs.write.parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in
            __spark_entry__._doc_profile(docs.sparkSession, str(tmp_path))
            .collect()}
    # 0, 1 and whitespace/case-normalized 6 form the one duplicate group
    group = {i for i, r in rows.items() if r["dup_count"] > 1}
    assert group == {0, 1, 6}
    assert {rows[i]["dup_count"] for i in group} == {3}
    assert {rows[i]["canonical_id"] for i in group} == {0}
    assert len({rows[i]["fingerprint"] for i in group}) == 1
    assert all(r["canonical_id"] == i for i, r in rows.items()
               if i not in group)


def test_jaccard_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert pairs[(0, 6)] == 1.0
    assert (0, 2) in pairs  # one-word change, high overlap
    assert (0, 5) not in pairs


def test_minhash_candidates_superset_of_real_dups(docs):
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs).collect()
    }
    assert (0, 1) in cands
    assert (0, 6) in cands


def test_simhash_similarity(docs):
    h = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert h[0] == h[1] == h[6]  # identical normalized text
    ham_near = bin(h[0] ^ h[2]).count("1")
    ham_far = bin(h[0] ^ h[5]).count("1")
    assert ham_near <= ham_far


def test_language_id(docs):
    langs = {r["doc_id"]: r["detected_lang"] for r in language_id(docs).collect()}
    assert langs[0] == "en"
    assert langs[3] == "de"
    assert langs[4] == "fr"


def test_token_count_and_quality(docs):
    t = {r["doc_id"]: r["n_tokens"] for r in token_count(docs).collect()}
    assert t[0] == 9
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    assert q[0] > 0.5


def test_quality_repetition_signals(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "spam spam spam spam"),
        (2, ""),
        (3, "hello"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in quality_score(df, repetition=True).collect()
    }
    # doc 0: 9 tokens, 'the' twice -> 8 distinct; 8 bigrams all distinct
    assert out[0]["dup_word_ratio"] == round(1 - 8 / 9, 6)
    assert out[0]["dup_bigram_ratio"] == 0.0
    assert out[0]["top_word_ratio"] == round(2 / 9, 6)
    # doc 1: 4 identical tokens; 3 identical bigrams
    assert out[1]["dup_word_ratio"] == 0.75
    assert out[1]["dup_bigram_ratio"] == round(1 - 1 / 3, 6)
    assert out[1]["top_word_ratio"] == 1.0
    # empty doc: every signal 0
    assert out[2]["dup_word_ratio"] == 0.0
    assert out[2]["dup_bigram_ratio"] == 0.0
    assert out[2]["top_word_ratio"] == 0.0
    # single token: no bigrams, the one token is its own mode
    assert out[3]["dup_word_ratio"] == 0.0
    assert out[3]["dup_bigram_ratio"] == 0.0
    assert out[3]["top_word_ratio"] == 1.0
    # default stays schema-stable (no repetition columns)
    assert "dup_word_ratio" not in quality_score(df).columns


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    rows = []
    for i in range(50):
        v = rng.normal(0, 1, 8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    # 50 = near-copy of 0
    base = np.array(rows[0][1])
    near = base + rng.normal(0, 0.01, 8)
    rows.append((50, [float(x) for x in near / np.linalg.norm(near)]))
    return rows[0][1], spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_brute_force_topk(spark, vectors):
    _, emb = vectors
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(emb, queries, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 0 and top[0]["score"] == 1.0
    assert top[1]["vec_id"] == 50  # the injected near-copy
    assert top[1]["score"] > 0.99


def test_lsh_topk_finds_near_copy(spark, vectors):
    _, emb = vectors
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = lsh_topk(emb, queries, dim=8, k=3, n_bits=4).orderBy("rank").collect()
    ids = [r["vec_id"] for r in top]
    assert 0 in ids and 50 in ids  # near-identical vectors share buckets


def test_ivf_topk_finds_near_copy(spark, vectors):
    from voluptuous_spark.similarity import ivf_centroids, ivf_topk

    _, emb = vectors
    queries = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = ivf_topk(
        emb, queries, dim=8, k=3, n_clusters=4, n_probe=2, iters=2
    ).orderBy("rank").collect()
    # the query's own vector and its near-copy share the nearest inverted
    # list, so probing 2 of 4 lists must recover both
    assert top[0]["vec_id"] == 0 and top[0]["score"] == 1.0
    assert top[1]["vec_id"] == 50 and top[1]["score"] > 0.99
    # coarse quantizer is deterministic: same input -> identical centroids
    c1 = ivf_centroids(emb, dim=8, k=4, iters=2)
    c2 = ivf_centroids(emb, dim=8, k=4, iters=2)
    assert c1 == c2
    assert [cid for cid, _ in c1] == [0, 1, 2, 3]
    assert all(len(comp) == 8 for _, comp in c1)


def test_ivf_topk_matches_brute_force_when_probing_all(spark, vectors):
    # n_probe = n_clusters degenerates IVF to exact search: rank lists
    # must match brute force exactly (same rounding, same tie-breaks)
    from voluptuous_spark.similarity import ivf_topk

    _, emb = vectors
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    bf = brute_force_topk(emb, queries, k=5).collect()
    ivf = ivf_topk(
        emb, queries, dim=8, k=5, n_clusters=4, n_probe=4, iters=1
    ).collect()
    assert sorted([(r["query_id"], r["rank"], r["vec_id"], r["score"])
                   for r in bf]) == \
           sorted([(r["query_id"], r["rank"], r["vec_id"], r["score"])
                   for r in ivf])


def test_ivf_centroids_empty_cluster_keeps_previous(spark):
    # vec 1 duplicates vec 0: ties in the assignment argmax go to the
    # LOWEST centroid id, so init-centroid 1 loses all members in round 1
    # and must survive unchanged (the oracle's COALESCE mirrors this)
    from voluptuous_spark.similarity import ivf_centroids

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.9, 0.1, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # round 1: vecs 0/1/4 tie-break or score into cid 0, and vec 3
    # (orthogonal to every centroid, cosine 0 everywhere) also ties into
    # cid 0 — centroid 1 goes EMPTY and must keep its init value
    cents1 = ivf_centroids(emb, dim=4, k=3, iters=1)
    assert [cid for cid, _ in cents1] == [0, 1, 2]
    assert cents1[1][1] == [1.0, 0.0, 0.0, 0.0]  # empty-cluster carryover
    assert cents1[0][1] == [0.725, 0.025, 0.25, 0.0]  # mean of 0,1,3,4
    # round 2: the drifted centroid 0 loses vecs 0/1/4 back to the pure
    # centroid 1; the fixpoint is fully deterministic
    cents2 = ivf_centroids(emb, dim=4, k=3, iters=2)
    assert cents2[0][1] == [0.0, 0.0, 1.0, 0.0]
    assert cents2[1][1] == [
        round((1.0 + 1.0 + 0.9) / 3, 6), round(0.1 / 3, 6), 0.0, 0.0]
    assert cents2[2][1] == [0.0, 1.0, 0.0, 0.0]


def test_cosine_near_duplicates(spark, vectors):
    _, emb = vectors
    pairs = cosine_near_duplicates(emb, dim=8, threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 50)}


def test_minhash_basis_modes_agree_on_dups(docs):
    # production (xxhash64) and oracle (rank-dictionary) bases must both
    # surface the true duplicate pairs; signatures differ, semantics agree
    for basis in ("hashed", "ranked"):
        cands = {
            (r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(docs, basis=basis).collect()
        }
        assert (0, 1) in cands and (0, 6) in cands, basis


@pytest.mark.parametrize("values", [
    ["pear", "apple", "fig", "apple", "pear", "Zebra", "fig", "apple"],
    ["only"],
    [],
], ids=["repeats", "single", "empty"])
def test_dense_ranks_match_python(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "w string")
    got = {r["w"]: r["rank"] for r in _dense_ranks(df, "w").collect()}
    assert got == {v: i + 1 for i, v in enumerate(sorted(set(values)))}


@pytest.mark.parametrize("build", [
    lambda d: shingle_ranks(d, basis="ranked"),
    lambda d: simhash(d, basis="ranked"),
    lambda d: minhash_lsh_candidates(d, basis="ranked"),
], ids=["shingle_ranks", "simhash", "minhash_lsh_candidates"])
def test_ranked_basis_builds_without_jobs(jobs_of, docs, build):
    # the rank dictionary is one lazy sort: building the plan launches no
    # Spark job (no driver-side bound sampling or offset collects)
    out, jobs = jobs_of(lambda: build(docs))
    assert jobs == 0
    assert out.count() > 0


def test_simhash_hashed_mode(docs):
    sh = {r["id"]: r["simhash"] for r in simhash(docs).collect()}
    assert sh[0] == sh[1] == sh[6]  # identical after normalization
    near = bin(sh[0] ^ sh[2]).count("1")   # one word changed
    far = bin(sh[0] ^ sh[5]).count("1")    # unrelated text
    assert near < far


def test_lsh_banding_bounds_candidates(spark, vectors):
    # deeper bands shrink the candidate set (bucket population ~N/2^bits)
    _, emb = vectors
    shallow = cosine_near_duplicates(
        emb, dim=8, threshold=-1.0, n_bits=2, n_bands=1
    ).count()
    deep = cosine_near_duplicates(
        emb, dim=8, threshold=-1.0, n_bits=8, n_bands=2
    ).count()
    assert deep < shallow
    # recall is preserved for the true near-dup pair at the deep setting
    pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_duplicates(
            emb, dim=8, threshold=0.95, n_bits=8, n_bands=2
        ).collect()
    }
    assert (0, 50) in pairs


def test_ngram_contamination_exact(spark):
    from voluptuous_spark.textops import ngram_contamination

    # eval example: 6 words -> 4 distinct 3-grams
    eval_df = spark.createDataFrame(
        [("e1", "the quick brown fox jumps high")],
        "eval_id string, text string",
    )
    docs = spark.createDataFrame(
        [
            # contains the eval text verbatim inside a longer doc
            ("d1", "today the quick brown fox jumps high again and again"),
            # shares exactly one 3-gram ("quick brown fox")
            ("d2", "a quick brown fox sat"),
            # unrelated
            ("d3", "completely different words entirely here now"),
        ],
        "doc_id string, text string",
    )
    got = {
        (r["doc_id"], r["eval_id"]): r
        for r in ngram_contamination(
            docs, eval_df, n=3
        ).collect()
    }
    assert set(got) == {("d1", "e1"), ("d2", "e1")}
    d1 = got[("d1", "e1")]
    assert d1["eval_shingles"] == 4 and d1["overlap"] == 4
    assert d1["eval_frac"] == 1.0
    # d1 has 10 words -> 8 distinct 3-grams
    assert d1["doc_shingles"] == 8
    assert d1["doc_frac"] == pytest.approx(4 / 8)
    d2 = got[("d2", "e1")]
    assert d2["overlap"] == 1 and d2["eval_frac"] == pytest.approx(1 / 4)


def test_contaminated_docs_threshold(spark):
    from voluptuous_spark.textops import contaminated_docs

    eval_df = spark.createDataFrame(
        [
            ("e1", "alpha beta gamma delta epsilon zeta"),
            ("e2", "one two three four five six"),
        ],
        "eval_id string, text string",
    )
    docs = spark.createDataFrame(
        [
            # full copy of e1 AND e2 -> two hits, both frac 1.0;
            # worst_eval_id ties at 1.0 -> lowest id e1
            ("d1", "alpha beta gamma delta epsilon zeta one two three "
                   "four five six"),
            # covers 2 of e2's 4 2-grams -> 0.5, below 0.7
            ("d2", "one two three nothing else"),
            ("d3", "irrelevant content here"),
        ],
        "doc_id string, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in contaminated_docs(docs, eval_df, n=2, threshold=0.7)
        .collect()
    }
    assert set(rows) == {"d1"}
    assert rows["d1"]["worst_eval_id"] == "e1"
    assert rows["d1"]["worst_eval_frac"] == 1.0
    assert rows["d1"]["n_eval_hits"] == 2


def test_contamination_broadcast_plan(spark):
    """broadcast_eval keeps the corpus side shuffle-free up to the
    (doc, eval) count agg: the probe join must be broadcast-hash."""
    from voluptuous_spark.textops import ngram_contamination

    eval_df = spark.createDataFrame(
        [("e1", "a b c d e f g h")], "eval_id string, text string"
    )
    docs = spark.createDataFrame(
        [("d1", "x a b c d y")], "doc_id string, text string"
    )
    plan = ngram_contamination(docs, eval_df, n=3)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastHashJoin" in plan
