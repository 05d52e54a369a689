"""Connected components / duplicate clustering (graph.py)."""

import pytest
from pyspark.sql import functions as F

from voluptuous_spark.graph import (
    connected_components,
    duplicate_clusters,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _cc_dict(df):
    return {r["id"]: r["cluster_id"] for r in df.collect()}


def test_two_components(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    got = _cc_dict(connected_components(e))
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_converges_fast(spark):
    """A 40-link chain: min-label propagation would need 40 rounds;
    star rounds need O(log n)."""
    e = _edges(spark, [(i, i + 1) for i in range(40)])
    got = _cc_dict(connected_components(e, max_iter=10))
    assert set(got.values()) == {0}
    assert len(got) == 41


def test_direction_and_duplicate_edges_ignored(spark):
    e = _edges(spark, [(2, 1), (1, 2), (2, 3), (3, 3)])
    got = _cc_dict(connected_components(e))
    assert got == {1: 1, 2: 1, 3: 1}


def test_brute_force_oracle(spark):
    """Randomized graph vs a driver-side union-find."""
    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    pairs = [(a, b) for a, b in pairs if a != b]

    parent = list(range(60))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for a, b in pairs:
        for n in (a, b):
            expected[n] = find(n)

    got = _cc_dict(connected_components(_edges(spark, pairs)))
    assert got == expected


def test_duplicate_clusters_and_canonical(spark):
    e = _edges(spark, [(5, 2), (2, 9), (7, 8)])
    clusters = {
        r["id"]: (r["cluster_id"], r["is_canonical"])
        for r in duplicate_clusters(e).collect()
    }
    assert clusters == {
        2: (2, True), 5: (2, False), 9: (2, False),
        7: (7, True), 8: (7, False),
    }


def test_lsh_to_clusters_composes(spark):
    """End-to-end dedup pipeline: near-identical docs -> LSH candidate
    pairs -> transitive clusters."""
    from voluptuous_spark.textops import minhash_lsh_candidates

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " today"),
            (3, base + " tomorrow"),
            (4, "completely different content about spark engines at scale"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_candidates(docs)
    cc = _cc_dict(connected_components(pairs))
    # 1,2,3 cluster together by transitivity; 4 is absent (no pairs)
    assert set(cc.keys()) <= {1, 2, 3}
    assert len(set(cc.values())) == 1
    assert 4 not in cc


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # checkpoint_dir= switches the per-round lineage cut to reliable
    # df.checkpoint() (fault tolerance for multi-hour cluster runs);
    # results identical to the localCheckpoint default
    import os

    from voluptuous_spark.graph import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9), (4, 1)], "id_a long, id_b long"
    )
    want = sorted(
        (r.id, r.cluster_id, r.is_canonical)
        for r in duplicate_clusters(pairs).collect()
    )
    ckpt = str(tmp_path / "cc_ckpt")
    got = sorted(
        (r.id, r.cluster_id, r.is_canonical)
        for r in duplicate_clusters(pairs, checkpoint_dir=ckpt).collect()
    )
    assert got == want
    assert os.listdir(ckpt)  # reliable checkpoint data actually written
    # superseded round checkpoints are deleted as rounds advance:
    # storage is O(edges), not O(rounds x edges) — only the final
    # round's rdd dir(s) survive under the session checkpoint root
    (uuid_dir,) = os.listdir(ckpt)
    rdd_dirs = [
        d for d in os.listdir(os.path.join(ckpt, uuid_dir))
        if d.startswith("rdd-")
    ]
    assert len(rdd_dirs) == 1, rdd_dirs
