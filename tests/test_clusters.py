"""Connected-components clustering vs a driver-side union-find oracle."""

from __future__ import annotations

import random

from prometheus_anomaly_detection_lstm_spark.operators.clusters import (
    connected_components,
    dedup_clusters,
)
from prometheus_anomaly_detection_lstm_spark.operators.dedup import (
    dedup_apply,
    minhash_lsh_dedup,
)
from prometheus_anomaly_detection_lstm_spark.io_tables import load_table


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_components_match_union_find_random_graph(spark):
    rng = random.Random(42)
    edges = [(rng.randint(0, 200), rng.randint(0, 200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {
        r.node: r.component for r in connected_components(df).collect()
    }
    want = _union_find(edges)
    # canonical labels: min id per component on both sides
    assert got == want


def test_chain_collapses_to_one_cluster(spark):
    # (0-1),(1-2),(2-3): pairwise dedup alone would keep 2 docs; the
    # cluster view keeps exactly one representative
    df = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    out = dedup_clusters(df).collect()
    assert len(out) == 1
    assert out[0].size == 4 and out[0].keep_doc_id == 0

    # dedup_apply keeps the same min-id representative on the documents
    # themselves: every exact-copy clique collapses to its lowest doc_id
    doc_a = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm stone wall near the old garden gate"
    )
    doc_b = (
        "completely different content about spark shuffles partitions "
        "joins aggregates and the catalyst optimizer rewriting plans"
    )
    doc_c = (
        "yet another unrelated document discussing parquet footers row "
        "groups statistics and predicate pushdown at the scan layer"
    )
    doc_d = "a fresh short document about versioned manifests " * 4
    doc_e = "final unique text never seen before in any corpus " * 3
    doc_f = "one more genuinely novel document closing the stream " * 4
    docs = spark.createDataFrame(
        [
            (1, doc_a), (2, doc_b), (3, doc_c), (11, doc_a), (12, doc_d),
            (21, doc_d), (22, doc_e), (31, doc_e), (32, doc_f),
            (33, doc_f), (34, doc_b),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_dedup(docs, threshold=0.5)
    kept = sorted(r.doc_id for r in dedup_apply(docs, pairs).collect())
    assert kept == [1, 2, 3, 12, 22, 32]


def test_clusters_over_real_minhash_pairs(spark):
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    pairs = minhash_lsh_dedup(docs, threshold=0.05)
    if pairs.count() == 0:
        return  # no near-dups at this sf — nothing to cluster
    clusters = dedup_clusters(pairs).collect()
    assert all(c.size >= 2 for c in clusters)


def test_incremental_dedup_equals_filtered_full(spark):
    """Incremental pairs == full pairs filtered to those touching the
    new batch, and the candidate join never pairs old x old."""
    from prometheus_anomaly_detection_lstm_spark.io_tables import load_table
    from prometheus_anomaly_detection_lstm_spark.operators.dedup import (
        minhash_lsh_dedup_incremental,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    split = 400
    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_dedup(docs).collect()
    }
    inc = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_dedup_incremental(docs, split).collect()
    }
    want = {k: v for k, v in full.items() if k[1] >= split}
    assert inc == want and len(inc) > 0
    assert all(b >= split for (_, b) in inc)
