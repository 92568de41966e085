"""Connected-components dedup clustering vs a tiny union-find oracle."""

import numpy as np

from geotrellis_contrib_spark.operators import cluster as cl


def _uf_oracle(edges):
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


def test_connected_components_chain_and_clique(spark):
    # a 6-node CHAIN (needs several propagation rounds), a 4-clique, an
    # isolated pair — long ids
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
             (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
             (20, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in cl.connected_components(df).collect()}
    want = _uf_oracle(edges)
    assert got == want
    assert got[6] == 1 and got[13] == 10 and got[21] == 20


def test_dup_clusters_survivors_string_ids(spark):
    pairs = [("doc-03", "doc-01"), ("doc-02", "doc-01"), ("doc-09", "doc-08")]
    df = spark.createDataFrame(pairs, "doc_a string, doc_b string")
    rows = cl.dup_clusters(df, "doc_a", "doc_b").collect()
    by_id = {r.id: r for r in rows}
    assert by_id["doc-01"].is_survivor and by_id["doc-01"].cluster_id == "doc-01"
    assert not by_id["doc-03"].is_survivor and by_id["doc-03"].cluster_id == "doc-01"
    assert by_id["doc-08"].is_survivor and by_id["doc-09"].cluster_id == "doc-08"
    # nodes appearing in no pair are absent (not duplicates)
    assert set(by_id) == {"doc-01", "doc-02", "doc-03", "doc-08", "doc-09"}


def test_connected_components_random_vs_oracle(spark):
    rng = np.random.default_rng(11)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 60, size=(80, 2)) if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in cl.connected_components(df).collect()}
    assert got == _uf_oracle(edges)


def test_batched_rounds_halve_materializations(spark):
    # round-4 regression guard: 2 propagate+double rounds run lazily per
    # localCheckpoint sync, so a 64-node chain (worst-case label-hop shape)
    # must converge well within ~log2(64)=6 sync batches + the final
    # no-change batch — count the actual materializations via max_iter.
    edges = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component
           for r in cl.connected_components(df, max_iter=7,
                                            small_graph_edges=0).collect()}
    assert got == _uf_oracle(edges)
    assert set(got.values()) == {0}


def test_batched_rounds_match_single_round_labels(spark):
    # batching must be result-identical to one round per sync (min-label
    # propagation is idempotent/order-free): drive the CC round through
    # the shared fixpoint loop at 1 and 2 rounds per sync
    from pyspark.sql import functions as F

    from geotrellis_contrib_spark.util import fixpoint

    rng = np.random.default_rng(7)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 80, size=(100, 2)) if a != b]
    sym = spark.createDataFrame(edges + [(b, a) for a, b in edges],
                                "src long, dst long").distinct()
    labels = sym.select(F.col("src").alias("id")).distinct() \
                .withColumn("component", F.col("id"))
    changed = F.max((F.col("component") != F.col("_old")).cast("int"))

    def run(rounds_per_sync):
        out = fixpoint(labels, lambda cur: cl._propagate_and_double(sym, cur),
                       changed, max_rounds=40,
                       rounds_per_sync=rounds_per_sync, what="cc test")
        return {r.id: r.component for r in out.collect()}

    df = spark.createDataFrame(edges, "src long, dst long")
    public = {r.id: r.component
              for r in cl.connected_components(
                  df, small_graph_edges=0).collect()}
    assert run(1) == run(2) == public == _uf_oracle(edges)


def test_small_graph_driver_path_matches_distributed(spark):
    """The adaptive small-graph union-find must be label-identical to the
    distributed doubling loop (long AND string ids), and the threshold
    must route as configured."""
    rng = np.random.default_rng(23)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 200, size=(300, 2))
             if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    fast = {r.id: r.component
            for r in cl.connected_components(df).collect()}
    dist = {r.id: r.component
            for r in cl.connected_components(
                df, small_graph_edges=0).collect()}
    assert fast == dist == _uf_oracle(edges)

    sedges = [(f"d-{a:03d}", f"d-{b:03d}") for a, b in edges]
    sdf = spark.createDataFrame(sedges, "src string, dst string")
    sfast = {r.id: r.component
             for r in cl.connected_components(sdf).collect()}
    sdist = {r.id: r.component
             for r in cl.connected_components(
                 sdf, small_graph_edges=0).collect()}
    assert sfast == sdist == _uf_oracle(sedges)


def _peel_coreness(edges):
    """Independent reference: classic min-degree peeling."""
    import heapq
    from collections import defaultdict
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(ns) for v, ns in adj.items()}
    core, removed, k = {}, set(), 0
    h = [(d, v) for v, d in deg.items()]
    heapq.heapify(h)
    while h:
        d, v = heapq.heappop(h)
        if v in removed or d != deg[v]:
            continue
        k = max(k, deg[v])
        core[v] = k
        removed.add(v)
        for u in adj[v]:
            if u not in removed:
                deg[u] -= 1
                heapq.heappush(h, (deg[u], u))
    return core


def test_kcore_fixture_vs_peeling(spark):
    from geotrellis_contrib_spark import corpus as corpus_mod
    from geotrellis_contrib_spark.operators.cluster import kcore
    edges = corpus_mod.synth_core_edges()
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.coreness for r in kcore(df).collect()}
    assert got == _peel_coreness(edges)
    # structure pins: clique 5, ring 2, path/leaves 1, triangles 2;
    # bridges did NOT lift anything
    assert got[0] == 5 and got[12] == 2 and got[23] == 1 and got[42] == 2


def test_kcore_dense_deterministic_graph(spark):
    from geotrellis_contrib_spark.operators.cluster import kcore
    edges = [(a, b) for a in range(16) for b in range(a + 1, 16)
             if (a * 3 + b * 5) % 4 != 0]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.coreness for r in kcore(df).collect()}
    assert got == _peel_coreness(edges)
