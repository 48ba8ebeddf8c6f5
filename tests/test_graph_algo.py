"""Connected components vs a pure-Python union-find reference."""

import random


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    return {x: find(x) for x in parent}


def test_components_match_union_find(spark):
    from graphdbetl_spark.operators.graph import connected_components

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.id: r.component for r in connected_components(df).collect()}

    exp = _uf_components(edges)
    # same grouping with min-id labels
    assert set(got) == set(exp)
    for node, comp in exp.items():
        assert got[node] == comp


def test_chain_collapses_to_one_component(spark):
    from graphdbetl_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(30)]  # diameter 30 > default rounds? no: 20 iters of doubling-free propagation
    df = spark.createDataFrame(chain, "src long, dst long")
    got = {r.id: r.component for r in connected_components(df, max_iter=40).collect()}
    assert set(got.values()) == {0}


def _dense_pagerank(edges, n_ids, iterations, damping=0.85):
    """Independent reference: dict-based power iteration, same
    simplified semantics (no dangling redistribution)."""
    from collections import defaultdict

    out = defaultdict(list)
    for u, v in edges:
        out[u].append(v)
    ranks = {i: 1.0 / len(n_ids) for i in n_ids}
    for _ in range(iterations):
        contrib = defaultdict(float)
        for u, vs in out.items():
            for v in vs:
                contrib[v] += ranks[u] / len(vs)
        ranks = {
            i: (1 - damping) / len(n_ids) + damping * contrib.get(i, 0.0)
            for i in n_ids
        }
    return ranks


def test_pagerank_two_cycle_is_uniform(spark):
    from graphdbetl_spark.operators.graph import pagerank

    e = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    assert abs(got[1] - 0.5) < 1e-12 and abs(got[2] - 0.5) < 1e-12


def test_pagerank_matches_dense_power_iteration(spark):
    import random

    from graphdbetl_spark.operators.graph import pagerank

    rng = random.Random(7)
    edges = list({(rng.randrange(12), rng.randrange(12)) for _ in range(40)})
    edges = [(u, v) for u, v in edges if u != v]
    ids = sorted({x for e in edges for x in e})
    expect = _dense_pagerank(edges, ids, iterations=6)
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in pagerank(e, iterations=6).collect()}
    assert set(got) == set(ids)
    for i in ids:
        assert abs(got[i] - expect[i]) < 1e-9, i


def test_bfs_depths_min_hop_and_bound(spark):
    from graphdbetl_spark.operators.graph import bfs_depths

    # 1 -> 2 -> 3 -> 4 -> 5 (chain), plus shortcut 1 -> 3, and an
    # unreachable island 10 -> 11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 3), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r["id"]: r["depth"] for r in bfs_depths(edges, seeds, max_depth=3).collect()}
    # shortcut wins: 3 is at depth 1 via 1->3, so 4 at 2 and 5 at 3
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}
    # bound respected: nothing beyond max_depth, island unreached
    assert 10 not in got and 11 not in got
    shallow = {r["id"]: r["depth"] for r in bfs_depths(edges, seeds, max_depth=1).collect()}
    assert shallow == {1: 0, 2: 1, 3: 1}


def test_kcore_peel_cascades(spark):
    from graphdbetl_spark.operators.graph import kcore_peel

    # 5-clique (each degree 4) + a chain 10-11-12 hanging off vertex 0
    # + a pendant 20 attached to vertex 1. With k=3: chain and pendant
    # peel in round 1; the clique survives with internal degree 4.
    clique = [(i, j) for i in range(5) for j in range(5) if i != j]
    extra = [(0, 10), (10, 0), (10, 11), (11, 10), (11, 12), (12, 11), (1, 20), (20, 1)]
    edges = spark.createDataFrame(clique + extra, "src long, dst long")
    got = {r["id"]: r["degree"] for r in kcore_peel(edges, k=3, rounds=4).collect()}
    assert set(got) == {0, 1, 2, 3, 4}
    assert all(v == 4 for v in got.values())
    # k above the clique degree: everything peels
    assert kcore_peel(edges, k=6, rounds=3).count() == 0


def test_sssp_bounded_min_plus(spark):
    from graphdbetl_spark.operators.graph import sssp_bounded

    # 1 -2-> 2 -3-> 3, plus direct 1 -10-> 3 (longer by weight despite
    # fewer hops) and 3 -1-> 4
    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 3), (1, 3, 10), (3, 4, 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    got = {r["id"]: r["dist"] for r in sssp_bounded(edges, seeds, rounds=4).collect()}
    assert got == {1: 0, 2: 2, 3: 5, 4: 6}  # weighted path beats direct edge
    # round-bounded: with 1 round the 2-hop path can't relax yet
    one = {r["id"]: r["dist"] for r in sssp_bounded(edges, seeds, rounds=1).collect()}
    assert one == {1: 0, 2: 2, 3: 10}
