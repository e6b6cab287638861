"""Connected-components operator (ops/graph.py): correctness vs a pure-
Python union-find on seeded random graphs, chain-contraction convergence,
and the empty/degenerate edges."""

from __future__ import annotations

import random

import pytest

from dynamic_etl_spark.ops.graph import connected_components


def _union_find_components(edges, vertices):
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min id per component
    roots = {}
    for v in vertices:
        r = find(v)
        roots.setdefault(r, []).append(v)
    return {v: min(mem) for mem in roots.values() for v in mem}


@pytest.mark.slow  # fast-tier skip: heavy reference comparison (FULL_SUITE=1)
@pytest.mark.parametrize("seed,n,m", [(7, 120, 90), (99, 60, 200)])
def test_components_match_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["v"]: r["component"]
        for r in connected_components(df, "src", "dst").collect()
    }
    touched = sorted({x for e in edges for x in e})
    want = _union_find_components(edges, touched)
    assert got == want


@pytest.mark.slow  # fast-tier skip: heavy reference comparison (FULL_SUITE=1)
def test_chain_converges_via_pointer_jumping(spark):
    # a 120-long path is the worst case for plain propagation (120 rounds);
    # pointer jumping must close it inside the default max_iter=30
    chain = [(i, i + 1) for i in range(120)]
    df = spark.createDataFrame(chain, ["src", "dst"])
    out = connected_components(df, "src", "dst")
    labels = {r["component"] for r in out.collect()}
    assert labels == {0}
    assert out.count() == 121


def test_empty_and_self_loop_edges(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("src", T.LongType()), T.StructField("dst", T.LongType())]
    )
    empty = spark.createDataFrame([], schema)
    assert connected_components(empty, "src", "dst").count() == 0

    loops = spark.createDataFrame([(5, 5), (5, 6)], ["src", "dst"])
    got = {
        r["v"]: r["component"]
        for r in connected_components(loops, "src", "dst").collect()
    }
    assert got == {5: 5, 6: 5}


def _numpy_pagerank(edges, n, damping=0.85, iters=60):
    """Dense power-iteration reference with uniform dangling
    redistribution (the same convention as ops/graph.pagerank)."""
    import numpy as np

    W = np.zeros((n, n))
    for s, d, w in edges:
        W[s, d] += w
    out_w = W.sum(axis=1)
    P = np.divide(W, out_w[:, None], out=np.zeros_like(W), where=out_w[:, None] > 0)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        dangling = r[out_w == 0].sum()
        r = (1 - damping) / n + damping * (r @ P + dangling / n)
    return r


@pytest.mark.slow  # fast-tier skip: heavy reference comparison (FULL_SUITE=1)
def test_pagerank_matches_numpy_reference(spark, monkeypatch):
    from dynamic_etl_spark.ops import graph
    from dynamic_etl_spark.ops.graph import pagerank

    monkeypatch.setattr(graph, "SMALL_GRAPH_THRESHOLD", 0)  # force the DISTRIBUTED loop
    monkeypatch.setattr(graph, "PR_MAX_ITER", 60)
    monkeypatch.setattr(graph, "PR_TOL", 1e-12)

    # 60-node graph with hubs, a cycle, and dangling vertices
    n = 60
    edges = []
    for i in range(n):
        if i % 7 == 0 and i > 0:
            continue  # every 7th vertex is dangling (no out-edges)
        edges.append((i, (i + 1) % n, 1.0))
        edges.append((i, (i * 13) % n, 2.0))
        edges.append((i, 0, 0.5))  # vertex 0 is a hub
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["v"]: r["rank"]
        for r in pagerank(df, "src", "dst", weight="w").collect()
    }
    ref = _numpy_pagerank(edges, n, iters=60)
    assert abs(sum(got.values()) - 1.0) < 1e-9  # rank mass conserved
    for v in range(n):
        assert abs(got[v] - ref[v]) < 1e-6, (v, got[v], ref[v])
    # the deliberate hub must outrank the median vertex
    import statistics

    assert got[0] > statistics.median(got.values()) * 2


def test_pagerank_uniform_on_symmetric_cycle(spark, monkeypatch):
    from dynamic_etl_spark.ops import graph
    from dynamic_etl_spark.ops.graph import pagerank

    monkeypatch.setattr(graph, "SMALL_GRAPH_THRESHOLD", 0)  # force the DISTRIBUTED loop
    monkeypatch.setattr(graph, "PR_MAX_ITER", 30)

    n = 10
    df = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    got = [
        r["rank"]
        for r in pagerank(df).collect()
    ]
    assert len(got) == n
    for r in got:
        assert abs(r - 1.0 / n) < 1e-9  # perfect symmetry -> uniform ranks


def test_pagerank_empty_edges(spark):
    from dynamic_etl_spark.ops.graph import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df).count() == 0


@pytest.mark.slow  # fast-tier skip: heavy reference comparison (FULL_SUITE=1)
def test_pagerank_driver_path_matches_distributed(spark, monkeypatch):
    """The small-graph driver shortcut runs the identical recurrence:
    both paths agree to float tolerance on the same graph."""
    from dynamic_etl_spark.ops import graph
    from dynamic_etl_spark.ops.graph import pagerank

    monkeypatch.setattr(graph, "PR_MAX_ITER", 40)
    monkeypatch.setattr(graph, "PR_TOL", 1e-12)

    edges = [(i, (i * 3 + 1) % 40, float(1 + i % 3)) for i in range(40)] + [
        (i, (i + 1) % 40, 1.0) for i in range(0, 40, 2)
    ]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    fast = {
        r["v"]: r["rank"]
        for r in pagerank(df, weight="w").collect()
    }
    monkeypatch.setattr(graph, "SMALL_GRAPH_THRESHOLD", 0)  # force the DISTRIBUTED loop
    dist = {
        r["v"]: r["rank"]
        for r in pagerank(df, weight="w").collect()
    }
    assert fast.keys() == dist.keys()
    for v in fast:
        assert abs(fast[v] - dist[v]) < 1e-9


@pytest.mark.slow  # fast-tier skip: heavy reference comparison (FULL_SUITE=1)
def test_pagerank_zero_weight_edges_are_dangling(spark, monkeypatch):
    """Zero-weight out-edges carry no mass: the vertex counts as
    dangling (matching the numpy reference's divide-where convention)
    instead of crashing on ANSI DIVIDE_BY_ZERO, and stays in the
    vertex set."""
    from dynamic_etl_spark.ops import graph
    from dynamic_etl_spark.ops.graph import pagerank

    monkeypatch.setattr(graph, "PR_MAX_ITER", 40)
    monkeypatch.setattr(graph, "PR_TOL", 1e-12)

    edges = [(1, 2, 1.0), (2, 1, 1.0), (3, 1, 0.0)]
    df = spark.createDataFrame(edges, "src long, dst long, w double")
    got = {
        r["v"]: r["rank"]
        for r in pagerank(df, weight="w").collect()
    }
    ref = _numpy_pagerank([(s - 1, d - 1, w) for s, d, w in edges], 3, iters=40)
    assert set(got) == {1, 2, 3}
    for v in (1, 2, 3):
        assert abs(got[v] - ref[v - 1]) < 1e-9
    # distributed path agrees on the same graph
    monkeypatch.setattr(graph, "SMALL_GRAPH_THRESHOLD", 0)  # force the DISTRIBUTED loop
    dist = {
        r["v"]: r["rank"]
        for r in pagerank(df, weight="w").collect()
    }
    for v in (1, 2, 3):
        assert abs(dist[v] - got[v]) < 1e-9


def test_pagerank_fixed_point_python_ground_truth_and_float_agreement(spark, monkeypatch):
    """The integer fixed-point PageRank (the oracle-checkable twin):
    (a) matches an independent pure-Python replay of the same integer
    recurrence exactly (incl. a dangling vertex and weighted edges);
    (b) lands within float tolerance of the double pagerank at the same
    iteration count (the floor drift is ~1e-9 relative at unit=1e12);
    (c) conserves mass: ranks sum to unit minus bounded floor drift."""
    from dynamic_etl_spark.ops import graph
    from dynamic_etl_spark.ops.graph import pagerank, pagerank_fixed_point

    UNIT, ITERS = 10**12, 12
    monkeypatch.setattr(graph, "PR_MAX_ITER", ITERS)
    monkeypatch.setattr(graph, "PR_TOL", 0.0)
    edges = [(1, 2, 3), (2, 1, 1), (2, 3, 2), (1, 3, 1)]  # 3 is dangling
    df = spark.createDataFrame(edges, "src long, dst long, w long")

    def py_fixed_point(edge_list, iters, unit):
        verts = sorted({s for s, _, _ in edge_list} | {d for _, d, _ in edge_list})
        n = len(verts)
        outw = {}
        for s, _, w in edge_list:
            outw[s] = outw.get(s, 0) + w
        rank = {v: unit // n for v in verts}
        base = (unit * 15) // (n * 100)
        for _ in range(iters):
            dang = sum(rank[v] for v in verts if v not in outw)
            contrib = {v: 0 for v in verts}
            for s, d, w in edge_list:
                contrib[d] += (rank[s] * w) // outw[s]
            rank = {
                v: base + ((contrib[v] + dang // n) * 85) // 100 for v in verts
            }
        return rank

    got = {
        r["v"]: r["rank_fp"]
        for r in pagerank_fixed_point(df, weight="w", iters=ITERS, unit=UNIT).collect()
    }
    ref = py_fixed_point(edges, ITERS, UNIT)
    assert got == ref

    total = sum(got.values())
    # floor drift: a few units per vertex per round, never inflation
    assert UNIT - 3 * ITERS * 10 <= total <= UNIT

    flt = {
        r["v"]: r["rank"]
        for r in pagerank(
            spark.createDataFrame(
                [(s, d, float(w)) for s, d, w in edges], "src long, dst long, w double"
            ),
            weight="w",
        ).collect()
    }
    for v, fp in got.items():
        assert abs(fp / UNIT - flt[v]) < 1e-6, (v, fp / UNIT, flt[v])
