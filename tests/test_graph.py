"""connected_components (operators/graph): exact equivalence with a
python union-find on random graphs, chain convergence, and the fixpoint
guard. Graphs this small take the driver union-find path; tests that
need the distributed star loop set ``DRIVER_CC_MAX_EDGES`` to 0."""

import numpy as np
import pytest

from geopy_spark.operators import graph
from geopy_spark.operators.graph import connected_components


@pytest.fixture
def star_only(monkeypatch):
    """Force every graph above the driver guard: the star loop runs."""
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-id per component
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(members) for r, members in comp.items() for n in members}


@pytest.mark.parametrize("path", ["star", "driver"])
@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 200, 150), (2, 500, 700)])
def test_cc_matches_union_find_random(spark, monkeypatch, path, seed,
                                      n_nodes, n_edges):
    if path == "star":
        monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    rng = np.random.default_rng(seed)
    edges = [(int(a), int(b)) for a, b in
             rng.integers(0, n_nodes, (n_edges, 2)) if a != b]
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r.node: r.component
           for r in connected_components(df).collect()}
    nodes = sorted({x for e in edges for x in e})
    exp = _union_find(edges, nodes)
    assert got == exp


def test_cc_star_1000_node_path(spark, star_only):
    """VERDICT r2 #4: the star loop must resolve a 1000-node path graph
    — diameter 999, impossible for label propagation at max_iter=30 — in
    O(log n) rounds."""
    edges = [(i, i + 1) for i in range(999)]
    df = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(df, max_iter=20).collect()
    assert {r.component for r in out} == {0}
    assert len(out) == 1000


def test_cc_reliable_checkpoint_dir(spark, tmp_path, monkeypatch):
    """checkpoint_dir switches per-round truncation to RELIABLE
    checkpoint() files under the given dir (executor-loss-safe on a real
    cluster); results are identical and files actually land there."""
    import os
    edges = [(i, i + 1) for i in range(50)] + [(200, 201), (201, 202)]
    df = spark.createDataFrame(edges, "a long, b long")
    ckdir = str(tmp_path / "cc_ckpt")
    exp = {r.node: r.component for r in connected_components(df).collect()}
    # star loop forced: the reliable-checkpoint machinery only exists on
    # the iterative distributed path — a graph this small is otherwise
    # solved on the driver, where there is no iteration to protect
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    got = {r.node: r.component
           for r in connected_components(df, checkpoint_dir=ckdir).collect()}
    assert got == exp
    assert any(files for _, _, files in os.walk(ckdir))


def test_cc_fixpoint_guard_raises(spark, star_only):
    edges = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(edges, "a long, b long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(df, max_iter=1)


def test_edge_signature_order_insensitive_and_discriminating(spark):
    """The round-4 fixpoint test: one scalar agg replaces the per-round
    exceptAll set comparison. Same edge set under any row order or
    partitioning → same signature; any single-edge difference → differs."""
    from geopy_spark.operators.graph import _edge_signature

    import pandas as pd
    e = pd.DataFrame({"u": [5, 9, 12, 40], "v": [1, 1, 3, 12]})
    a = spark.createDataFrame(e)
    b = spark.createDataFrame(e.iloc[::-1]).repartition(7)
    assert _edge_signature(a) == _edge_signature(b)
    c = spark.createDataFrame(pd.DataFrame({"u": [5, 9, 12, 41],
                                            "v": [1, 1, 3, 12]}))
    assert _edge_signature(a) != _edge_signature(c)
    # same count, single swapped pair — the case bare count() misses
    d = spark.createDataFrame(pd.DataFrame({"u": [5, 9, 3, 40],
                                            "v": [1, 1, 12, 12]}))
    assert _edge_signature(a) != _edge_signature(d)


def test_cc_auto_driver_matches_star(spark, monkeypatch):
    """The size-guarded driver union-find (below DRIVER_CC_MAX_EDGES)
    must label identically to the distributed star loop: random sparse
    graph with chains, cliques, self-loops and isolated-by-self-loop
    nodes."""
    import random
    rnd = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40)]                 # chain
    edges += [(100 + a, 100 + b) for a in range(8) for b in range(8)]
    edges += [(500, 500), (601, 600)]                          # self, rev
    edges += [(rnd.randrange(700, 760), rnd.randrange(700, 760))
              for _ in range(60)]
    df = spark.createDataFrame(edges, "a long, b long")
    driver = {r.node: r.component
              for r in connected_components(df).collect()}
    monkeypatch.setattr(graph, "DRIVER_CC_MAX_EDGES", 0)
    star = {r.node: r.component
            for r in connected_components(df).collect()}
    assert driver == star
