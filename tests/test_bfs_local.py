"""Parity tests for the guarded single-task weighted-semiring fast
paths in operators/bfs.py (round-10 optimization) — min-plus SSSP,
(max, min) widest path, two-smallest-distinct distances, and
multi-source BFS are all exact-integer, so the fast paths must match
the DataFrame loops row for row, with a broadcast and with a shuffled
loop state."""

from __future__ import annotations

import random

import pytest

from graphdb_testing_spark.operators import bfs as bfsmod
from graphdb_testing_spark.operators import util


@pytest.fixture(scope="module")
def weighted_edges(spark):
    """Two communities joined by a single heavy bridge plus a weighted
    chain — distinct d1/d2, bottleneck, and multi-level structure."""
    rng = random.Random(53)
    w = {}
    for base in (0, 100):
        for u in range(base, base + 50):
            for v in rng.sample(range(base, base + 50), 4):
                if u != v:
                    w[(min(u, v), max(u, v))] = rng.randint(1, 9)
    w[(49, 100)] = 7  # bridge
    for i in range(200, 230):
        w[(i, i + 1)] = rng.randint(1, 5)
    w[(0, 200)] = 2
    rows = [(u, v, x) for (u, v), x in w.items()] + [
        (v, u, x) for (u, v), x in w.items()
    ]
    # a real negative-weight self-loop at the chain's end, reached only
    # by the (225, 6) SSSP case: both paths must relax it every round
    rows.append((230, 230, -4))
    return spark.createDataFrame(
        rows, "src long, dst long, wgt long"
    ).localCheckpoint()


def _rows(df):
    return {tuple(r) for r in df.collect()}


def _bellman_ford(edges, source, rounds):
    """Plain-Python ``rounds`` relaxations from the round-start state,
    the schedule of the SQL oracle."""
    dist = {source: 0}
    for _ in range(rounds):
        nxt = dict(dist)
        for u, v, w in edges:
            if u in dist and dist[u] + w < nxt.get(v, dist[u] + w + 1):
                nxt[v] = dist[u] + w
        dist = nxt
    return set(dist.items())


def _widest(edges, source, rounds, inf=1 << 60):
    """Plain-Python ``rounds`` (max, min) relaxations from the
    round-start state."""
    cap = {source: inf}
    for _ in range(rounds):
        nxt = dict(cap)
        for u, v, w in edges:
            if u in cap:
                c = min(cap[u], w)
                nxt[v] = max(nxt.get(v, c), c)
        cap = nxt
    return set(cap.items())


@pytest.mark.parametrize(
    "source,rounds", [(0, 6), (0, 2), (205, 4), (99999, 3), (225, 6)]
)
def test_local_sssp_weighted_matches(spark, weighted_edges, distributed, source, rounds):
    fast = _rows(bfsmod.sssp_weighted(weighted_edges, source, rounds=rounds))
    slow = distributed(
        "sssp_weighted",
        lambda: _rows(bfsmod.sssp_weighted(weighted_edges, source, rounds=rounds)),
    )
    assert fast == slow
    assert fast == _bellman_ford(weighted_edges.collect(), source, rounds)


@pytest.mark.parametrize("source,rounds", [(0, 6), (102, 3), (99999, 2)])
def test_local_widest_path_matches(spark, weighted_edges, distributed, source, rounds):
    fast = _rows(bfsmod.widest_path(weighted_edges, source, rounds=rounds))
    slow = distributed(
        "widest_path",
        lambda: _rows(bfsmod.widest_path(weighted_edges, source, rounds=rounds)),
    )
    assert fast == slow
    assert fast == _widest(weighted_edges.collect(), source, rounds)
    if source == 99999:  # a source without edges keeps (source, inf)
        assert fast == {(99999, 1 << 60)}


@pytest.mark.parametrize("source,rounds", [(0, 6), (0, 1), (205, 4), (99999, 2)])
def test_local_two_shortest_matches(spark, weighted_edges, monkeypatch, source, rounds, fired):
    fast = _rows(bfsmod.two_shortest(weighted_edges, source, rounds=rounds))
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = _rows(bfsmod.two_shortest(weighted_edges, source, rounds=rounds))
    assert fired("two_shortest") is False
    assert fast == slow


@pytest.mark.parametrize(
    "roots,depth",
    # the last root is past int32 while every graph id fits it: the
    # loop must stay on long ids
    [([0, 102, 215], 32), ([0], 2), ([99999, 3], 8), ([0, 2**31 + 7], 8)],
)
def test_local_multi_source_bfs_matches(spark, weighted_edges, distributed, roots, depth):
    fast = _rows(bfsmod.multi_source_bfs(weighted_edges, roots, max_depth=depth))
    slow = distributed(
        "multi_source_bfs",
        lambda: _rows(bfsmod.multi_source_bfs(weighted_edges, roots, max_depth=depth)),
    )
    assert fast == slow
