"""Parity tests for the guarded single-task Brandes fast path
(round-11): the NumPy kernel must match the all-roots DataFrame sweep
on the 6-dp-rounded output (the query's declared rounding) for vertex
AND edge betweenness, on connected and multi-component fixtures, with
a broadcast and with a shuffled sweep state, independent of input
partitioning."""

from __future__ import annotations

import random

import pytest

from graphdb_testing_spark.operators import betweenness as bcmod
from graphdb_testing_spark.operators import util


@pytest.fixture(scope="module")
def sym_edges(spark):
    rng = random.Random(23)
    pairs = set()
    for u in range(90):
        for v in rng.sample(range(90), 4):
            if u != v:
                pairs.add((min(u, v), max(u, v)))
    # second, disjoint component plus a chain (exercises unreached
    # roots' vertices and delta-0 leaves)
    for u in range(100, 120):
        pairs.add((u, u + 1))
    rows = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(rows, "src long, dst long").localCheckpoint()


ROOTS = [0, 3, 57, 104]


def _vmap(df):
    return {r["id"]: r["bc"] for r in df.collect()}


def _emap(df):
    return {(r["u"], r["v"]): r["bc"] for r in df.collect()}


def test_vertex_bc_local_matches_dataframe_path(spark, sym_edges, distributed):
    fast = _vmap(bcmod.betweenness(sym_edges, ROOTS))
    slow = distributed("betweenness", lambda: _vmap(bcmod.betweenness(sym_edges, ROOTS)))
    assert fast == slow


def test_edge_bc_local_matches_dataframe_path(spark, sym_edges, distributed):
    fast = _emap(bcmod.edge_betweenness(sym_edges, ROOTS))
    slow = distributed("edge_betweenness", lambda: _emap(bcmod.edge_betweenness(sym_edges, ROOTS)))
    assert fast == slow


def test_vertex_bc_deterministic_across_layouts(spark, sym_edges):
    a = _vmap(bcmod.betweenness(sym_edges.repartition(7), ROOTS))
    b = _vmap(bcmod.betweenness(sym_edges.repartition(3), ROOTS))
    assert a == b


def test_root_absent_from_graph(spark, sym_edges, monkeypatch, fired):
    roots = [0, 999_999]  # second root not a vertex

    def both():
        return (
            _vmap(bcmod.betweenness(sym_edges, roots)),
            _emap(bcmod.edge_betweenness(sym_edges, roots)),
        )

    fast = both()
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = both()
    assert fired("betweenness") is False
    assert fired("edge_betweenness") is False
    assert fast == slow
