"""Parity tests for the guarded single-task walk fast paths
(round-10 optimization) — every draw is md5-of-decimal-string, so the
fast paths must reproduce the join loops step for step."""

from __future__ import annotations

import random

import pytest

from graphdb_testing_spark.operators import sampling as smod
from graphdb_testing_spark.operators import util


@pytest.fixture(scope="module")
def walk_edges(spark):
    """Weighted symmetric graph with multiplicity duplicates (the
    max-weight dedup path) and degree variety."""
    rng = random.Random(71)
    w = {}
    for u in range(0, 150):
        for v in rng.sample(range(150), 5):
            if u != v:
                w[(min(u, v), max(u, v))] = rng.randint(1, 6)
    rows = []
    for (u, v), x in w.items():
        rows.append((u, v, x))
        rows.append((v, u, x))
        if x > 4:  # duplicate pair rows with a lower weight (max wins)
            rows.append((u, v, 1))
            rows.append((v, u, 1))
    return spark.createDataFrame(
        rows, "src long, dst long, wgt long"
    ).localCheckpoint()


def _rows(df):
    return {tuple(r) for r in df.collect()}


@pytest.mark.parametrize("length,every", [(3, 50), (5, 25)])
def test_local_random_walks_match(spark, walk_edges, monkeypatch, length, every, fired):
    fast = _rows(smod.random_walks(walk_edges, walk_length=length, start_every=every))
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = _rows(smod.random_walks(walk_edges, walk_length=length, start_every=every))
    assert fired("random_walks") is False
    assert fast == slow


@pytest.mark.parametrize("length,every", [(3, 50), (4, 30)])
def test_local_weighted_walks_match(spark, walk_edges, monkeypatch, length, every, fired):
    fast = _rows(
        smod.weighted_random_walks(walk_edges, walk_length=length, start_every=every)
    )
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = _rows(
        smod.weighted_random_walks(walk_edges, walk_length=length, start_every=every)
    )
    assert fired("weighted_random_walks") is False
    assert fast == slow


@pytest.mark.parametrize("length,every", [(3, 50), (5, 30)])
def test_local_node2vec_walks_match(spark, walk_edges, monkeypatch, length, every, fired):
    fast = _rows(
        smod.node2vec_walks(walk_edges, walk_length=length, start_every=every)
    )
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = _rows(
        smod.node2vec_walks(walk_edges, walk_length=length, start_every=every)
    )
    assert fired("node2vec_walks") is False
    assert fast == slow
