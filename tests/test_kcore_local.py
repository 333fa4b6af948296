"""Parity tests for the guarded single-task k-core fast paths
(round-10 optimization) — peel survivors and h-index core numbers are
exact integers, so the fast path must match the DataFrame loops
exactly, row for row, including bounded-round schedules."""

from __future__ import annotations

import random

import pytest

from graphdb_testing_spark.operators import kcore as kmod
from graphdb_testing_spark.operators import util


@pytest.fixture(scope="module")
def layered_edges(spark):
    """Three islands of different density plus a chain — distinct core
    numbers per region and >1 peel round."""
    rng = random.Random(31)
    pairs = set()
    for base, deg in ((0, 3), (200, 6), (400, 10)):
        for u in range(base, base + 60):
            for v in rng.sample(range(base, base + 60), deg):
                if u != v:
                    pairs.add((min(u, v), max(u, v)))
    for i in range(600, 640):
        pairs.add((i, i + 1))
    rows = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(rows, "src long, dst long").localCheckpoint()


@pytest.mark.parametrize("k,max_rounds", [(3, None), (3, 8), (5, None), (1, 2)])
def test_local_kcore_vertices_matches(spark, layered_edges, monkeypatch, k, max_rounds):
    fast = {r["id"] for r in kmod.kcore_vertices(layered_edges, k, max_rounds).collect()}
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {r["id"] for r in kmod.kcore_vertices(layered_edges, k, max_rounds).collect()}
    assert util.FAST_PATH_DECISIONS["kcore_vertices"] is False
    assert fast == slow


@pytest.mark.parametrize("max_rounds,unroll", [(100, 4), (8, 4), (2, 4), (3, 1)])
def test_local_core_numbers_matches(spark, layered_edges, monkeypatch, max_rounds, unroll):
    fast = {
        (r["id"], r["core"])
        for r in kmod.core_numbers(layered_edges, max_rounds=max_rounds, unroll=unroll).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["core"])
        for r in kmod.core_numbers(layered_edges, max_rounds=max_rounds, unroll=unroll).collect()
    }
    assert util.FAST_PATH_DECISIONS["core_numbers"] is False
    assert fast == slow
    assert len(fast) == 221  # 3×60 islands + 41-vertex chain


def test_local_kcore_empty(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert kmod.kcore_vertices(empty, 3).count() == 0
    assert kmod.core_numbers(empty).count() == 0


@pytest.mark.parametrize("one_way", [(4, 0), (4, 9)])
def test_local_kcore_rejects_non_symmetric_table(spark, one_way):
    """Triangle 1-2-3 plus 4↔1 plus a one-way edge: a dst that never
    appears as src breaks the symmetric-table contract.  The
    single-task paths must reject it, not answer {1, 2, 3, 4} (4→0)
    or index past the vertex array (4→9, a dst above every src)."""
    pairs = [(1, 2), (2, 3), (1, 3), (1, 4)]
    rows = pairs + [(v, u) for u, v in pairs] + [one_way]
    e = spark.createDataFrame(rows, "src long, dst long")
    for run in (lambda: kmod.kcore_vertices(e, 2), lambda: kmod.core_numbers(e)):
        with pytest.raises(Exception, match="ValueError: edge table is not symmetric"):
            run().collect()
