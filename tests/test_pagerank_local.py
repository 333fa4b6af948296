"""Parity tests for the guarded single-task PageRank fast path
(round-10 optimization): the NumPy segment-sum kernel must match the
unrolled DataFrame loop to the 6-decimal oracle rounding in every
mode (fixed iterations, convergence, warm start), and the guard must
route large inputs to the DataFrame path."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graphdb_testing_spark.operators import pagerank as prmod


@pytest.fixture(scope="module")
def sym_edges(spark):
    rng = random.Random(17)
    pairs = set()
    for u in range(120):
        for v in rng.sample(range(120), 6):
            if u != v:
                pairs.add((min(u, v), max(u, v)))
    rows = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(rows, "src long, dst long").localCheckpoint()


def _r6(df):
    return {r["id"]: round(r["pr"], 6) for r in df.collect()}


@pytest.mark.parametrize("num_iter", [3, 5, None])
def test_local_matches_dataframe_path(spark, sym_edges, num_iter, monkeypatch):
    fast = _r6(prmod.pagerank(sym_edges, num_iter=num_iter))
    monkeypatch.setattr(prmod, "LOCAL_NE_MAX", 0)
    slow = _r6(prmod.pagerank(sym_edges, num_iter=num_iter))
    assert fast == slow


def test_local_warm_start_matches(spark, sym_edges, monkeypatch):
    seed = prmod.pagerank(sym_edges, num_iter=4)
    fast = _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    monkeypatch.setattr(prmod, "LOCAL_NE_MAX", 0)
    slow = _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    assert fast == slow


def test_narrow_warm_start_joins_on_int_ids(spark, sym_edges, monkeypatch):
    """On the narrow-id path the warm ranks join the int degree table on
    int keys: the join condition casts neither side's id."""
    seed = prmod.pagerank(sym_edges, num_iter=4)
    cls = type(sym_edges)
    real = cls.localCheckpoint
    joins = []

    def spy(self, *a, **k):
        plan = self._jdf.queryExecution().optimizedPlan().toString()
        joins.extend(l for l in plan.splitlines() if "Join LeftOuter" in l)
        return real(self, *a, **k)

    monkeypatch.setattr(prmod, "LOCAL_NE_MAX", 0)
    monkeypatch.setattr(cls, "localCheckpoint", spy)
    out = prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3)
    assert out.schema["id"].dataType.simpleString() == "bigint"
    assert joins and not any("cast(" in l for l in joins), joins
    monkeypatch.undo()
    want = _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    assert _r6(out) == want


@pytest.mark.parametrize("stale_id", [2**31 + 5, 2**32 + 5])
def test_narrow_warm_start_skips_ids_past_int32(spark, sym_edges, stale_id, monkeypatch):
    """A warm rank for an id past int32 (a vertex deleted since) matches
    no vertex of a narrow graph: the int cast must neither fail nor wrap
    it onto a real vertex (2**32 + 5 wraps to vertex 5)."""
    seed = prmod.pagerank(sym_edges, num_iter=4)
    stale = seed.unionAll(spark.createDataFrame([(stale_id, 0.5)], seed.schema))
    monkeypatch.setattr(prmod, "LOCAL_NE_MAX", 0)
    want = _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    assert _r6(prmod.pagerank(sym_edges, init_ranks=stale, num_iter=3)) == want


def test_local_is_deterministic_across_layouts(spark, sym_edges):
    a = _r6(prmod.pagerank(sym_edges.repartition(7), num_iter=4))
    b = _r6(prmod.pagerank(sym_edges.repartition(3), num_iter=4))
    assert a == b


def test_dst_partitioned_stays_on_dataframe_path(spark, sym_edges):
    """The layout-flag variant must keep its plan (the flag exists to
    A/B the distributed layout) — parity of values still holds."""
    flag = _r6(prmod.pagerank(sym_edges, num_iter=3, dst_partitioned=True))
    fast = _r6(prmod.pagerank(sym_edges, num_iter=3))
    assert flag == fast


def test_mass_conservation(spark, sym_edges):
    out = prmod.pagerank(sym_edges, num_iter=5)
    total = out.agg(F.sum("pr")).collect()[0][0]
    assert abs(total - 1.0) < 1e-9


@pytest.fixture(scope="module")
def sym_weighted_edges(spark):
    rng = random.Random(19)
    w = {}
    for u in range(120):
        for v in rng.sample(range(120), 6):
            if u != v:
                w[(min(u, v), max(u, v))] = rng.randint(1, 7)
    rows = [(u, v, x) for (u, v), x in w.items()] + [
        (v, u, x) for (u, v), x in w.items()
    ]
    return spark.createDataFrame(rows, "src long, dst long, wgt long").localCheckpoint()


@pytest.mark.parametrize("num_iter", [1, 5])
def test_local_weighted_matches(spark, sym_weighted_edges, monkeypatch, num_iter):
    fast = _r6(prmod.weighted_pagerank(sym_weighted_edges, num_iter=num_iter))
    monkeypatch.setattr(prmod, "LOCAL_NE_MAX", 0)
    slow = _r6(prmod.weighted_pagerank(sym_weighted_edges, num_iter=num_iter))
    assert fast == slow


@pytest.mark.parametrize("seeds", [[0, 1, 2], [5], [0, 99999]])
def test_local_personalized_matches(spark, sym_weighted_edges, monkeypatch, seeds):
    fast = _r6(prmod.personalized_pagerank(sym_weighted_edges, seeds, num_iter=5))
    monkeypatch.setattr(prmod, "LOCAL_NE_MAX", 0)
    slow = _r6(prmod.personalized_pagerank(sym_weighted_edges, seeds, num_iter=5))
    assert fast == slow


def test_local_weighted_deterministic_across_layouts(spark, sym_weighted_edges):
    a = _r6(prmod.weighted_pagerank(sym_weighted_edges.repartition(7), num_iter=4))
    b = _r6(prmod.weighted_pagerank(sym_weighted_edges.repartition(3), num_iter=4))
    assert a == b
