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
from graphdb_testing_spark.operators import util


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
def test_local_matches_dataframe_path(spark, sym_edges, num_iter, distributed):
    fast = _r6(prmod.pagerank(sym_edges, num_iter=num_iter))
    slow = distributed("pagerank", lambda: _r6(prmod.pagerank(sym_edges, num_iter=num_iter)))
    assert fast == slow


def test_local_warm_start_matches(spark, sym_edges, distributed):
    seed = prmod.pagerank(sym_edges, num_iter=4)
    fast = _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    slow = distributed(
        "pagerank", lambda: _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    )
    assert fast == slow


def test_local_warm_start_to_convergence_matches(spark, sym_edges, distributed):
    """A warm start with no ``num_iter`` stops on the chunk L1 test on
    both sides of the guard, in both state regimes, at the same answer."""
    seed = prmod.pagerank(sym_edges, num_iter=4)
    fast = _r6(prmod.pagerank(sym_edges, init_ranks=seed))
    slow = distributed("pagerank", lambda: _r6(prmod.pagerank(sym_edges, init_ranks=seed)))
    assert fast == slow
    assert fast == _r6(prmod.pagerank(sym_edges))


def test_narrow_warm_start_joins_on_int_ids(spark, sym_edges, monkeypatch, fired):
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

    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    monkeypatch.setattr(cls, "localCheckpoint", spy)
    out = prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3)
    assert fired("pagerank") is False
    assert out.schema["id"].dataType.simpleString() == "bigint"
    assert joins and not any("cast(" in l for l in joins), joins
    monkeypatch.undo()
    want = _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    assert _r6(out) == want


@pytest.mark.parametrize("stale_id", [2**31 + 5, 2**32 + 5])
def test_narrow_warm_start_skips_ids_past_int32(spark, sym_edges, stale_id, monkeypatch, fired):
    """A warm rank for an id past int32 (a vertex deleted since) matches
    no vertex of a narrow graph: the int cast must neither fail nor wrap
    it onto a real vertex (2**32 + 5 wraps to vertex 5)."""
    seed = prmod.pagerank(sym_edges, num_iter=4)
    stale = seed.unionAll(spark.createDataFrame([(stale_id, 0.5)], seed.schema))
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    want = _r6(prmod.pagerank(sym_edges, init_ranks=seed, num_iter=3))
    assert _r6(prmod.pagerank(sym_edges, init_ranks=stale, num_iter=3)) == want
    assert fired("pagerank") is False


def test_local_is_deterministic_across_layouts(spark, sym_edges):
    a = _r6(prmod.pagerank(sym_edges.repartition(7), num_iter=4))
    b = _r6(prmod.pagerank(sym_edges.repartition(3), num_iter=4))
    assert a == b


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
def test_local_weighted_matches(spark, sym_weighted_edges, monkeypatch, num_iter, fired):
    fast = _r6(prmod.weighted_pagerank(sym_weighted_edges, num_iter=num_iter))
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = _r6(prmod.weighted_pagerank(sym_weighted_edges, num_iter=num_iter))
    assert fired("weighted_pagerank") is False
    assert fast == slow


@pytest.mark.parametrize(
    "seeds", [[0, 1, 2], [5], [0, 99999], [0, 2**32 + 5], []]
)
def test_local_personalized_matches(spark, sym_weighted_edges, monkeypatch, seeds, fired):
    """Seeds outside the graph take no reset mass; one past int32 must
    neither fail nor wrap onto vertex 5 on the narrow-id loop; no seeds
    rank every vertex 0."""
    fast = _r6(prmod.personalized_pagerank(sym_weighted_edges, seeds, num_iter=5))
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = _r6(prmod.personalized_pagerank(sym_weighted_edges, seeds, num_iter=5))
    assert fired("personalized_pagerank") is False
    assert fast == slow
    assert seeds or set(fast.values()) == {0.0}


def test_local_weighted_deterministic_across_layouts(spark, sym_weighted_edges):
    a = _r6(prmod.weighted_pagerank(sym_weighted_edges.repartition(7), num_iter=4))
    b = _r6(prmod.weighted_pagerank(sym_weighted_edges.repartition(3), num_iter=4))
    assert a == b



@pytest.mark.parametrize("forced", [False, True])
def test_warm_start_rejects_null_and_nan_ranks(spark, sym_edges, monkeypatch, forced, fired):
    """A warm rank row of a graph vertex with a NULL or NaN pr is
    rejected on both sides of the guard (the distributed loop would
    spread NaN to every vertex); such a row for an id outside the graph
    is ignored like any other stale row."""
    if forced:
        monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    good = [(r["id"], r["pr"]) for r in prmod.pagerank(sym_edges, num_iter=4).collect()]

    def warm_run(rows):
        warm = spark.createDataFrame(rows, "id long, pr double")
        return prmod.pagerank(sym_edges, init_ranks=warm, num_iter=3)

    msg = "init_ranks holds a NULL or NaN pr for a graph vertex"
    for bad in (float("nan"), None):
        with pytest.raises(Exception, match=msg) as err:
            warm_run(good[1:] + [(good[0][0], bad)]).collect()
        # the driver raises ValueError; the single task raises it inside
        assert isinstance(err.value, ValueError) or f"ValueError: {msg}" in str(err.value)
        assert fired("pagerank") is not forced
    stale = [(99999, float("nan")), (99998, None)]
    assert _r6(warm_run(good + stale)) == _r6(warm_run(good))
