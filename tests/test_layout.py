"""The graph layout (``util.layout``): built once per edge DataFrame,
shared by CC, BFS and PageRank, never reused for another DataFrame,
released when its DataFrame dies; and the distributed answers it
feeds agree with the single-task side of every guard."""

from __future__ import annotations

import gc

import pytest
from pyspark import StorageLevel

from graphdb_testing_spark.operators import bfs as bfsmod
from graphdb_testing_spark.operators import components as compmod
from graphdb_testing_spark.operators import pagerank as prmod
from graphdb_testing_spark.operators import util
from graphdb_testing_spark.operators.updates import apply_actions

from tests.conftest import edges_df


def _ring(spark, n=12):
    """A ring of ``n`` vertices plus a disjoint edge (2 components)."""
    return edges_df(spark, [(i, (i + 1) % n) for i in range(n)] + [(100, 101)])


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _jobs(spark, group, fn):
    """``(rows, jobs)`` of ``fn()`` collected under its own job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = _rows(fn())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "name,call",
    [
        ("cc", compmod.connected_components),
        ("bfs", lambda e: bfsmod.bfs(e, 0)),
        ("pagerank", lambda e: prmod.pagerank(e, num_iter=3)),
    ],
)
def test_second_call_reuses_the_layout(spark, monkeypatch, name, call):
    """A second call on the same DataFrame skips the set-up: it runs
    fewer Spark jobs than the first and gives the same answer."""
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    edges = _ring(spark)
    first, j1 = _jobs(spark, f"layout-{name}-1", lambda: call(edges))
    second, j2 = _jobs(spark, f"layout-{name}-2", lambda: call(edges))
    assert second == first
    assert j2 < j1, (j1, j2)


def test_derived_dataframe_builds_its_own_layout(spark, monkeypatch):
    """``apply_actions`` output is a new DataFrame: it must not hit the
    layout of the table it came from."""
    edges = _ring(spark)
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    compmod.connected_components(edges).collect()
    # join the pair 100-101 to the ring and delete the ring edge 0-1
    acts = spark.createDataFrame(
        [(0, 11, 100, 1), (1, -1, -2, 1)], "seq long, src long, dst long, weight long"
    )
    after = apply_actions(edges, acts)
    slow = _rows(compmod.connected_components(after))
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 8_000_000)
    assert slow == _rows(compmod.connected_components(after))
    assert {label for _, label in slow} == {0}


def test_layout_released_with_its_dataframe(spark):
    edges = _ring(spark)
    lay = util.layout(edges)
    rel = lay.loops(lay.nv)
    assert rel.storageLevel.useMemory
    del edges
    gc.collect()
    assert rel.storageLevel == StorageLevel(False, False, False, False, 1)


def test_bfs_edgeless_source_both_sides(spark, distributed):
    """A source without edges inside the ids' range, and one past int32
    on an int32 graph: only the source's own row, on every path."""
    edges = _ring(spark)
    sources = [55, 2**31 + 7]
    for source in sources:
        fast = _rows(bfsmod.bfs(edges, source))
        assert fast == [(source, 0)]
        assert distributed("bfs", lambda: _rows(bfsmod.bfs(edges, source))) == fast
    roots = [0, *sources]
    fast = _rows(bfsmod.multi_source_bfs(edges, roots, max_depth=3))
    slow = distributed(
        "multi_source_bfs", lambda: _rows(bfsmod.multi_source_bfs(edges, roots, max_depth=3))
    )
    assert slow == fast and all((s, s, 0) in fast for s in sources)


def test_cc_closed_non_symmetric_both_sides(spark, distributed):
    """A directed 3-cycle 1 → 2 → 3 → 1 with an extra edge 0 → 2: every
    dst is a src (closed) but the table is not symmetric, so the label
    depends on the direction labels travel.  Both sides of the guard
    travel the same way and agree."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (0, 2)], "src long, dst long"
    )
    fast = _rows(compmod.connected_components(edges))
    assert [v for v, _ in fast] == [0, 1, 2, 3]
    assert distributed("components", lambda: _rows(compmod.connected_components(edges))) == fast


def test_cc_pointer_jump_keeps_no_size_estimate(spark, monkeypatch):
    """The per-chunk pointer jump self-joins the labels; checkpointed
    labels that kept their estimate squared it every chunk (10,606 bits
    on this path).  Rebuilt without one, it stays small."""
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    labels = compmod.connected_components(edges_df(spark, [(i, i + 1) for i in range(300)]))
    size = labels._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    assert int(size).bit_length() < 200
    assert {r["label"] for r in labels.collect()} == {0}
