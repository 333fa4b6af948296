"""Parity tests for the guarded single-task CC / BFS fast paths
(round-10 optimization) — outputs are integer/structural, so the fast
path must match the DataFrame loops exactly, row for row."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graphdb_testing_spark.operators import bfs as bfsmod
from graphdb_testing_spark.operators import components as compmod
from graphdb_testing_spark.operators import util


@pytest.fixture(scope="module")
def multi_component_edges(spark):
    rng = random.Random(23)
    pairs = set()
    # three islands with distinct id ranges + a long chain (exercises
    # pointer jumping and >1 BFS level)
    for base in (0, 200, 400):
        for u in range(base, base + 60):
            for v in rng.sample(range(base, base + 60), 3):
                if u != v:
                    pairs.add((min(u, v), max(u, v)))
    for i in range(600, 640):
        pairs.add((i, i + 1))
    rows = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    return spark.createDataFrame(rows, "src long, dst long").localCheckpoint()


def test_local_cc_matches_dataframe_path(spark, multi_component_edges, monkeypatch):
    fast = {
        (r["id"], r["label"])
        for r in compmod.connected_components(multi_component_edges).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["label"])
        for r in compmod.connected_components(multi_component_edges).collect()
    }
    assert util.FAST_PATH_DECISIONS["components"] is False
    assert fast == slow
    labels = {lab for _, lab in fast}
    assert labels == {0, 200, 400, 600}


def test_local_cc_empty(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert compmod.connected_components(empty).count() == 0


def test_local_bfs_matches_dataframe_path(spark, multi_component_edges, monkeypatch):
    fast = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600).collect()
    }
    assert util.FAST_PATH_DECISIONS["bfs"] is False
    assert fast == slow
    # chain end is 40 hops away; islands unreachable (absent)
    assert (640, 40) in fast
    assert len(fast) == 41


def test_local_bfs_max_depth_and_missing_source(spark, multi_component_edges, monkeypatch):
    fast = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600, max_depth=3).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600, max_depth=3).collect()
    }
    assert util.FAST_PATH_DECISIONS["bfs"] is False
    assert fast == slow
    assert max(d for _, d in fast) == 3
    monkeypatch.undo()
    # a source without edges keeps its (source, 0) row on both paths
    for guard in (util.LOCAL_NE_MAX, 0):
        monkeypatch.setattr(util, "LOCAL_NE_MAX", guard)
        seed_only = bfsmod.bfs(multi_component_edges, 99999).collect()
        assert util.FAST_PATH_DECISIONS["bfs"] is (guard > 0)
        assert [(r["id"], r["dist"]) for r in seed_only] == [(99999, 0)]


def test_distributed_cc_without_jump_runs_many_chunks(spark, multi_component_edges, monkeypatch):
    """No pointer jump: the 40-hop chain needs ~40 semi-naive rounds,
    i.e. ten 4-round chunks, each ending with vertices still active."""
    fast = {
        (r["id"], r["label"])
        for r in compmod.connected_components(multi_component_edges).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["label"])
        for r in compmod.connected_components(
            multi_component_edges, pointer_jump=False
        ).collect()
    }
    assert util.FAST_PATH_DECISIONS["components"] is False
    assert fast == slow


def test_distributed_bfs_max_depth_mid_chunk(spark, multi_component_edges, monkeypatch):
    fast = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600, max_depth=6).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = bfsmod.bfs(multi_component_edges, 600, max_depth=6)
    assert util.FAST_PATH_DECISIONS["bfs"] is False
    assert slow.schema.simpleString() == "struct<id:bigint,dist:int>"
    assert fast == {(r["id"], r["dist"]) for r in slow.collect()}
    assert len(fast) == 7 and (606, 6) in fast


def test_distributed_bfs_source_past_int32(spark, multi_component_edges, monkeypatch):
    """Every graph id fits int32 but the source does not: the loop must
    stay on long ids and answer like the single-task path."""
    source = 2**31 + 7
    fast = [(r["id"], r["dist"]) for r in bfsmod.bfs(multi_component_edges, source).collect()]
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = [(r["id"], r["dist"]) for r in bfsmod.bfs(multi_component_edges, source).collect()]
    assert util.FAST_PATH_DECISIONS["bfs"] is False
    assert fast == slow == [(source, 0)]


def test_shuffled_state_loops_match_single_task(spark, multi_component_edges, monkeypatch):
    """Forcing the broadcast threshold to 0 runs the one semi-naive
    loop of CC and of BFS with a shuffled state, which must answer like
    the single-task path: CC with and without pointer jumping (the
    40-hop chain then stops on the active count after many chunks),
    BFS with a 6-level cut inside 4-level checkpoints, a source without
    edges and a source past int32."""

    def cc(**kw):
        return {
            (r["id"], r["label"])
            for r in compmod.connected_components(multi_component_edges, **kw).collect()
        }

    def levels(source, **kw):
        out = bfsmod.bfs(multi_component_edges, source, **kw)
        return {(r["id"], r["dist"]) for r in out.collect()}

    want_cc, want_bfs = cc(), levels(600, max_depth=6)
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    monkeypatch.setattr(util, "BROADCAST_STATE_MAX_ROWS", 0)
    assert cc() == want_cc
    assert util.FAST_PATH_DECISIONS["components"] is False
    assert cc(pointer_jump=False) == want_cc
    assert levels(600, max_depth=6) == want_bfs
    assert util.FAST_PATH_DECISIONS["bfs"] is False
    assert levels(99999) == {(99999, 0)}
    assert levels(2**31 + 7) == {(2**31 + 7, 0)}
