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


def test_local_cc_matches_dataframe_path(spark, multi_component_edges, monkeypatch, fired):
    fast = {
        (r["id"], r["label"])
        for r in compmod.connected_components(multi_component_edges).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["label"])
        for r in compmod.connected_components(multi_component_edges).collect()
    }
    assert fired("components") is False
    assert fast == slow
    labels = {lab for _, lab in fast}
    assert labels == {0, 200, 400, 600}


def test_local_cc_empty(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert compmod.connected_components(empty).count() == 0


def test_local_bfs_matches_dataframe_path(spark, multi_component_edges, monkeypatch, fired):
    fast = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600).collect()
    }
    assert fired("bfs") is False
    assert fast == slow
    # chain end is 40 hops away; islands unreachable (absent)
    assert (640, 40) in fast
    assert len(fast) == 41


def test_local_bfs_max_depth_and_missing_source(spark, multi_component_edges, monkeypatch, fired):
    fast = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600, max_depth=3).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600, max_depth=3).collect()
    }
    assert fired("bfs") is False
    assert fast == slow
    assert max(d for _, d in fast) == 3
    monkeypatch.undo()
    # a source without edges keeps its (source, 0) row on both paths
    for guard in (util.LOCAL_NE_MAX, 0):
        monkeypatch.setattr(util, "LOCAL_NE_MAX", guard)
        seed_only = bfsmod.bfs(multi_component_edges, 99999).collect()
        assert fired("bfs") is (guard > 0)
        assert [(r["id"], r["dist"]) for r in seed_only] == [(99999, 0)]


def test_distributed_cc_without_jump_runs_many_chunks(
    spark, multi_component_edges, monkeypatch, fired
):
    """A loop that nothing shortcuts: forced BFS from 600 over the
    40-hop chain runs ten 4-round chunks, each ending with vertices
    still active, then one that leaves none, and answers like the
    single-task path."""
    fast = {(r["id"], r["dist"]) for r in bfsmod.bfs(multi_component_edges, 600).collect()}
    active = []
    observed = util.observed_checkpoint

    def spy(df, *metrics):
        df, r = observed(df, *metrics)
        if "m" in r:
            active.append(r["m"])
        return df, r

    monkeypatch.setattr(util, "observed_checkpoint", spy)
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {(r["id"], r["dist"]) for r in bfsmod.bfs(multi_component_edges, 600).collect()}
    assert fired("bfs") is False
    assert fast == slow
    assert len(active) == 11 and min(active[:10]) > 0 and active[10] == 0


def test_distributed_bfs_max_depth_mid_chunk(spark, multi_component_edges, monkeypatch, fired):
    fast = {
        (r["id"], r["dist"])
        for r in bfsmod.bfs(multi_component_edges, 600, max_depth=6).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = bfsmod.bfs(multi_component_edges, 600, max_depth=6)
    assert fired("bfs") is False
    assert slow.schema.simpleString() == "struct<id:bigint,dist:int>"
    assert fast == {(r["id"], r["dist"]) for r in slow.collect()}
    assert len(fast) == 7 and (606, 6) in fast


def test_distributed_bfs_source_past_int32(spark, multi_component_edges, monkeypatch, fired):
    """Every graph id fits int32 but the source does not: the loop must
    stay on long ids and answer like the single-task path."""
    source = 2**31 + 7
    fast = [(r["id"], r["dist"]) for r in bfsmod.bfs(multi_component_edges, source).collect()]
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = [(r["id"], r["dist"]) for r in bfsmod.bfs(multi_component_edges, source).collect()]
    assert fired("bfs") is False
    assert fast == slow == [(source, 0)]


def test_shuffled_state_loops_match_single_task(spark, multi_component_edges, monkeypatch, fired):
    """Forcing the broadcast threshold to 0 runs the one semi-naive
    loop of CC and of BFS with a shuffled state, which must answer like
    the single-task path: CC, BFS with a 6-level cut inside 4-level
    checkpoints, a source without edges and a source past int32."""

    def cc():
        return {
            (r["id"], r["label"])
            for r in compmod.connected_components(multi_component_edges).collect()
        }

    def levels(source, **kw):
        out = bfsmod.bfs(multi_component_edges, source, **kw)
        return {(r["id"], r["dist"]) for r in out.collect()}

    want_cc, want_bfs = cc(), levels(600, max_depth=6)
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    monkeypatch.setattr(util, "BROADCAST_STATE_MAX_ROWS", 0)
    assert cc() == want_cc
    assert fired("components") is False
    assert levels(600, max_depth=6) == want_bfs
    assert fired("bfs") is False
    assert levels(99999) == {(99999, 0)}
    assert levels(2**31 + 7) == {(2**31 + 7, 0)}


def test_guard_records_every_call(spark, multi_component_edges, monkeypatch):
    """One kernel called at two sizes across the guard bound shows both
    decisions, each with its edge count, in one ``recording()`` block;
    outside a block no record is kept."""
    chain = multi_component_edges.where(F.col("src") >= 600)
    n_chain, n_all = chain.count(), multi_component_edges.count()
    monkeypatch.setattr(util, "LOCAL_NE_MAX", n_chain)
    with util.recording() as records:
        compmod.connected_components(chain).collect()
        compmod.connected_components(multi_component_edges).collect()
    assert records == [("components", n_chain, True), ("components", n_all, False)]
    compmod.connected_components(chain).collect()
    assert records == [("components", n_chain, True), ("components", n_all, False)]
    assert not util._RECORDINGS
