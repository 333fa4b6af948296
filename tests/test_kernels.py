"""The four benchmark kernels on hand-built micro-graphs (SURVEY.md §2.4)."""

from __future__ import annotations

import pytest

from graphdb_testing_spark.operators.bfs import bfs, bfs_levels, eccentricity
from graphdb_testing_spark.operators.components import (
    component_count,
    component_sizes,
    connected_components,
)
from graphdb_testing_spark.operators import util
from graphdb_testing_spark.operators.pagerank import pagerank


def test_cc_two_components(spark, path_graph):
    labels = connected_components(path_graph)
    got = {r.id: r.label for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 10: 10, 11: 10}
    assert component_count(labels) == 2
    sizes = {r.label: r.size for r in component_sizes(labels).collect()}
    assert sizes == {0: 5, 10: 2}


def test_cc_single_component(spark, bridged_cliques):
    labels = connected_components(bridged_cliques)
    assert component_count(labels) == 1
    assert labels.filter("label != 0").count() == 0


def test_bfs_path_distances(spark, path_graph):
    dist = bfs(path_graph, source=0)
    got = {r.id: r.dist for r in dist.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}  # 10, 11 unreachable: absent
    assert eccentricity(dist) == 4
    levels = {r.dist: r.frontier_size for r in bfs_levels(dist).collect()}
    assert levels == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1}


def test_bfs_bridged_cliques(spark, bridged_cliques):
    dist = bfs(bridged_cliques, source=0)
    got = {r.id: r.dist for r in dist.collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 2, 5: 3, 6: 3, 7: 3}


def test_pagerank_star_closed_form(spark, star_graph):
    pr = {r.id: r.pr for r in pagerank(star_graph).collect()}
    # closed form for S6: c = (0.15*6.1/7)/(1-0.7225), l = 0.15/7 + 0.85*c/6
    c = (0.15 * 6.1 / 7) / (1 - 0.85 * 0.85 * 6 / 6)
    l = 0.15 / 7 + 0.85 * c / 6
    assert pr[0] == pytest.approx(c, abs=1e-6)
    for leaf in range(1, 7):
        assert pr[leaf] == pytest.approx(l, abs=1e-6)
    assert sum(pr.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_fixed_iterations_deterministic(spark, bowtie_graph):
    a = {r.id: r.pr for r in pagerank(bowtie_graph, num_iter=5).collect()}
    b = {r.id: r.pr for r in pagerank(bowtie_graph, num_iter=5).collect()}
    assert a == b
    # symmetric roles: 0,1,3,4 identical by symmetry; 2 is the hub
    assert a[0] == pytest.approx(a[4], abs=1e-12)
    assert a[2] > a[0]


def test_pagerank_convergent_matches_networkx(spark):
    """The eps-exit path against the reference's own library
    semantics (``tests/networkx/test_python.py:125`` validates the
    engine under test against ``networkx.pagerank``): L∞ ≤ 1e-6 on a
    SCALE-10 R-MAT graph."""
    nx = pytest.importorskip("networkx")
    from graphdb_testing_spark.sources import rmat

    g = rmat.rmat_graph(spark, scale=10, edge_factor=8, seed=7)
    rows = g.collect()
    G = nx.DiGraph()
    G.add_edges_from((r.src, r.dst) for r in rows)
    try:
        expected = nx.pagerank(
            G, alpha=0.85, tol=1e-12, max_iter=1000, weight=None
        )
    except ModuleNotFoundError:
        # nx 3.x public pagerank delegates to scipy; this container has
        # networkx but not scipy — use nx's own pure-Python power
        # iteration (identical semantics, same module)
        from networkx.algorithms.link_analysis.pagerank_alg import (
            _pagerank_python,
        )

        expected = _pagerank_python(
            G, alpha=0.85, tol=1e-12, max_iter=1000, weight=None
        )
    got = {r.id: r.pr for r in pagerank(g, tol=1e-8).collect()}
    assert set(got) == set(expected)
    linf = max(abs(got[k] - expected[k]) for k in expected)
    assert linf <= 1e-6
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_kernels_empty_graph(spark):
    from graphdb_testing_spark.operators.components import connected_components
    from graphdb_testing_spark.operators.pagerank import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0
    pr = pagerank(empty)
    assert pr.count() == 0
    assert [f.name for f in pr.schema.fields] == ["id", "pr"]


def test_sssp_weighted_path(spark):
    from tests.conftest import edges_df

    from graphdb_testing_spark.operators.bfs import sssp_weighted

    # 0 -2- 1 -3- 2, plus a heavy shortcut 0 -10- 2
    g = edges_df(spark, [(0, 1), (1, 2), (0, 2)], weights=[2, 3, 10])
    dist = {r.id: r.dist for r in sssp_weighted(g, 0, rounds=4).collect()}
    assert dist == {0: 0, 1: 2, 2: 5}  # via 1, not the weight-10 edge


def test_sssp_weighted_bounded_rounds(spark):
    from tests.conftest import edges_df

    from graphdb_testing_spark.operators.bfs import sssp_weighted

    g = edges_df(spark, [(0, 1), (1, 2)], weights=[2, 3])
    dist = {r.id: r.dist for r in sssp_weighted(g, 0, rounds=1).collect()}
    assert dist == {0: 0, 1: 2}  # vertex 2 unreached after one round


def test_personalized_pagerank_mass_returns_to_seeds(spark, bridged_cliques):
    from pyspark.sql import functions as F

    from graphdb_testing_spark.operators.pagerank import personalized_pagerank

    pr = personalized_pagerank(bridged_cliques, [0], num_iter=30)
    rows = {r.id: r.pr for r in pr.collect()}
    # mass concentrates around the seed; total stays ~1 on this
    # connected graph (no dangling vertices)
    assert abs(sum(rows.values()) - 1.0) < 1e-6
    assert rows[0] == max(rows.values())
    far = max(rows, key=lambda v: rows[v] if v != 0 else -1)
    assert rows[0] > rows[far]


def test_personalized_pagerank_unreachable_is_zero(spark, path_graph):
    from graphdb_testing_spark.operators.pagerank import personalized_pagerank

    # path_graph has a disjoint 10-11 edge; seed in the 0-4 component
    pr = personalized_pagerank(path_graph, [0], num_iter=20)
    rows = {r.id: r.pr for r in pr.collect()}
    assert rows[10] == 0.0 and rows[11] == 0.0
    assert rows[0] > 0.2


@pytest.mark.parametrize("ne_max", [util.LOCAL_NE_MAX, 0])
def test_weighted_pagerank_uniform_weights_match_unweighted(
    spark, bridged_cliques, ne_max, monkeypatch, fired
):
    """w ≡ 1 is plain PageRank on both sides of the guard: the
    single-task kernel and the shared distributed loop."""
    from graphdb_testing_spark.operators.pagerank import weighted_pagerank

    monkeypatch.setattr(util, "LOCAL_NE_MAX", ne_max)
    pr_u = {r.id: r.pr for r in pagerank(bridged_cliques, num_iter=8).collect()}
    pr_w = {r.id: r.pr for r in weighted_pagerank(bridged_cliques, num_iter=8).collect()}
    assert fired("weighted_pagerank") is (ne_max > 0)
    assert set(pr_u) == set(pr_w)
    for v in pr_u:
        assert abs(pr_u[v] - pr_w[v]) < 1e-12


def test_weighted_pagerank_weight_pulls_rank(spark):
    from tests.conftest import edges_df
    from graphdb_testing_spark.operators.pagerank import weighted_pagerank

    # star 0-1, 0-2 with heavy weight toward 1: vertex 1 outranks 2
    g = edges_df(spark, [(0, 1), (0, 2)], weights=[9, 1])
    pr = {r.id: r.pr for r in weighted_pagerank(g, num_iter=20).collect()}
    assert pr[1] > pr[2]
    assert abs(sum(pr.values()) - 1.0) < 1e-9


def test_multi_source_bfs_matches_single_source(spark, path_graph):
    from pyspark.sql import functions as F

    from graphdb_testing_spark.operators.bfs import multi_source_bfs

    roots = [0, 2, 10]
    multi = multi_source_bfs(path_graph, roots)
    for r in roots:
        single = {(row.id, row.dist) for row in bfs(path_graph, r).collect()}
        per_root = {
            (row.id, row.dist)
            for row in multi.filter(F.col("root") == r).select("id", "dist").collect()
        }
        assert per_root == single, r


def test_first_path_round_joins_on_an_equi_key(spark, path_graph, distributed, monkeypatch):
    """The path kernels' seed rows are data, not literals: a literal
    seed id folds into the first round's join condition, which then has
    no equi-key and plans as a nested-loop join in both state regimes."""
    from graphdb_testing_spark.operators import bfs as bfs_mod

    real = bfs_mod.semiring_round
    plans, firsts = [], []

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        plans.append(out._jdf.queryExecution().executedPlan().toString())
        return out

    def run():
        plans.clear()
        rows = sorted(bfs_mod.bfs(path_graph, 0).collect())
        firsts.append(plans[0])
        return rows

    monkeypatch.setattr(bfs_mod, "semiring_round", spy)
    assert distributed("bfs", run) == [(v, v) for v in range(5)]
    assert len(firsts) == 2
    for plan in firsts:
        assert "NestedLoopJoin" not in plan and "HashJoin" in plan, plan


def test_broadcast_regime_round_has_no_exchange(spark, bridged_cliques):
    """With a broadcast state, the semi-naive round relation is
    hash-partitioned on ``src`` and persisted, so an unrolled chunk of
    rounds plans no Exchange besides the state broadcasts (the
    relation's own REPARTITION_BY_NUM exchange lives inside its cached
    plan and runs once)."""
    from pyspark.sql import functions as F

    from graphdb_testing_spark.operators.util import (
        self_loop_relation,
        semiring_round,
        vertex_ids,
    )

    ids, nv, key = vertex_ids(bridged_cliques)
    rel = self_loop_relation(
        bridged_cliques.select("src", "dst"), ids, key, bridged_cliques.count(), nv
    )
    assert rel.is_cached and key == "int"
    state = ids.select(
        F.col("id").cast(key).alias("id"),
        F.col("id").cast(key).alias("label"),
        F.lit(True).alias("active"),
    )
    for _ in range(3):  # vertex 7 is 3 hops from 0
        state = semiring_round(rel, state, nv, "label", lambda v: v + 0)
    plan = state._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan and "BroadcastExchange" in plan, plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert {(r.id, r.label) for r in state.collect()} == {(v, 0) for v in range(8)}
    rel.unpersist()
    ids.unpersist()
