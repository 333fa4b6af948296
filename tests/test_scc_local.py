"""Parity tests for the guarded single-task SCC fast path and the
exact_triangle_count helper (round-10 optimization) — both outputs
are structurally determined (min-id under mutual reachability;
distinct-triangle total), so fast path == DataFrame path exactly."""

from __future__ import annotations

import random

import pytest

from graphdb_testing_spark.operators import scc as sccmod
from graphdb_testing_spark.operators import triangles as trimod


@pytest.fixture(scope="module")
def directed_edges(spark):
    """Three directed cycles bridged by one-way edges, plus a DAG tail
    and an isolated 2-cycle — multiple SCC sizes and a >1-deep
    condensation."""
    rows = []
    for base, size in ((0, 8), (100, 5), (200, 12)):
        for i in range(size):
            rows.append((base + i, base + (i + 1) % size))
    rows += [(7, 100), (104, 200), (211, 300)]  # one-way bridges
    for i in range(300, 310):
        rows.append((i, i + 1))  # DAG tail of singletons
    rows += [(400, 401), (401, 400)]
    rng = random.Random(61)
    for _ in range(20):  # chords inside the big cycle
        a, b = rng.randrange(200, 212), rng.randrange(200, 212)
        if a != b:
            rows.append((a, b))
    return spark.createDataFrame(rows, "src long, dst long").localCheckpoint()


def test_local_scc_matches_dataframe_path(spark, directed_edges, distributed):
    def run():
        return {
            (r["id"], r["scc_id"])
            for r in sccmod.strongly_connected_components(directed_edges).collect()
        }

    fast = run()
    assert fast == distributed("strongly_connected_components", run)
    # the three cycles + the 2-cycle are components; DAG tail singletons
    labels = {}
    for i, s in fast:
        labels.setdefault(s, set()).add(i)
    assert set(labels[0]) == set(range(8))
    assert set(labels[400]) == {400, 401}


def test_exact_triangle_count_matches_enumeration(spark, monkeypatch):
    rng = random.Random(67)
    pairs = set()
    for u in range(80):
        for v in rng.sample(range(80), 10):
            if u != v:
                pairs.add((min(u, v), max(u, v)))
    rows = [(u, v) for u, v in pairs] + [(v, u) for u, v in pairs]
    sym = spark.createDataFrame(rows, "src long, dst long").localCheckpoint()
    canon = spark.createDataFrame(sorted(pairs), "src long, dst long")
    dense_sym = trimod.exact_triangle_count(sym, symmetric=True)
    dense_canon = trimod.exact_triangle_count(canon, symmetric=False)
    enum = trimod._oriented_triangles(sym).count()
    assert dense_sym == dense_canon == enum
