"""Parity test for the guarded single-task agglomeration fast path
(round-10 optimization, deterministic ``min_score_filter=False``
variant only — the mean-filter path stays on the DataFrame loop)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from graphdb_testing_spark.operators import community as cmod
from graphdb_testing_spark.operators import util


@pytest.fixture(scope="module")
def weighted_edges(spark):
    """Two planted communities with heavy internal / light cross
    weights plus a sprinkle of noise — several contraction levels."""
    rng = random.Random(47)
    w = {}
    for base in (0, 100):
        for u in range(base, base + 40):
            for v in rng.sample(range(base, base + 40), 6):
                if u != v:
                    w[(min(u, v), max(u, v))] = rng.randint(2, 9)
    for _ in range(30):
        u, v = rng.randrange(0, 40), rng.randrange(100, 140)
        w[(u, v)] = 1
    rows = [(u, v, float(x)) for (u, v), x in w.items()] + [
        (v, u, float(x)) for (u, v), x in w.items()
    ]
    return spark.createDataFrame(
        rows, "src long, dst long, wgt double"
    ).localCheckpoint()


@pytest.mark.parametrize("levels", [1, 3, 10])
def test_local_agglomeration_matches(spark, weighted_edges, monkeypatch, levels, fired):
    fast = {
        (r["id"], r["community"])
        for r in cmod.community_agglomeration(
            weighted_edges, max_levels=levels, min_score_filter=False
        ).collect()
    }
    monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
    slow = {
        (r["id"], r["community"])
        for r in cmod.community_agglomeration(
            weighted_edges, max_levels=levels, min_score_filter=False
        ).collect()
    }
    assert fired("community_agglomeration") is False
    assert fast == slow
    assert len(fast) == 80


def test_mean_filter_path_not_fast_pathed(spark, weighted_edges):
    # the mean-filter variant must keep the DataFrame plan (no
    # single-task MapInPandas node)
    df = cmod.community_agglomeration(
        weighted_edges, max_levels=1, min_score_filter=True
    )
    assert "MapInPandas" not in df._jdf.queryExecution().executedPlan().toString()
