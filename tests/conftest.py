"""Shared Spark fixture for the test suite.

Small local session: tests verify CORRECTNESS on micro-graphs and
sf0.001; scale behavior is bench.py's job.
"""

from __future__ import annotations

import pytest

from graphdb_testing_spark.operators import util
from graphdb_testing_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="graphdb-testing-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.driver.memory": "8g"},
    )
    yield s


@pytest.fixture
def fired():
    """``fired(family)``: whether the latest guarded kernel call of
    ``family`` in this test took its single-task path, read from a
    ``util.recording()`` block open for the whole test."""
    with util.recording() as records:
        yield lambda family: [f for fam, _, f in records if fam == family][-1]


@pytest.fixture
def distributed(monkeypatch, fired):
    """``distributed(family, run)``: ``run()`` on the distributed loop
    of ``family`` with a broadcast state and with a shuffled one
    (``BROADCAST_STATE_MAX_ROWS`` at its default and at 0); asserts
    both answer alike and returns the answer.  The single-task guard
    stays off for the rest of the test."""
    bcast = util.BROADCAST_STATE_MAX_ROWS

    def run_both(family, run):
        monkeypatch.setattr(util, "LOCAL_NE_MAX", 0)
        out = []
        for rows in (bcast, 0):
            monkeypatch.setattr(util, "BROADCAST_STATE_MAX_ROWS", rows)
            out.append(run())
            assert fired(family) is False
        assert out[0] == out[1]
        return out[0]

    return run_both


def edges_df(spark, pairs, weights=None):
    """Build a symmetric edge DataFrame from undirected (u, v) pairs."""
    rows = []
    for i, (u, v) in enumerate(pairs):
        w = weights[i] if weights else 1
        rows.append((u, v, w))
        rows.append((v, u, w))
    return spark.createDataFrame(rows, "src long, dst long, wgt long")


@pytest.fixture(scope="session")
def path_graph(spark):
    """P5 path 0-1-2-3-4 plus a disjoint edge 10-11 (2 components)."""
    return edges_df(spark, [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)])


@pytest.fixture(scope="session")
def bowtie_graph(spark):
    """Two triangles sharing vertex 2: (0,1,2) and (2,3,4)."""
    return edges_df(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (2, 4)])


@pytest.fixture(scope="session")
def bridged_cliques(spark):
    """Two K4s {0..3} and {4..7} joined by bridge 3-4."""
    pairs = []
    for group in ([0, 1, 2, 3], [4, 5, 6, 7]):
        for i, u in enumerate(group):
            for v in group[i + 1 :]:
                pairs.append((u, v))
    pairs.append((3, 4))
    return edges_df(spark, pairs)


@pytest.fixture(scope="session")
def star_graph(spark):
    """Star S6: center 0, leaves 1..6."""
    return edges_df(spark, [(0, i) for i in range(1, 7)])
