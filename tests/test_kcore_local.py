"""Parity tests for the guarded single-task k-core fast paths
(round-10 optimization) — peel survivors and h-index core numbers are
exact integers, so the fast path must match the DataFrame loops (with
a broadcast and with a shuffled loop state) and a plain-Python
reference exactly, row for row, including bounded-round schedules,
self-edges and duplicated edge rows."""

from __future__ import annotations

import random
from collections import Counter, defaultdict

import pytest

from graphdb_testing_spark.operators import kcore as kmod


@pytest.fixture(scope="module")
def layered_rows():
    """Three islands of different density plus a chain — distinct core
    numbers per region and >1 peel round — with a real ``(620, 620)``
    edge (it counts toward 620's degree) and the chain edge 630-631
    present twice in both directions."""
    rng = random.Random(31)
    pairs = set()
    for base, deg in ((0, 3), (200, 6), (400, 10)):
        for u in range(base, base + 60):
            for v in rng.sample(range(base, base + 60), deg):
                if u != v:
                    pairs.add((min(u, v), max(u, v)))
    for i in range(600, 640):
        pairs.add((i, i + 1))
    return (
        [(u, v) for u, v in pairs]
        + [(v, u) for u, v in pairs]
        + [(620, 620), (630, 631), (631, 630)]
    )


@pytest.fixture(scope="module")
def layered_edges(spark, layered_rows):
    return spark.createDataFrame(layered_rows, "src long, dst long").localCheckpoint()


def _peel(rows, k, max_rounds):
    """Plain-Python peel: recount each survivor's edge rows to
    survivors, drop < k, until nothing drops or ``max_rounds``."""
    alive = {u for u, _ in rows}
    for _ in range(len(alive) if max_rounds is None else max_rounds):
        deg = Counter(u for u, v in rows if u in alive and v in alive)
        nxt = {u for u in alive if deg[u] >= k}
        if nxt == alive:
            break
        alive = nxt
    return alive


def _h_index(rows, max_rounds):
    """Plain-Python iterated neighborhood h-index from the degrees."""
    nbrs = defaultdict(list)
    for u, v in rows:
        nbrs[u].append(v)
    core = {u: len(vs) for u, vs in nbrs.items()}
    for _ in range(max_rounds):
        new = {}
        for u, vs in nbrs.items():
            vals = sorted((core[v] for v in vs), reverse=True)
            new[u] = sum(c >= i + 1 for i, c in enumerate(vals))
        if new == core:
            break
        core = new
    return set(core.items())


@pytest.mark.parametrize("k,max_rounds", [(3, None), (3, 8), (5, None), (1, 2)])
def test_local_kcore_vertices_matches(
    spark, layered_edges, layered_rows, distributed, k, max_rounds
):
    fast = {r["id"] for r in kmod.kcore_vertices(layered_edges, k, max_rounds).collect()}
    slow = distributed(
        "kcore_vertices",
        lambda: {r["id"] for r in kmod.kcore_vertices(layered_edges, k, max_rounds).collect()},
    )
    assert fast == slow
    assert fast == _peel(layered_rows, k, max_rounds)


@pytest.mark.parametrize("max_rounds", [100, 8, 2, 3])
def test_local_core_numbers_matches(spark, layered_edges, layered_rows, distributed, max_rounds):
    fast = {
        (r["id"], r["core"])
        for r in kmod.core_numbers(layered_edges, max_rounds=max_rounds).collect()
    }
    slow = distributed(
        "core_numbers",
        lambda: {
            (r["id"], r["core"])
            for r in kmod.core_numbers(layered_edges, max_rounds=max_rounds).collect()
        },
    )
    assert fast == slow
    assert fast == _h_index(layered_rows, max_rounds)
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
