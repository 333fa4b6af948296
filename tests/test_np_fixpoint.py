"""Spark-free property test of the single-task semiring loop
(``util.np_fixpoint`` over ``util.np_edges``): on seeded random
symmetric tables with duplicate rows, real ``(u, u)`` edges, negative
weights, sources without edges and round bounds 0..7, the semi-naive
loop must give exactly what plain-Python relaxation from every vertex
gives, for ``(min, + 1)``, ``(min, + wgt)`` and ``(max, least)``."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from graphdb_testing_spark.operators.util import np_edges, np_fixpoint

#: ``(plus, python plus, times, numpy times, seed value, unreached)``
SEMIRINGS = {
    "min_hop": (np.minimum, min, lambda d, w: d + 1, lambda v, w: v + 1, 0,
                np.iinfo(np.int64).max),
    "min_wgt": (np.minimum, min, lambda d, w: d + w, lambda v, w: v + w, 0,
                np.iinfo(np.int64).max),
    "max_least": (np.maximum, max, min, np.minimum, 1 << 60, np.iinfo(np.int64).min),
}


def _relax(rows, sources, rounds, plus, times, init):
    """``rounds`` relaxations along every edge from the round-start
    values: each source's ``{vertex: value}``."""
    out = {}
    for s in sources:
        val = {s: init}
        for _ in range(rounds):
            nxt = dict(val)
            for u, v, w in rows:
                if u in val:
                    c = times(val[u], w)
                    nxt[v] = plus(nxt[v], c) if v in nxt else c
            val = nxt
        out[s] = val
    return out


def _random_table(rng):
    n = rng.randint(1, 12)
    rows = []
    for _ in range(rng.randint(0, 30)):
        u, v, w = rng.randrange(n), rng.randrange(n), rng.randint(-3, 9)
        rows += [(u, v, w), (v, u, w)] * rng.choice((1, 1, 2))  # duplicates
    sources = rng.sample(range(n + 3), rng.randint(1, 3))  # some edgeless
    return rows, sources


def _batches(rows):
    pdf = pd.DataFrame(rows, columns=["src", "dst", "wgt"])
    half = len(pdf) // 2
    return [pdf.iloc[:half], pdf.iloc[half:]]


@pytest.mark.parametrize("name", sorted(SEMIRINGS))
def test_np_fixpoint_matches_plain_relaxation(name):
    ufunc, py_plus, py_times, np_times, init, none = SEMIRINGS[name]
    rng = random.Random(f"np_fixpoint-{name}")
    for _ in range(120):
        rows, sources = _random_table(rng)
        rounds = rng.randint(0, 7)
        ids, si, di, wgt = np_edges(_batches(rows), ("wgt", "int64"), sources=tuple(sources))
        got = {}
        for s in sources:
            pos = np.searchsorted(ids, s)
            x = np.full(ids.size, none, dtype=np.int64)
            x[pos] = init
            active = np.zeros(ids.size, dtype=bool)
            active[pos] = True
            x = np_fixpoint(
                di, si, x, lambda v, e: np_times(v, wgt[e]), ufunc, rounds, active
            )
            got[s] = {int(i): int(v) for i, v in zip(ids, x) if v != none}
        assert got == _relax(rows, sources, rounds, py_plus, py_times, init), (rows, sources)


def test_np_fixpoint_min_label_with_jump_is_component_min():
    rng = random.Random("np_fixpoint-cc")
    for _ in range(60):
        rows, _ = _random_table(rng)
        ids, si, di = np_edges(_batches([r[:2] + (0,) for r in rows]))
        lab = np_fixpoint(
            si, di, np.arange(ids.size), lambda v, e: v, np.minimum, ids.size,
            after_round=lambda x: x[x],
        )
        comp = {int(i): int(i) for i in ids}
        for _ in ids:  # plain min-label closure
            for u, v, _w in rows:
                comp[u] = comp[v] = min(comp[u], comp[v])
        assert {int(i): int(ids[l]) for i, l in zip(ids, lab)} == comp


def test_np_edges_sources_join_ids_after_the_symmetry_check():
    sym = _batches([(1, 2, 5), (2, 1, 5)])
    ids, si, di, wgt = np_edges(sym, ("wgt", "int64"), sources=(7, 1))
    assert ids.tolist() == [1, 2, 7]
    assert (ids[si].tolist(), ids[di].tolist()) == ([1, 2], [2, 1])
    # the stray dst 0 is a passed source: it is still not a src
    with pytest.raises(ValueError, match="not symmetric"):
        np_edges(_batches([(1, 0, 5), (1, 2, 5), (2, 1, 5)]), sources=(0,))
