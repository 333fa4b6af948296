"""BFS, multi-source BFS and the bounded-round weighted path kernels.

Reference semantics (SURVEY.md §2.4): level-synchronous frontier
expansion; distance = hop count.  The relational formulation is the
model (``tests/sqlite/test.c:210-233``)::

    INSERT OR IGNORE INTO distance
      SELECT DISTINCT edges.dst, d+1
      FROM edges JOIN distance ON edges.src = distance.vtx
      WHERE distance.dist = d       -- until 0 rows inserted

One semiring spec, two executors: every kernel here but
:func:`two_shortest` states its semiring once, as a ``(plus, step)``
pair handed to :func:`_semiring_paths`, which asks the size guard and
runs it on one side:

* :func:`bfs` and :func:`multi_source_bfs` are ``(min, + 1)``, the
  latter keyed by ``(root, id)``;
* :func:`sssp_weighted` is ``(min, + wgt)`` (Bellman-Ford);
* :func:`widest_path` is ``(max, least(·, wgt))``.

Below the guard the NumPy loop
(:func:`~graphdb_testing_spark.operators.util.np_fixpoint`) runs in one
task; above it the semiring rounds
(:func:`~graphdb_testing_spark.operators.util.semiring_round`) run in
the chunk loop (:func:`~graphdb_testing_spark.operators.util.fixpoint`).
Both are semi-naive: a round relaxes only from the vertices the last
round changed and takes ``plus(own value, times(sender value))`` — the
``WHERE distance.dist = d`` frontier, with the visited-set subtraction
folded into the ``plus``.  Both semirings are selective and
idempotent, so this gives the same values after exactly ``r`` rounds
as relaxing from every vertex: the bounded kernels stay bit-identical
to their fixed-unroll SQL oracles, and a round (or chunk) that changes
nothing ends the loop early.  Sources keep their row even without
edges, as the oracles' ``UNION ALL`` carries the previous round
forward.  Per-level sizes (``test.c:226-227``) come from
:func:`bfs_levels`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import (
    counted,
    fixpoint,
    iter_partitions,
    map_single_task,
    np_edges,
    np_fixpoint,
    self_loop_relation,
    semiring_round,
    single_task,
    state_hint,
    vertex_ids,
)


def _local_two_shortest(
    e: DataFrame, source: int, rounds: int, sentinel: int
) -> DataFrame:
    """Single-Arrow-task k=2 shortest-distinct-distance semiring —
    exact integers; per round the candidate set is {old d1, old d2,
    relaxed d1+w, relaxed d2+w} and the new state is the two smallest
    distinct values per vertex, exactly the DataFrame loop's
    min / min-above-min aggregate."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di, wgt = np_edges(batches, ("wgt", "int64"), sources=(source,))
        d1 = np.full(ids.size, sentinel, dtype=np.int64)
        d2 = np.full(ids.size, sentinel, dtype=np.int64)
        d1[np.searchsorted(ids, source)] = 0
        for _ in range(rounds):
            reach = d1 < sentinel
            m1 = reach[si]
            cand_i = [np.flatnonzero(reach), di[m1]]
            cand_v = [d1[reach], d1[si[m1]] + wgt[m1]]
            has2 = d2 < sentinel
            if has2.any():
                m2 = has2[si]
                b = d2[si[m2]] + wgt[m2]
                bok = b < sentinel
                cand_i += [np.flatnonzero(has2), di[m2][bok]]
                cand_v += [d2[has2], b[bok]]
            ci = np.concatenate(cand_i)
            cv = np.concatenate(cand_v)
            if ci.size == 0:
                break  # nothing reached in-graph; state is stable
            order = np.lexsort((cv, ci))
            ci, cv = ci[order], cv[order]
            starts = np.flatnonzero(np.r_[True, ci[1:] != ci[:-1]])
            grp = ci[starts]
            nd1 = np.full(ids.size, sentinel, dtype=np.int64)
            nd2 = np.full(ids.size, sentinel, dtype=np.int64)
            nd1[grp] = cv[starts]
            above = np.where(
                cv != np.repeat(cv[starts], np.diff(np.r_[starts, ci.size])),
                cv,
                sentinel,
            )
            nd2[grp] = np.minimum.reduceat(above, starts)
            if np.array_equal(nd1, d1) and np.array_equal(nd2, d2):
                break  # fixpoint: remaining rounds are idempotent
            d1, d2 = nd1, nd2
        hit = d1 < sentinel
        yield pd.DataFrame({"id": ids[hit], "d1": d1[hit], "d2": d2[hit]})

    return map_single_task(e, run, "id long, d1 long, d2 long")


def _semiring_paths(
    family: str,
    edges: DataFrame,
    roots: list[int],
    col: str,
    plus: str,
    step,
    max_rounds: int,
    init: int = 0,
    rooted: bool = False,
) -> DataFrame:
    """Every path kernel here: the ``plus`` (``"min"`` or ``"max"``)
    semiring relaxing along the edge direction from ``roots``, each
    seeded with ``init`` in ``col``, for at most ``max_rounds`` rounds
    or to the fixpoint.  ``step`` is 1 (hops) or ``"wgt"`` (the edge
    weight), added under ``min`` and taken as a ``least`` under
    ``max``: ``(min, + 1)``, ``(min, + wgt)`` and
    ``(max, least(·, wgt))``.  ``rooted`` keys the state by
    ``(root, id)``: all roots advance in one state of at most
    |roots| × nv rows.  A root without edges keeps its row.

    Counts ``edges`` and asks the ``family`` guard
    (:func:`~graphdb_testing_spark.operators.util.single_task`), then
    runs the NumPy loop
    (:func:`~graphdb_testing_spark.operators.util.np_fixpoint`, one
    per root) in one task, or the semiring rounds
    (:func:`~graphdb_testing_spark.operators.util.semiring_round`) in
    :func:`~graphdb_testing_spark.operators.util.fixpoint`.  Returns
    ``([root,] id, col)``, ids as long."""
    weighted = step == "wgt"
    e = edges.select("src", "dst", *(["wgt"] if weighted else []))
    ne = edges.count()
    vtype = "long" if weighted else "int"
    cols = ["root", "id", col] if rooted else ["id", col]
    schema = ", ".join(f"{c} {vtype if c == col else 'long'}" for c in cols)
    if single_task(family, ne, state_rows=len(roots) * ne if rooted else 0):

        def run(batches):
            import numpy as np
            import pandas as pd

            ids, si, di, *w = np_edges(
                batches, *([("wgt", "int64")] if weighted else []), sources=tuple(roots)
            )
            by_edge = (lambda e: w[0][e]) if weighted else (lambda e: step)
            if plus == "min":
                ufunc, times = np.minimum, lambda v, e: v + by_edge(e)
            else:
                ufunc, times = np.maximum, lambda v, e: np.minimum(v, by_edge(e))
            dtype = np.int64 if weighted else np.int32
            none = np.iinfo(dtype).max if plus == "min" else np.iinfo(dtype).min
            out = {c: [np.empty(0, dtype if c == col else np.int64)] for c in cols}
            for root in roots:
                seed = np.searchsorted(ids, root)
                x = np.full(ids.size, none, dtype=dtype)
                x[seed] = init
                active = np.zeros(ids.size, dtype=bool)
                active[seed] = True
                x = np_fixpoint(di, si, x, times, ufunc, max_rounds, active)
                hit = x != none
                out["id"].append(ids[hit])
                out[col].append(x[hit])
                if rooted:
                    out["root"].append(np.full(int(hit.sum()), root, dtype=np.int64))
            yield pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

        return map_single_task(e, run, schema)
    spark = e.sparkSession
    if not roots:
        return spark.createDataFrame([], schema)
    rel_edges = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *e.columns[2:])
    ids, nv, key = vertex_ids(rel_edges, also=tuple(roots))
    ns = nv * len(roots) if rooted else nv
    rel = self_loop_relation(rel_edges, ids, key, ne, ns, sources=tuple(roots))
    keys = ("root", "id") if rooted else ("id",)
    # seed rows as data: a literal id would fold into the first
    # round's join condition, leaving it no equi-key (a nested-loop join)
    seeds = spark.createDataFrame(
        [(*([r] if rooted else []), r, init, True) for r in roots],
        ", ".join([*(f"{k} {key}" for k in keys), f"{col} {vtype}", "active boolean"]),
    )
    by_edge = F.col("wgt") if weighted else F.lit(step)
    times = (lambda v: v + by_edge) if plus == "min" else (lambda v: F.least(v, by_edge))
    state = fixpoint(
        lambda st: semiring_round(rel, st, ns, col, times, plus, keys), seeds, max_rounds
    )
    rel.unpersist()
    ids.unpersist()
    return state.select(*(F.col(c).cast("long").alias(c) for c in cols[:-1]), col)


def bfs(edges: DataFrame, source: int, max_depth: int = 100) -> DataFrame:
    """``(id, dist)`` hop distances from ``source`` over a symmetric
    edge table; unreachable vertices are absent (reference leaves them
    at "infinity", i.e. not in the ``distance`` table): ``(min, + 1)``
    levels until one reaches no new vertex."""
    return _semiring_paths("bfs", edges, [int(source)], "dist", "min", 1, max_depth)


def sssp_weighted(
    edges: DataFrame,
    source: int,
    rounds: int = 6,
) -> DataFrame:
    """``(id, dist)`` — bounded-round Bellman-Ford over the weighted
    symmetric edge table (``wgt`` as edge length).

    Extends the reference's unweighted BFS kernel (its weights are
    multiplicities, never distances — SURVEY.md §2.4) to true weighted
    shortest paths.  Runs exactly ``rounds`` relaxations so a
    fixed-unroll SQL oracle computes the identical partial fixpoint;
    with ``rounds >= graph diameter`` this is the full solution.  The
    ``(min, + wgt)`` semiring, relaxing along the edge direction from
    the vertices that changed last round; a real ``(u, u)`` edge is
    relaxed like any other.
    """
    return _semiring_paths("sssp_weighted", edges, [int(source)], "dist", "min", "wgt", rounds)


def bfs_levels(dist: DataFrame) -> DataFrame:
    """``(dist, frontier_size)`` — the per-level sizes the reference
    prints (``tests/sqlite/test.c:226-227``)."""
    return dist.groupBy("dist").agg(F.count("*").alias("frontier_size"))


def eccentricity(dist: DataFrame) -> int:
    """Max BFS depth from the source (reference
    ``tests/neo4j/.../App.java:210-215``)."""
    return dist.agg(F.max("dist").alias("m")).collect()[0]["m"]


def multi_source_bfs(
    edges: DataFrame, roots: list[int], max_depth: int = 100
) -> DataFrame:
    """``(root, id, dist)`` hop distances from every root at once.

    All roots advance in ONE ``(root, id)``-keyed state of at most
    |roots| × nv rows — O(diameter) Spark jobs total, not O(roots ×
    diameter), the same batching the Brandes operator uses
    (`betweenness.py`); the relation never moves."""
    return _semiring_paths(
        "multi_source_bfs", edges, [int(r) for r in roots], "dist", "min", 1, max_depth,
        rooted=True,
    )


def widest_path(
    edges: DataFrame,
    source: int,
    rounds: int = 6,
    inf: int = 1 << 60,
) -> DataFrame:
    """``(id, cap)`` — bounded-round max-bottleneck (widest) path from
    ``source``: ``cap(v) = max over paths of the minimum edge weight``.

    The (max, min) semiring twin of Bellman-Ford SSSP — the same round
    and loop, opposite monotonicity; ``cap`` only ever increases, so
    ``rounds ≥ diameter`` reaches the exact fixpoint.  A source without
    edges keeps ``(source, inf)``.  Capacity planning / max-flow-lite
    over co-occurrence weights."""
    return _semiring_paths(
        "widest_path", edges, [int(source)], "cap", "max", "wgt", rounds, init=int(inf)
    )


def two_shortest(
    edges: DataFrame,
    source: int,
    rounds: int = 6,
    sentinel: int = 1 << 60,
) -> DataFrame:
    """``(id, d1, d2)`` — the two smallest DISTINCT walk lengths from
    ``source`` over integer edge weights, bounded rounds.

    The k=2 instance of the k-shortest-distance semiring (values are
    sorted pairs, ⊕ = two smallest distinct of the union, ⊗ = add the
    edge weight to both): alternate-route awareness — how much worse
    is plan B — with the same one-join-per-round plan as SSSP.
    Unreached/absent second routes carry ``sentinel``.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst", "wgt")
    ne = edges.count()
    if single_task("two_shortest", ne):
        # guarded single-task fast path (round-10): exact integers,
        # identical candidate set and two-smallest-distinct reduce
        return _local_two_shortest(e, int(source), rounds, int(sentinel))
    e = e.coalesce(iter_partitions(ne))
    st, n_st = counted(
        spark.createDataFrame([(int(source), 0, int(sentinel))], "id long, d1 long, d2 long")
    )
    for _ in range(rounds):
        relaxed = (
            e.join(state_hint(st, n_st), e.src == F.col("id"))
            .select(
                F.col("dst").alias("id"),
                (F.col("d1") + F.col("wgt")).alias("a"),
                F.when(
                    F.col("d2") < F.lit(int(sentinel)), F.col("d2") + F.col("wgt")
                ).otherwise(F.lit(int(sentinel))).alias("b"),
            )
        )
        cand = (
            st.select("id", F.col("d1").alias("d"))
            .unionAll(st.filter(F.col("d2") < sentinel).select("id", F.col("d2").alias("d")))
            .unionAll(relaxed.select("id", F.col("a").alias("d")))
            .unionAll(
                relaxed.filter(F.col("b") < sentinel).select("id", F.col("b").alias("d"))
            )
            .distinct()
        )
        best = cand.groupBy("id").agg(F.min("d").alias("d1"))
        second = (
            cand.join(best, "id")
            .filter(F.col("d") > F.col("d1"))
            .groupBy("id")
            .agg(F.min("d").alias("d2"))
        )
        st, n_st = counted(
            best.join(second, "id", "left").select(
                "id", "d1", F.coalesce("d2", F.lit(int(sentinel))).alias("d2")
            )
        )
    return st
