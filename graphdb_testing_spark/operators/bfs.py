"""BFS, multi-source BFS and the bounded-round weighted path kernels.

Reference semantics (SURVEY.md §2.4): level-synchronous frontier
expansion; distance = hop count.  The relational formulation is the
model (``tests/sqlite/test.c:210-233``)::

    INSERT OR IGNORE INTO distance
      SELECT DISTINCT edges.dst, d+1
      FROM edges JOIN distance ON edges.src = distance.vtx
      WHERE distance.dist = d       -- until 0 rows inserted

Spark-first design: every kernel here but :func:`two_shortest` is one
semiring over the same semi-naive loop (:func:`_semiring_paths`, on
:func:`~graphdb_testing_spark.operators.util.semiring_round` and
:func:`~graphdb_testing_spark.operators.util.fixpoint`):

* :func:`bfs` and :func:`multi_source_bfs` are ``(min, + 1)``, the
  latter keyed by ``(root, id)``;
* :func:`sssp_weighted` is ``(min, + wgt)`` (Bellman-Ford);
* :func:`widest_path` is ``(max, least(·, wgt))``.

The state ``(id, value, active)`` holds the reached vertices,
``active`` marking the last round's changes: a round keeps the
self-loop rows of ``edges ∪ self-loops`` and rows from active senders
and takes ``plus(own value, times(sender value))`` — the ``WHERE
distance.dist = d`` frontier, with the visited-set subtraction folded
into the ``plus``.  Both semirings are selective and idempotent, so
sending only from changed vertices gives the same values after exactly
``r`` rounds: the bounded kernels stay bit-identical to their
fixed-unroll SQL oracles, and a chunk that changes nothing ends the
loop early.  Sources keep their row even without edges (their own
self-loop), as the oracles' ``UNION ALL`` carries the previous round
forward.  The state is broadcast or shuffled by its size
(:func:`~graphdb_testing_spark.operators.util.state_hint`); the loop is
the same.  Per-level sizes (``test.c:226-227``) come from
:func:`bfs_levels`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import (
    fixpoint,
    iter_partitions,
    map_single_task,
    np_edges,
    self_loop_relation,
    semiring_round,
    single_task,
    state_hint,
    vertex_ids,
)


def _local_sssp_weighted(e: DataFrame, source: int, rounds: int) -> DataFrame:
    """Single-Arrow-task bounded-round Bellman-Ford (exact integer
    min-plus semiring; each round relaxes from the round-start state,
    as the semiring rounds and the SQL oracle do)."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di, wgt = np_edges(batches, ("wgt", "int64"))
        sent = np.iinfo(np.int64).max
        pos = np.searchsorted(ids, source)
        in_graph = pos < ids.size and ids[pos] == source
        dist = np.full(ids.size, sent, dtype=np.int64)
        if in_graph:
            dist[pos] = 0
        for _ in range(rounds):
            mask = dist[si] < sent
            val = dist[si[mask]] + wgt[mask]
            prev = dist.copy()
            np.minimum.at(dist, di[mask], val)
            if np.array_equal(prev, dist):
                break  # fixpoint: remaining rounds are idempotent
        hit = dist < sent
        out_id, out_d = ids[hit], dist[hit]
        if not in_graph:
            out_id = np.r_[out_id, np.int64(source)]
            out_d = np.r_[out_d, np.int64(0)]
        yield pd.DataFrame({"id": out_id, "dist": out_d})

    return map_single_task(e, run, "id long, dist long")


def _local_widest_path(
    e: DataFrame, source: int, rounds: int, inf: int
) -> DataFrame:
    """Single-Arrow-task bounded-round (max, min) semiring fixpoint —
    exact integers; the semiring round's self-loop identity rows are
    the ``new = old.copy()`` carry-over here."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di, wgt = np_edges(batches, ("wgt", "int64"))
        pos = np.searchsorted(ids, source)
        in_graph = pos < ids.size and ids[pos] == source
        cap = np.full(ids.size, -1, dtype=np.int64)  # -1 = unreached
        if in_graph:
            cap[pos] = inf
        for _ in range(rounds):
            mask = cap[si] >= 0
            val = np.minimum(cap[si[mask]], wgt[mask])
            new = cap.copy()
            np.maximum.at(new, di[mask], val)
            if np.array_equal(new, cap):
                break  # fixpoint: remaining rounds are idempotent
            cap = new
        hit = cap >= 0
        out_id, out_c = ids[hit], cap[hit]
        if not in_graph:
            # a source without edges keeps its row, as the oracle's
            # UNION ALL carries w{i-1} forward
            out_id = np.r_[out_id, np.int64(source)]
            out_c = np.r_[out_c, np.int64(inf)]
        yield pd.DataFrame({"id": out_id, "cap": out_c})

    return map_single_task(e, run, "id long, cap long")


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

        ids, si, di, wgt = np_edges(batches, ("wgt", "int64"))
        pos = np.searchsorted(ids, source)
        in_graph = pos < ids.size and ids[pos] == source
        d1 = np.full(ids.size, sentinel, dtype=np.int64)
        d2 = np.full(ids.size, sentinel, dtype=np.int64)
        if in_graph:
            d1[pos] = 0
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
        out = {"id": ids[hit], "d1": d1[hit], "d2": d2[hit]}
        if not in_graph:
            out = {
                "id": np.r_[out["id"], np.int64(source)],
                "d1": np.r_[out["d1"], np.int64(0)],
                "d2": np.r_[out["d2"], np.int64(sentinel)],
            }
        yield pd.DataFrame(out)

    return map_single_task(e, run, "id long, d1 long, d2 long")


def _local_multi_source_bfs(
    e: DataFrame, roots: list[int], max_depth: int
) -> DataFrame:
    """Single-Arrow-task multi-source BFS: one masked level loop per
    root (hop distances are integers; the level schedule matches the
    compound-key frontier loop, including seeding roots absent from
    the edge table).  With one root it is :func:`bfs`'s single-task
    path."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di = np_edges(batches)
        out_r: list = []
        out_i: list = []
        out_d: list = []
        for root in roots:
            pos = np.searchsorted(ids, root)
            if pos >= ids.size or ids[pos] != root:
                out_r.append(np.array([root], dtype=np.int64))
                out_i.append(np.array([root], dtype=np.int64))
                out_d.append(np.array([0], dtype=np.int32))
                continue
            dist = np.full(ids.size, -1, dtype=np.int32)
            dist[pos] = 0
            depth = 0
            while depth < max_depth:
                depth += 1
                tgt = di[dist[si] == depth - 1]
                tgt = tgt[dist[tgt] < 0]
                if tgt.size == 0:
                    break
                dist[np.unique(tgt)] = depth
            hit = dist >= 0
            out_r.append(np.full(int(hit.sum()), root, dtype=np.int64))
            out_i.append(ids[hit])
            out_d.append(dist[hit])
        yield pd.DataFrame(
            {
                "root": np.concatenate(out_r),
                "id": np.concatenate(out_i),
                "dist": np.concatenate(out_d),
            }
        )

    return map_single_task(e, run, "root long, id long, dist int")


def _semiring_paths(
    rel_edges: DataFrame,
    ne: int,
    roots: list[int],
    col: str,
    init,
    times,
    max_rounds: int,
    plus: str = "min",
    rooted: bool = False,
) -> DataFrame:
    """The distributed side of every path kernel here: semiring rounds
    (:func:`~graphdb_testing_spark.operators.util.semiring_round`)
    from ``roots``, each seeded with ``init`` in ``col``, over
    ``rel_edges`` ``(src, dst[, wgt])`` (``src`` receives from
    ``dst``), for at most ``max_rounds`` rounds or to the fixpoint.
    ``rooted`` keys the state by ``(root, id)``: all roots advance in
    one state of at most |roots| × nv rows.  Every root gets a
    self-loop (a root without edges keeps its row) and enters the
    int32 check, so a root past int32 keeps the loop on long ids.
    Returns ``([root,] id, col, active)`` on the loop's key type."""
    spark = rel_edges.sparkSession
    ids, nv, key = vertex_ids(rel_edges, also=tuple(roots))
    ns = nv * len(roots) if rooted else nv
    rel = self_loop_relation(rel_edges, ids, key, ne, ns, sources=tuple(roots))
    seeds = reduce(
        DataFrame.unionAll,
        [
            spark.range(1).select(
                *([F.lit(r).cast(key).alias("root")] if rooted else []),
                F.lit(r).cast(key).alias("id"),
                init.alias(col),
                F.lit(True).alias("active"),
            )
            for r in roots
        ],
    )
    keys = ("root", "id") if rooted else ("id",)
    state = fixpoint(
        lambda st: semiring_round(rel, st, ns, col, times, plus, keys), seeds, max_rounds
    )
    rel.unpersist()
    ids.unpersist()
    return state


def _reversed(edges: DataFrame) -> DataFrame:
    """A weighted edge table as a semiring relation: ``dst`` receives
    from ``src`` along the edge direction, as the SQL oracles relax."""
    return edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "wgt")


def bfs(edges: DataFrame, source: int, max_depth: int = 100) -> DataFrame:
    """``(id, dist)`` hop distances from ``source`` over a symmetric
    edge table; unreachable vertices are absent (reference leaves them
    at "infinity", i.e. not in the ``distance`` table).  The
    distributed loop runs ``(min, + 1)`` semi-naive levels until a
    chunk reaches no new vertex."""
    ne = edges.count()
    if single_task("bfs", ne):
        # guarded single-task fast path (round-10): per-level cost at
        # sf0.1 is scheduling + broadcast latency, not compute — the
        # one-root NumPy level loop of _local_multi_source_bfs
        # (identical integer levels; a source without edges keeps its
        # (source, 0) row); cluster-scale graphs take the loop below
        return _local_multi_source_bfs(
            edges.select("src", "dst"), [source], max_depth
        ).select("id", "dist")
    id_type = edges.schema["src"].dataType.simpleString()
    dist = _semiring_paths(
        edges.select("src", "dst"), ne, [source], "dist", F.lit(0), lambda v: v + 1, max_depth
    )
    return dist.select(F.col("id").cast(id_type).alias("id"), "dist")


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
    distributed side is the ``(min, + wgt)`` semiring round, relaxing
    along the edge direction from the vertices that changed last
    round; a real ``(u, u)`` edge is relaxed like any other.
    """
    e = edges.select("src", "dst", "wgt")
    ne = edges.count()
    if single_task("sssp_weighted", ne):
        # guarded single-task fast path (round-10): exact min-plus
        # integers, same relax-from-round-start schedule
        return _local_sssp_weighted(e, int(source), rounds)
    dist = _semiring_paths(
        _reversed(e), ne, [int(source)], "dist", F.lit(0).cast("long"),
        lambda v: v + F.col("wgt"), rounds,
    )
    return dist.select(F.col("id").cast("long").alias("id"), "dist")


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
    e = edges.select("src", "dst")
    ne = edges.count()
    roots = [int(r) for r in roots]
    if single_task("multi_source_bfs", ne, state_rows=len(roots) * ne):
        # guarded single-task fast path (round-10): per-root masked
        # level loops, integer hop distances, identical level schedule
        return _local_multi_source_bfs(e, roots, max_depth)
    if not roots:
        return e.sparkSession.createDataFrame([], "root long, id long, dist int")
    dist = _semiring_paths(
        e, ne, roots, "dist", F.lit(0), lambda v: v + 1, max_depth, rooted=True
    )
    return dist.select(
        F.col("root").cast("long").alias("root"), F.col("id").cast("long").alias("id"), "dist"
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
    e = edges.select("src", "dst", "wgt")
    ne = edges.count()
    if single_task("widest_path", ne):
        # guarded single-task fast path (round-10): exact (max, min)
        # semiring; the copy-forward carry is the self-loop term
        return _local_widest_path(e, int(source), rounds, int(inf))
    cap = _semiring_paths(
        _reversed(e), ne, [int(source)], "cap", F.lit(int(inf)).cast("long"),
        lambda v: F.least(v, F.col("wgt")), rounds, plus="max",
    )
    return cap.select(F.col("id").cast("long").alias("id"), "cap")


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
    st = spark.createDataFrame(
        [(int(source), 0, int(sentinel))], "id long, d1 long, d2 long"
    ).localCheckpoint()
    for _ in range(rounds):
        n_st = st.count()
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
        st = (
            best.join(second, "id", "left")
            .select(
                "id", "d1", F.coalesce("d2", F.lit(int(sentinel))).alias("d2")
            )
            .localCheckpoint()
        )
    return st
