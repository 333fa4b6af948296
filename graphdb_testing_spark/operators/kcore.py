"""k-core decomposition: peeling and the neighborhood h-index.

Reference semantics (SURVEY.md §2.5 A1, ``tests/stinger/src/alg/
static_kcore.c:12-57``): a vertex is in the k-core if at least k of
its neighbors are in the k-core; computed by repeatedly discarding
vertices of degree < k restricted to the surviving set.

Spark-first design: both distributed kernels run in the one chunk loop
of every fixpoint kernel
(:func:`~graphdb_testing_spark.operators.util.fixpoint`) over the
constant relation ``edges ∪ self-loops``
(:func:`~graphdb_testing_spark.operators.util.self_loop_relation`),
whose self-loop row carries a vertex's own state into its round — the
state is referenced once per round, so a chunk of
``util.CHUNK_ROUNDS`` rounds is one job, and the loop stops at the
chunk that leaves no vertex active.  Every edge row counts toward the
degree: a duplicated row twice, a real ``(u, u)`` edge toward u's own
degree (its ``wgt`` is 1; the added self-loops carry a NULL ``wgt``),
like the SQL oracles.  Ids that fit int32 run the loop on int keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import (
    fixpoint,
    map_single_task,
    np_edges,
    self_loop_relation,
    single_task,
    state_hint,
    vertex_ids,
)


def _local_kcore_vertices(
    e: DataFrame, k: int, max_rounds: int | None
) -> DataFrame:
    """Single-Arrow-task peel loop over a bounded-size symmetric edge
    table — the same round schedule as the DataFrame loop (degree
    restricted to survivors, drop < k, stop at fixpoint / round bound
    / empty), so the surviving id set matches exactly (all-integer)."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di = np_edges(batches)
        alive = np.ones(ids.size, dtype=bool)
        prev_n = ids.size
        rounds = 0
        while ids.size:
            if max_rounds is not None and rounds >= max_rounds:
                break
            mask = alive[si] & alive[di]
            deg = np.bincount(si[mask], minlength=ids.size)
            alive = deg >= k
            n = int(alive.sum())
            rounds += 1
            if max_rounds is None and n == prev_n:
                break
            if n == 0:
                break
            prev_n = n
        yield pd.DataFrame({"id": ids[alive]})

    return map_single_task(e, run, "id long")


def _local_core_numbers(e: DataFrame, max_rounds: int) -> DataFrame:
    """Single-Arrow-task iterated neighborhood h-index: rounds until
    one changes nothing or ``max_rounds`` — the output of the DataFrame
    loop, whose every stop is a fixpoint too.  All-integer state."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di = np_edges(batches)
        core = np.bincount(si, minlength=ids.size).astype(np.int64)
        for _ in range(max_rounds if ids.size else 0):
            # h-index per vertex of neighbor core values: sort edges by
            # (vertex, -value); h = #positions with value >= 1-based
            # rank (prefix property)
            vals = core[di]
            order = np.lexsort((-vals, si))
            s_si = si[order]
            s_val = vals[order]
            starts = np.flatnonzero(np.r_[True, s_si[1:] != s_si[:-1]])
            sizes = np.diff(np.r_[starts, s_si.size])
            pos = np.arange(s_si.size, dtype=np.int64) - np.repeat(starts, sizes) + 1
            new_core = np.add.reduceat((s_val >= pos).astype(np.int64), starts)
            if np.array_equal(new_core, core):
                break  # fixpoint: remaining rounds are idempotent
            core = new_core
        yield pd.DataFrame({"id": ids, "core": core.astype(np.int32)})

    return map_single_task(e, run, "id long, core int")


def _degree_relation(e: DataFrame, ne: int):
    """``(rel, ids, nv, deg)`` of a distributed k-core loop: ``rel`` the
    self-loop relation of ``e`` with ``wgt`` 1 on every edge row and
    NULL on the added self-loops, ``ids`` its checkpointed vertex ids
    (the caller unpersists both), and ``deg`` the lazy ``(id, deg)``
    row count per vertex, keyed like ``rel``."""
    ids, nv, key = vertex_ids(e)
    rel = self_loop_relation(e.select("src", "dst", F.lit(1).alias("wgt")), ids, key, ne, nv)
    deg = e.groupBy(F.col("src").cast(key).alias("id")).agg(F.count(F.lit(1)).alias("deg"))
    return rel, ids, nv, deg


def kcore_vertices(
    edges: DataFrame, k: int, max_rounds: int | None = None
) -> DataFrame:
    """``(id)`` vertices of the k-core.

    ``max_rounds=None`` peels to fixpoint; a fixed ``max_rounds``
    performs exactly that many peels (deterministic intermediate
    semantics, used by the unrolled SQL oracle).

    The distributed loop peels semi-naively over the state ``(id, deg,
    alive, active)``, ``active`` = peeled in the last round: a round
    subtracts from ``deg`` the rows of active senders and keeps
    ``alive`` while ``deg ≥ k``.  After round r, ``deg(v)`` counts the
    neighbors alive after round r − 1 — the degree restricted to the
    survivors that a full peel round recounts.  Every round that does
    not end the peel removes a vertex, so ``nv`` rounds bound it.
    """
    e = edges.select("src", "dst")
    ne = e.count()
    if single_task("kcore_vertices", ne, k >= 1):
        # guarded single-task fast path (round-10): each peel round at
        # sf0.1 costs stage scheduling + a checkpoint, not compute;
        # identical round schedule, cluster-scale graphs peel below
        return _local_kcore_vertices(e, k, max_rounds)
    rel, ids, nv, deg = _degree_relation(e, ne)

    def peel(state: DataFrame) -> DataFrame:
        loop = F.col("wgt").isNull()
        out = (
            rel.join(state_hint(state, nv), rel.dst == state.id)
            .where(loop | F.col("active"))
            .groupBy("src")
            .agg(
                F.sum(F.when(loop, F.col("deg")).otherwise(-F.col("wgt"))).alias("deg"),
                F.max(F.when(loop, F.col("alive"))).alias("was"),
            )
        )
        keep = F.col("was") & (F.col("deg") >= k)
        return out.select(
            F.col("src").alias("id"),
            "deg",
            keep.alias("alive"),
            (F.col("was") & ~keep).alias("active"),
        )

    state = fixpoint(
        peel,
        deg.select("id", "deg", F.lit(True).alias("alive"), F.lit(False).alias("active")),
        nv if max_rounds is None else max_rounds,
    )
    rel.unpersist()
    ids.unpersist()
    return state.where("alive").select(F.col("id").cast(edges.schema["src"].dataType).alias("id"))


def core_numbers(edges: DataFrame, max_rounds: int = 100) -> DataFrame:
    """``(id, core)`` — max k such that the vertex survives k-core
    peeling (the reference outputs the max-k labels plus per-k counts,
    ``static_kcore.c:12-57``).

    Algorithm: iterated neighborhood h-index (Lü et al. 2016) — init
    ``c(v) = degree(v)``; each round ``c'(v) = h-index of neighbors'
    c values``; the fixpoint is exactly the core number.  Rounds are
    O(graph radius)-ish in practice — far cheaper than peeling k
    levels sequentially (a 100-core graph costs ~100 peel fixpoints
    the telescope way, ~10 rounds this way).

    From ``c0 = degree`` the iteration is deterministic and never
    increases a value (the h-index is ≤ the neighbor count and
    monotone in its inputs), so a round that changes nothing is a
    fixpoint and every stop — the chunk loop's and the single-task
    loop's — returns the values after ``min(max_rounds, T)`` rounds,
    T the fixpoint depth.  A distributed round gathers every row of the
    relation per vertex: the neighbor values, and the own old value on
    the self-loop row, so ``active`` (the core fell) needs no second
    state reference.  The h-index is one aggregate: ``collect_list``
    the neighbor values, sort descending, and count positions with
    ``cs[i] ≥ i+1`` via a JVM-side higher-order ``filter``.
    """
    e = edges.select("src", "dst")
    ne = e.count()
    if single_task("core_numbers", ne):
        # guarded single-task fast path (round-10): the sf0.1 fixpoint
        # is 25 h-index rounds of ~0.4s scheduling each; exact integer
        # state either way
        return _local_core_numbers(e, max_rounds)
    rel, ids, nv, deg = _degree_relation(e, ne)

    def h_index(state: DataFrame) -> DataFrame:
        loop = F.col("wgt").isNull()
        out = (
            rel.join(state_hint(state, nv), rel.dst == state.id)
            .groupBy("src")
            .agg(
                F.sort_array(F.collect_list(F.when(~loop, F.col("core"))), asc=False).alias("cs"),
                F.max(F.when(loop, F.col("core"))).alias("own"),
            )
        )
        h = F.size(F.filter("cs", lambda c, i: c >= i + F.lit(1)))
        return out.select(
            F.col("src").alias("id"), h.alias("core"), (h < F.col("own")).alias("active")
        )

    state = fixpoint(
        h_index,
        deg.select("id", F.col("deg").cast("int").alias("core"), F.lit(True).alias("active")),
        max_rounds,
    )
    rel.unpersist()
    ids.unpersist()
    return state.select(F.col("id").cast(edges.schema["src"].dataType).alias("id"), "core")
