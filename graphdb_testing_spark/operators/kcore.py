"""k-core decomposition by iterative peeling.

Reference semantics (SURVEY.md §2.5 A1, ``tests/stinger/src/alg/
static_kcore.c:12-57``): a vertex is in the k-core if at least k of
its neighbors are in the k-core; computed by repeatedly discarding
vertices of degree < k restricted to the surviving set.

Spark-first design: the surviving vertex set is a small DataFrame;
each peel round is one semi-join + groupBy over the (cached,
pre-partitioned) edge table.  Rounds are bounded in the fixed-round
variant so the DuckDB oracle can unroll the identical computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import iter_partitions, map_single_task, np_edges, single_task, state_hint


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


def _local_core_numbers(
    e: DataFrame, max_rounds: int, unroll: int
) -> DataFrame:
    """Single-Arrow-task iterated neighborhood h-index with the SAME
    chunked Σcore convergence schedule as the DataFrame loop (chunks
    of ``unroll`` rounds, stop when Σcore is unchanged after a chunk
    or at ``max_rounds``), so bounded-round variants match round for
    round.  All-integer state."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di = np_edges(batches)
        core = np.bincount(si, minlength=ids.size).astype(np.int64)
        prev_sum = int(core.sum())
        done = 0
        while done < max_rounds and ids.size:
            k = min(unroll, max_rounds - done)
            for _ in range(k):
                # h-index per vertex of neighbor core values: sort
                # edges by (vertex, -value); h = #positions with
                # value >= 1-based rank (prefix property)
                vals = core[di]
                order = np.lexsort((-vals, si))
                s_si = si[order]
                s_val = vals[order]
                starts = np.flatnonzero(
                    np.r_[True, s_si[1:] != s_si[:-1]]
                )
                sizes = np.diff(np.r_[starts, s_si.size])
                pos = (
                    np.arange(s_si.size, dtype=np.int64)
                    - np.repeat(starts, sizes)
                    + 1
                )
                new_core = np.add.reduceat(
                    (s_val >= pos).astype(np.int64), starts
                )
                stable = np.array_equal(new_core, core)
                core = new_core
                if stable:
                    break  # fixpoint: remaining rounds are idempotent
            new_sum = int(core.sum())
            done += k
            if stable or new_sum == prev_sum:
                break
            prev_sum = new_sum
        yield pd.DataFrame(
            {"id": ids, "core": core.astype(np.int32)}
        )

    return map_single_task(e, run, "id long, core int")


def kcore_vertices(
    edges: DataFrame, k: int, max_rounds: int | None = None
) -> DataFrame:
    """``(id)`` vertices of the k-core.

    ``max_rounds=None`` peels to fixpoint; a fixed ``max_rounds``
    performs exactly that many peels (deterministic intermediate
    semantics, used by the unrolled SQL oracle).
    """
    e = edges.select("src", "dst")
    ne = e.count()
    if single_task("kcore_vertices", ne, k >= 1):
        # guarded single-task fast path (round-10): each peel round at
        # sf0.1 costs stage scheduling + a checkpoint, not compute;
        # identical round schedule, cluster-scale graphs peel below
        return _local_kcore_vertices(e, k, max_rounds)
    active = e.select(F.col("src").alias("id")).distinct().localCheckpoint()
    prev_n = active.count()
    rounds = 0
    while True:
        if max_rounds is not None and rounds >= max_rounds:
            break
        # active is referenced TWICE per round — without lineage
        # truncation the plan doubles every round (2^rounds nodes),
        # so eager-checkpoint instead of persist
        surviving = (
            e.join(
                state_hint(active.select(F.col("id").alias("src")), prev_n),
                "src",
                "left_semi",
            )
            .join(
                state_hint(active.select(F.col("id").alias("dst")), prev_n),
                "dst",
                "left_semi",
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("id")
            .localCheckpoint()
        )
        n = surviving.count()
        active.unpersist()
        active = surviving
        rounds += 1
        if max_rounds is None and n == prev_n:
            break
        if n == 0:
            break
        prev_n = n
    return active


def core_numbers(
    edges: DataFrame,
    max_rounds: int = 100,
    k_max: int | None = None,
    unroll: int = 4,
) -> DataFrame:
    """``(id, core)`` — max k such that the vertex survives k-core
    peeling (the reference outputs the max-k labels plus per-k counts,
    ``static_kcore.c:12-57``).

    Algorithm: iterated neighborhood h-index (Lü et al. 2016) — init
    ``c(v) = degree(v)``; each round ``c'(v) = h-index of neighbors'
    c values``; the fixpoint is exactly the core number.  Rounds are
    O(graph radius)-ish in practice — far cheaper than peeling k
    levels sequentially (a 100-core graph costs ~100 peel fixpoints
    the telescope way, ~10 rounds this way).

    Spark-first design: with ``c0 = degree`` the iteration is already
    pointwise non-increasing (the h-index is ≤ the neighbor count and
    monotone in its inputs), so no ``least(old, new)`` merge-back
    join is needed — a round is ONE broadcast join + histogram
    aggregate + per-id window, referencing the state exactly once.
    That keeps the lazy plan linear in depth, so ``unroll`` rounds
    compose into a single checkpointed job, PageRank-style; the
    Σcore convergence test runs once per chunk (conservative — extra
    rounds past the fixpoint change nothing).  The h-index itself is
    one shuffle: ``collect_list`` the neighbor values per vertex,
    sort descending, and count positions with ``cs[i] ≥ i+1`` via a
    JVM-side higher-order ``filter`` — no second window shuffle, and
    the array is bounded by the max degree.  ``k_max`` is accepted
    for API compatibility and ignored.
    """
    e = edges.select("src", "dst")
    ne = e.count()
    if single_task("core_numbers", ne):
        # guarded single-task fast path (round-10): the sf0.1 fixpoint
        # is 25 h-index rounds of ~0.4s scheduling each; same chunked
        # Σcore convergence schedule, exact integer state either way
        return _local_core_numbers(e, max_rounds, unroll)
    state = (
        e.groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("core"))
        .localCheckpoint()
    )
    nv = state.count()
    # right-size and materialize the constant edge relation once —
    # every round re-reads it (~250k edge rows per task)
    e = e.coalesce(iter_partitions(ne)).localCheckpoint()
    # cores only decrease, so Σcore strictly drops on any change — a
    # single-table aggregate over the cached state replaces a
    # join-based changed-flag test
    prev_sum = state.agg(F.sum("core")).collect()[0][0]
    done = 0
    while done < max_rounds:
        k = min(unroll, max_rounds - done)
        old = state
        for _ in range(k):
            nbr = e.join(
                state_hint(state.withColumnRenamed("id", "dst"), nv), "dst"
            ).select(F.col("src").alias("id"), F.col("core").alias("c_nbr"))
            # h-index per vertex: h = |{i : cs[i] >= i+1}| over the
            # descending-sorted neighbor values (1-based i)
            state = (
                nbr.groupBy("id")
                .agg(F.sort_array(F.collect_list("c_nbr"), asc=False).alias("cs"))
                .select(
                    "id",
                    F.size(
                        F.filter("cs", lambda c, i: c >= i + F.lit(1))
                    ).cast("long").alias("core"),
                )
            )
        state = state.localCheckpoint()  # one job: materialize k rounds
        new_sum = state.agg(F.sum("core")).collect()[0][0]
        old.unpersist()
        done += k
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    e.unpersist()
    return state.select("id", F.col("core").cast("int").alias("core"))
