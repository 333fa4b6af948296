"""Strongly connected components — trim + forward-color + backward
settle (the "Multistep" shape: Slota/Rajamanickam/Madduri IPDPS'14,
also Orzan's coloring SCC), composed from the same DataFrame idioms as
:mod:`operators.components`.

The reference engine ships undirected components only
(``tests/stinger/src/alg/static_components.c``); SCC is the directed
completion of that kernel over the directed action/event relation a
user of the reference would reach for next.

Spark-first design
------------------
* **Trim**: vertices with no in-edge or no out-edge inside the active
  subgraph are singleton SCCs; peeling them to (bounded) fixpoint is
  two semi-joins per round and removes the DAG tails that would
  otherwise cost one full color round each.
* **Forward coloring**: ``color[v] = min u that reaches v`` via the
  one-self-reference-per-round min-label loop of
  :func:`operators.components.connected_components` (self-loop edges
  appended to the constant relation; ``join + groupBy.min`` along the
  edge direction; DECIMAL(38,0) Σcolor convergence scalar; linear plan
  growth, ``localCheckpoint`` per chunk).
* **Backward settle**: within one color class, ``SCC(root) =
  {v : color[v] = root ∧ v →* root}`` — every vertex on such a path
  shares the color, so the backward reachability join can (and does)
  filter on color equality, keeping the frontier inside one class.
  Settledness is monotone; convergence = stable count.
* Each outer round removes every color root's full SCC, so rounds ≤
  the longest SCC chain in the condensation — with trimming, small for
  real graphs.  All joins carry :func:`operators.util.state_hint`
  (broadcast below the measured crossover, shuffle-hash above), so the
  same code is the 100 TB plan: no driver-side collections beyond
  scalar counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import iter_partitions, map_single_task, np_edges, single_task, state_hint


def _local_scc(e: DataFrame, max_outer: int = 30) -> DataFrame:
    """Single-Arrow-task SCC over a bounded-size directed edge table:
    trim + vectorized forward min-label fixpoint + backward settle
    within each color class, peeling settled components per outer
    round.

    The OUTPUT is algorithm-independent — ``scc_id(v) = min{u : u →* v
    ∧ v →* u}`` is a property of the graph, not of the peeling
    strategy — so parity with the distributed Multistep loop is
    structural (exact integers).

    Round-10 ADVICE: the first version had neither a trim step nor the
    ``max_outer`` cap, so a pathological chain/DAG under the 8M-edge
    guard settled one root per outer round with an O(diameter)
    full-edge-scan fixpoint each — effectively a hang where the
    distributed path fails fast.  Trivial SCCs (no alive in- OR
    out-edge) are now peeled to fixpoint each round, and the same
    ``max_outer`` cap raises the same error."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di = np_edges(batches, directed=True)
        n = ids.size
        scc = np.full(n, -1, dtype=np.int64)
        alive = np.ones(n, dtype=bool)
        vidx = np.arange(n, dtype=np.int64)
        outer = 0
        while alive.any():
            if outer >= max_outer:
                raise RuntimeError(
                    f"SCC did not converge within max_outer={max_outer} "
                    "peel rounds"
                )
            outer += 1
            # trim to fixpoint: a vertex with no alive in-edge or no
            # alive out-edge is a singleton SCC (chains/DAG tails cost
            # one cheap vectorized pass per layer instead of one full
            # color round each)
            while True:
                em = alive[si] & alive[di]
                has_out = np.zeros(n, dtype=bool)
                has_out[si[em]] = True
                has_in = np.zeros(n, dtype=bool)
                has_in[di[em]] = True
                triv = alive & ~(has_out & has_in)
                if not triv.any():
                    break
                scc[triv] = vidx[triv]
                alive &= ~triv
            if not alive.any():
                break
            em = alive[si] & alive[di]
            es, ed = si[em], di[em]
            # forward min-label fixpoint along edge direction
            f = np.where(alive, vidx, np.iinfo(np.int64).max)
            while True:
                nf = f.copy()
                np.minimum.at(nf, ed, f[es])
                if np.array_equal(nf, f):
                    break
                f = nf
            # backward settle: v joins SCC(r) iff f[v] == r and v
            # reaches r; the whole path shares the color, so reach
            # within the class only
            settled = alive & (f == vidx)
            while True:
                grow = settled[ed] & ~settled[es] & (f[es] == f[ed])
                if not grow.any():
                    break
                settled[es[grow]] = True
            scc[settled] = f[settled]
            alive &= ~settled
        yield pd.DataFrame({"id": ids, "scc_id": ids[scc]})

    return map_single_task(e, run, "id long, scc_id long")


def _minlabel_forward(
    edges: DataFrame, verts: DataFrame, nv: int, max_iter: int, unroll: int
) -> DataFrame:
    """``(id, color)`` with ``color`` = min vertex id reaching ``id``
    (reflexive) along edge direction, to fixpoint."""
    ne = edges.count()
    e_self = (
        edges.select("src", "dst")
        .unionAll(verts.select(F.col("id").alias("src"), F.col("id").alias("dst")))
        .coalesce(iter_partitions(ne + nv))
    )
    colors = verts.withColumn("color", F.col("id")).localCheckpoint()
    prev_sum = colors.agg(
        F.sum(F.col("color").cast("decimal(38,0)")).alias("s")
    ).collect()[0]["s"]
    done = 0
    while done < max_iter:
        k = min(unroll, max_iter - done)
        chunk_start = colors
        for _ in range(k):
            colors = (
                e_self.join(state_hint(colors, nv), e_self.src == colors.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("color").alias("color"))
            )
        colors = colors.localCheckpoint()
        done += k
        cur_sum = colors.agg(
            F.sum(F.col("color").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        chunk_start.unpersist()
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return colors


def strongly_connected_components(
    edges: DataFrame,
    max_outer: int = 30,
    max_prop: int = 100,
    unroll: int = 4,
    trim_rounds: int = 10,
) -> DataFrame:
    """``(id, scc_id)`` over a **directed** ``(src, dst)`` edge list;
    ``scc_id`` = min vertex id in the strongly connected component.

    Vertex universe = all edge endpoints.  Raises if the condensation
    is deeper than ``max_outer`` peel rounds (raise the cap for
    pathological chain graphs).
    """
    if single_task("strongly_connected_components", edges.count()):
        # guarded single-task fast path (round-10): the scc_id output
        # is algorithm-independent (min id under mutual reachability),
        # so the vectorized FW-BW peel matches structurally; it honors
        # the same max_outer cap (with per-round trim) so pathological
        # chain graphs fail fast instead of hanging (round-10 ADVICE)
        return _local_scc(edges.select("src", "dst"), max_outer)
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    remaining = ids
    cur_edges = edges.select("src", "dst").distinct().localCheckpoint()
    pieces: list[DataFrame] = []

    for _ in range(max_outer):
        nrem = remaining.count()
        if nrem == 0:
            break

        # --- trim: no-in or no-out vertices are singleton SCCs
        for _ in range(trim_rounds):
            srcs = cur_edges.select(F.col("src").alias("id")).distinct()
            dsts = cur_edges.select(F.col("dst").alias("id")).distinct()
            both = srcs.join(state_hint(dsts, nrem), "id").localCheckpoint()
            dead = remaining.join(state_hint(both, nrem), "id", "left_anti")
            if dead.isEmpty():
                break
            pieces.append(
                dead.select("id", F.col("id").alias("scc_id")).localCheckpoint()
            )
            remaining = remaining.join(
                state_hint(both, nrem), "id", "semi"
            ).localCheckpoint()
            nrem = remaining.count()
            keep_s = remaining.select(F.col("id").alias("src"))
            keep_d = remaining.select(F.col("id").alias("dst"))
            cur_edges = (
                cur_edges.join(state_hint(keep_s, nrem), "src", "semi")
                .join(state_hint(keep_d, nrem), "dst", "semi")
                .select("src", "dst")
                .localCheckpoint()
            )
        if nrem == 0:
            break

        # --- forward min-label coloring to fixpoint
        colors = _minlabel_forward(cur_edges, remaining, nrem, max_prop, unroll)

        # --- backward settle within each color class
        settled = (
            colors.filter(F.col("id") == F.col("color"))
            .select("id", F.col("color").alias("scc_id"))
            .localCheckpoint()
        )
        n_settled = settled.count()
        for _ in range(max_prop):
            grown = (
                cur_edges.join(
                    state_hint(
                        settled.select(
                            F.col("id").alias("dst"), F.col("scc_id")
                        ),
                        n_settled,
                    ),
                    "dst",
                )
                .join(
                    state_hint(
                        colors.select(F.col("id").alias("src"), "color"), nrem
                    ),
                    "src",
                )
                .filter(F.col("color") == F.col("scc_id"))
                .select(F.col("src").alias("id"), "scc_id")
                .unionAll(settled)
                .distinct()
                .localCheckpoint()
            )
            n_grown = grown.count()
            settled.unpersist()
            settled = grown
            if n_grown == n_settled:
                break
            n_settled = n_grown

        pieces.append(settled)
        remaining = remaining.join(
            state_hint(settled.select("id"), n_settled), "id", "left_anti"
        ).localCheckpoint()
        nrem = remaining.count()
        keep_s = remaining.select(F.col("id").alias("src"))
        keep_d = remaining.select(F.col("id").alias("dst"))
        cur_edges = (
            cur_edges.join(state_hint(keep_s, nrem), "src", "semi")
            .join(state_hint(keep_d, nrem), "dst", "semi")
            .select("src", "dst")
            .localCheckpoint()
        )
    else:
        if not remaining.isEmpty():
            raise RuntimeError(
                f"SCC did not converge within max_outer={max_outer} peel rounds"
            )

    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionAll(p)
    return out

