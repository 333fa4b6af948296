"""Approximate betweenness centrality — Brandes with sampled roots.

Reference (``src/alg/static_betweenness_centrality.c:56-180``): per
sampled root, a BFS accumulating path counts ``sigma``, then a
reverse-order dependency sweep ``delta[p] += (σ_p/σ_c)(1+δ_c)``;
per-root results are summed (thread-parallel over roots with a final
reduction, ``:33-40``).

Spark-first design: instead of one job chain per root, ALL roots run
simultaneously in one vertex-state DataFrame keyed by ``(root, id)``
— each BFS level is a single join + aggregate for the whole root
batch, so the job count is O(diameter), not O(roots × diameter).
The backward sweep walks the stored level frontiers deep→shallow the
same way.  Vertex and edge betweenness run one sweep
(:func:`_brandes_sweep`, the distributed twin of
:func:`_local_brandes`); edge mode only adds the canonical-pair
aggregation of the backward terms.  A level costs one job forward
(its checkpoint also counts its rows) plus the visited-set
checkpoint, and one job backward.  Sampled roots ≈ the reference's
approximation; exact BC = every vertex as root.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import counted, iter_partitions, map_single_task, np_edges, single_task, state_hint


def _local_brandes(
    e: DataFrame,
    roots: list[int],
    max_depth: int,
    edge_mode: bool,
) -> DataFrame:
    """Single-Arrow-task multi-root Brandes (round-11, guide §4.2).

    Float discipline (the round-10 verdict's condition for attempting
    this): forward ``sigma`` sums are integer-valued doubles — exact in
    any order up to 2^53 paths; the backward dependency sweep
    accumulates per-parent terms with ``np.add.at`` over the (src,
    dst)-lexsorted edge array and roots in ascending order, so the
    fold order is FIXED (independent of input partitioning), the same
    determinism contract as ``_local_pagerank``.  Final rounding uses
    the shortest-repr BigDecimal HALF_UP rule (= Spark ``F.round``).
    Parity with the DataFrame sweep is asserted at 6 dp by
    tests/test_betweenness_local.py on multi-component fixtures and by
    the sf0.01/sf0.1 oracle runs.
    """
    rts = [int(r) for r in roots]
    md = int(max_depth)

    def run(batches):
        import numpy as np
        import pandas as pd
        from decimal import ROUND_HALF_UP, Decimal

        ids, si, di = np_edges(batches)
        n = ids.size
        order = np.lexsort((di, si))
        si_, di_ = si[order], di[order]
        six = Decimal("1E-6")

        def r6(x: float) -> float:
            return float(
                Decimal(repr(float(x))).quantize(six, rounding=ROUND_HALF_UP)
            )

        bc = np.zeros(n, dtype=np.float64)
        appears = np.zeros(n, dtype=bool)
        if edge_mode:
            # canonical directed-edge key per lexsorted edge row
            ekey = (
                np.minimum(si_, di_).astype(np.int64) * n
                + np.maximum(si_, di_)
            )
            uniq_keys, einv = np.unique(ekey, return_inverse=True)
            ebc = np.zeros(uniq_keys.size, dtype=np.float64)
            e_hit = np.zeros(uniq_keys.size, dtype=bool)
        for r in rts:
            pos = np.searchsorted(ids, r)
            if pos >= n or ids[pos] != r:
                continue  # root absent from the vertex set
            dist = np.full(n, -1, dtype=np.int64)
            sigma = np.zeros(n, dtype=np.float64)
            dist[pos] = 0
            sigma[pos] = 1.0
            depth = 0
            while depth < md:
                depth += 1
                mask = dist[si_] == depth - 1
                if not mask.any():
                    depth -= 1
                    break
                nsig = np.zeros(n, dtype=np.float64)
                np.add.at(nsig, di_[mask], sigma[si_[mask]])
                new = (nsig > 0) & (dist < 0)
                if not new.any():
                    depth -= 1
                    break
                dist[new] = depth
                sigma[new] = nsig[new]
            # backward dependency sweep, deepest level first
            delta = np.zeros(n, dtype=np.float64)
            for d in range(depth, 0, -1):
                m = (dist[si_] == d - 1) & (dist[di_] == d)
                if not m.any():
                    continue
                p, c = si_[m], di_[m]
                term = (sigma[p] / sigma[c]) * (1.0 + delta[c])
                np.add.at(delta, p, term)
                if edge_mode:
                    ei = einv[m]
                    np.add.at(ebc, ei, term)
                    e_hit[ei] = True
            reached = dist >= 0
            reached[pos] = False  # Brandes: v != s
            bc[reached] += delta[reached]
            appears |= reached
        if edge_mode:
            u = (uniq_keys[e_hit] // n).astype(np.int64)
            v = (uniq_keys[e_hit] % n).astype(np.int64)
            yield pd.DataFrame(
                {
                    "u": ids[u],
                    "v": ids[v],
                    "bc": [r6(x) for x in ebc[e_hit]],
                }
            ).astype({"u": "int64", "v": "int64", "bc": "float64"})
        else:
            yield pd.DataFrame(
                {
                    "id": ids[appears],
                    "bc": [r6(x) for x in bc[appears]],
                }
            ).astype({"id": "int64", "bc": "float64"})

    schema = "u long, v long, bc double" if edge_mode else "id long, bc double"
    return map_single_task(e, run, schema)


def _brandes_sweep(
    e: DataFrame, ne: int, roots: list[int], max_depth: int, edge_mode: bool
) -> DataFrame:
    """The distributed side of both Brandes kernels, mirroring
    :func:`_local_brandes`: all roots advance in one ``(root, id)``
    state, a forward BFS level (path counts ``sigma``) per job, then
    the dependency sweep deepest level first, one job per level.  Each
    level's row count comes from its checkpoint job.  ``edge_mode``
    adds the canonical-pair aggregation of the per-edge terms."""
    spark = e.sparkSession
    # constant relation, re-read every level of both sweeps:
    # right-size (~250k edge rows/task) and materialize once
    e = e.coalesce(iter_partitions(ne)).localCheckpoint()
    # per-root state is bounded by nv rows per root; a checkpointed
    # state keeps its origin plan's size estimate (for a join, the
    # product of its sides), so hint sizes explicitly
    nv = e.select("src").distinct().count()
    est = nv * len(roots)

    frontier = spark.createDataFrame(
        [(int(r), int(r), 1.0) for r in roots],
        "root long, id long, sigma double",
    ).localCheckpoint()
    levels = [frontier]
    visited = frontier.select("root", "id").localCheckpoint()
    for _ in range(max_depth):
        nxt, n = counted(
            e.join(state_hint(frontier, est), e.src == frontier.id)
            .groupBy("root", F.col("dst").alias("id"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(state_hint(visited, est), ["root", "id"], "left_anti")
        )
        if n == 0:
            break
        levels.append(nxt)
        visited = visited.unionAll(nxt.select("root", "id")).localCheckpoint()
        frontier = nxt

    # backward dependency sweep, deepest level first: the DAG edge
    # p → c of a root carries (σ_p/σ_c)(1 + δ_c), and δ_p sums them
    child = levels[-1].withColumn("delta", F.lit(0.0))
    deltas = [child.select("root", "id", "delta")]
    edge_terms = []
    for parents in reversed(levels[:-1]):
        c = child.select(
            F.col("root").alias("c_root"),
            F.col("id").alias("c_id"),
            F.col("sigma").alias("c_sigma"),
            F.col("delta").alias("c_delta"),
        )
        terms = (
            state_hint(parents, est)
            .join(e, parents.id == e.src)
            .join(
                state_hint(c, est),
                (F.col("dst") == F.col("c_id")) & (F.col("root") == F.col("c_root")),
            )
            .select(
                "root",
                "id",
                "c_id",
                ((F.col("sigma") / F.col("c_sigma")) * (1.0 + F.col("c_delta"))).alias("dep"),
            )
        )
        if edge_mode:
            # referenced twice (the pair sums and the vertex deltas):
            # materialize, so the final aggregation does not redo the joins
            terms = terms.localCheckpoint()
            edge_terms.append(
                terms.select(
                    F.least("id", "c_id").alias("u"), F.greatest("id", "c_id").alias("v"), "dep"
                )
            )
        contrib = terms.groupBy("root", "id").agg(F.sum("dep").alias("dep"))
        child = (
            parents.join(contrib, ["root", "id"], "left")
            .select("root", "id", "sigma", F.coalesce("dep", F.lit(0.0)).alias("delta"))
            .localCheckpoint()
        )
        deltas.append(child.select("root", "id", "delta"))

    if edge_mode:
        if not edge_terms:
            return spark.createDataFrame([], "u long, v long, bc double")
        return (
            reduce(DataFrame.unionAll, edge_terms)
            .groupBy("u", "v")
            .agg(F.round(F.sum("dep"), 6).alias("bc"))
        )
    return (
        reduce(DataFrame.unionAll, deltas)
        .filter(F.col("id") != F.col("root"))  # Brandes: v != s
        .groupBy("id")
        .agg(F.round(F.sum("delta"), 6).alias("bc"))
    )


def _brandes(edges: DataFrame, roots: list[int], max_depth: int, edge_mode: bool) -> DataFrame:
    """Both Brandes kernels behind their guard: :func:`_local_brandes`
    when the |roots| × |E| state fits one task, else
    :func:`_brandes_sweep`.  At sf0.1 each sweep level costs scheduling,
    not compute (~2·diameter jobs), sigma is integer-exact and the
    delta fold order is fixed — see :func:`_local_brandes`."""
    e = edges.select("src", "dst")
    ne = e.count()
    family = "edge_betweenness" if edge_mode else "betweenness"
    if single_task(family, ne, state_rows=len(roots) * ne):
        return _local_brandes(e, roots, max_depth, edge_mode)
    return _brandes_sweep(e, ne, roots, max_depth, edge_mode)


def betweenness(
    edges: DataFrame,
    roots: list[int],
    max_depth: int = 64,
) -> DataFrame:
    """``(id, bc)`` — summed dependency scores over the given roots.

    Matches the reference's accumulation semantics: per root, every
    non-root vertex gains ``delta[v]``; no normalization, no halving
    (the reference treats the symmetric edge relation as a directed
    graph both ways, as we do).
    """
    return _brandes(edges, roots, max_depth, edge_mode=False)


def sample_roots(edges: DataFrame, n: int, seed: int = 1) -> list[int]:
    """Deterministic root sample: the n vertices with the smallest
    ``xxhash64(id, seed)`` — uniform over the vertex set,
    reproducible across runs and engines."""
    ids = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("h", F.xxhash64("id", F.lit(seed)))
        .orderBy("h")
        .limit(n)
        .collect()
    )
    return [r.id for r in ids]


def edge_betweenness(
    edges: DataFrame,
    roots: list[int],
    max_depth: int = 64,
) -> DataFrame:
    """``(u, v, bc)`` per canonical (``u < v``) undirected edge — the
    Brandes edge-dependency sums over the given roots (the
    Girvan–Newman edge score).  Same all-roots-in-one-state design as
    :func:`betweenness`: per root, the contribution of DAG edge
    ``p → c`` is ``(σ_p/σ_c)(1 + δ_c)``; summing over roots and both
    BFS orientations gives the undirected score.  Both kernels run
    the same sweep; edge mode also sums each backward term under its
    canonical pair, so the extra cost over vertex BC is one
    canonical-pair aggregation."""
    return _brandes(edges, roots, max_depth, edge_mode=True)
