"""Agglomerative community detection ("multicontract").

Reference (``src/alg/static_multicontract_clustering.c``): score each
edge by approximate modularity gain
``w_ij/(vol/2) − 2·w_i·w_j/vol²`` (``:52-98``), filter candidate
matches by a mean/variance threshold (``:100-130``), contract matched
pairs, rebuild the contracted multigraph
(``sum_all_edgeweights:12-33``), repeat until no contraction.

Spark-first design: one level = score (edges ⋈ weighted-degrees ×2)
→ per-vertex argmax (``max_by``) → **mutual**-best matching (a
deterministic, conflict-free subset of the reference's greedy race —
documented deviation: the reference's lock-based racing matcher is
nondeterministic under threads; mutual-best is its deterministic
core) → relabel + ``groupBy(new_src, new_dst).sum`` contraction.
The vertex→community mapping composes across levels with a join per
level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import fresh_checkpoint, map_single_task, np_edges, single_task, state_hint


def _local_agglomeration(edges: DataFrame, max_levels: int) -> DataFrame:
    """Single-Arrow-task agglomeration for the deterministic
    (``min_score_filter=False``) variant over a bounded-size edge
    table.  Each level at sf0.1 costs ~7 driver actions of scheduling
    latency in the DataFrame loop; here a level is a few NumPy passes.

    Exactness: ``vol``/``wdeg`` are sums of integer multiplicities
    (exact in float64 far below 2^53, any order), the per-edge score
    is the same pointwise IEEE expression the DataFrame/SQL versions
    compute, and the argmax tie-break (max score, then min dst) is
    lexicographic — so matching, contraction, and the final mapping
    are structurally determined, bit-identical to the DataFrame loop
    (parity-tested).  The mean-score candidate filter (an FP mean
    whose summation order is engine-dependent) deliberately stays on
    the DataFrame path."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di, wgt = np_edges(batches, ("wgt", "float64"))
        n = ids.size
        comm = np.arange(n, dtype=np.int64)
        for _ in range(max_levels):
            vol = float(wgt.sum())
            wdeg = np.bincount(si, weights=wgt, minlength=n)
            ns = si != di
            score = wgt[ns] / (vol / 2.0) - (
                2.0 * wdeg[si[ns]] * wdeg[di[ns]] / (vol * vol)
            )
            pos = score > 0
            cs, cd, csc = si[ns][pos], di[ns][pos], score[pos]
            if cs.size == 0:
                break
            # per-src argmax of (score, -dst): sort (src asc, score
            # desc, dst asc), take the first row of each src group
            order = np.lexsort((cd, -csc, cs))
            scs, scd = cs[order], cd[order]
            first = np.r_[True, scs[1:] != scs[:-1]]
            bsrc, bdst = scs[first], scd[first]
            best = np.full(n, -1, dtype=np.int64)
            best[bsrc] = bdst
            # mutual best with src < best: contract high -> low
            lo = bsrc[(best[bdst] == bsrc) & (bsrc < bdst)]
            hi = best[lo]
            if lo.size == 0:
                break
            lab = np.arange(n, dtype=np.int64)
            lab[hi] = lo
            si, di = lab[si], lab[di]
            comm = lab[comm]
            # contract the multigraph (self-loops kept: they carry the
            # merged community's internal weight)
            key = si * n + di
            uk, inv = np.unique(key, return_inverse=True)
            wgt = np.bincount(inv, weights=wgt)
            si, di = uk // n, uk % n
            if si.size == 0:
                break
        yield pd.DataFrame({"id": ids, "community": ids[comm]})

    return map_single_task(
        edges.select("src", "dst", F.col("wgt").cast("double").alias("wgt")),
        run,
        "id long, community long",
    )


def _score_edges(edges: DataFrame, nv: int | None = None) -> DataFrame:
    """Edge modularity-gain scores (reference ``:52-98``).

    Volume and weighted degrees include contracted self-loops (the
    internal weight of merged communities) — otherwise contraction
    loses volume and the last cross-community merge looks spuriously
    attractive; only non-self edges are match candidates.
    """
    vol = edges.agg(F.sum("wgt").alias("v")).collect()[0]["v"]
    wdeg = edges.groupBy(F.col("src").alias("id")).agg(F.sum("wgt").alias("wd"))
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .join(state_hint(wdeg.withColumnRenamed("id", "src"), nv), "src")
        .withColumnRenamed("wd", "w_src")
        .join(
            state_hint(
                wdeg.withColumnRenamed("id", "dst").withColumnRenamed("wd", "w_dst"),
                nv,
            ),
            "dst",
        )
        .select(
            "src",
            "dst",
            "wgt",
            (
                # float(vol) * float(vol), NOT float(vol) ** 2: C pow()
                # is not guaranteed correctly rounded for x**2, while
                # x*x is a single IEEE op — the SQL oracle squares with
                # vol*vol, and the two must be bit-identical for the
                # score comparisons (>0, argmax) to agree.
                F.col("wgt") / F.lit(vol / 2.0)
                - F.lit(2.0) * F.col("w_src") * F.col("w_dst")
                / F.lit(float(vol) * float(vol))
            ).alias("score"),
        )
    )


def community_agglomeration(
    edges: DataFrame, max_levels: int = 10, min_score_filter: bool = True
) -> DataFrame:
    """``(id, community)`` for every original vertex.

    Levels proceed until no pair contracts or ``max_levels``.
    ``min_score_filter`` applies the reference's mean-based candidate
    filter (scores below the mean are not contracted).
    """
    # the mean filter stays on the DataFrame path (no count job there)
    eligible = not min_score_filter
    if single_task(
        "community_agglomeration", edges.count() if eligible else None, eligible
    ):
        # guarded single-task fast path (round-10) for the
        # deterministic variant — see _local_agglomeration; the
        # mean-filter path and cluster-scale graphs run the loop below
        return _local_agglomeration(edges, max_levels)
    mapping = fresh_checkpoint(
        edges.select(F.col("src").alias("id")).distinct().withColumn("community", F.col("id"))
    )
    nv = mapping.count()
    cur = fresh_checkpoint(edges.select("src", "dst", "wgt"))

    for _ in range(max_levels):
        # only positive modularity gain contracts — the agglomeration
        # stopping rule (merging the last two super-nodes always has
        # negative gain, so the loop terminates at a real clustering)
        # scored feeds BOTH the mean threshold and the argmax —
        # materialize once instead of re-running the score join per use
        scored = _score_edges(cur, nv).filter(F.col("score") > 0).localCheckpoint()
        if min_score_filter:
            stats = scored.agg(F.avg("score").alias("m")).collect()[0]
            if stats["m"] is not None:
                scored = scored.filter(F.col("score") >= stats["m"])
        # best is self-joined for mutuality — keep it materialized too
        best = (
            scored.groupBy("src")
            .agg(F.max_by("dst", F.struct(F.col("score"), -F.col("dst"))).alias("best"))
            .localCheckpoint()
        )
        rev = best.select(
            F.col("src").alias("dst"), F.col("best").alias("best_rev")
        )
        mutual = (
            best.join(rev, best.best == rev.dst)
            .filter(F.col("best_rev") == F.col("src"))
            .filter(F.col("src") < F.col("best"))
            .select(F.col("best").alias("id"), F.col("src").alias("new_id"))
        )
        n_matches = mutual.count()
        if n_matches == 0:
            break
        # relabel: matched high vertex -> its partner (min id).
        # n_matches is known ≤ nv/2, so the relabel table (whose
        # checkpoint keeps an inflated join-size estimate) gets an
        # explicit broadcast/shuffle hint —
        # without it AQE falls back to shuffling the full edge table
        # against it every level
        relabel = mutual.localCheckpoint()

        def apply_relabel(df: DataFrame, col: str) -> DataFrame:
            r = relabel.withColumnRenamed("id", col).withColumnRenamed(
                "new_id", f"_n_{col}"
            )
            return df.join(state_hint(r, n_matches), col, "left").withColumn(
                col, F.coalesce(f"_n_{col}", col)
            ).drop(f"_n_{col}")

        # keep self-loops: they carry the merged community's internal
        # weight, preserving total volume across levels
        cur = apply_relabel(apply_relabel(cur, "src"), "dst")
        cur = fresh_checkpoint(cur.groupBy("src", "dst").agg(F.sum("wgt").alias("wgt")))
        r = relabel.withColumnRenamed("id", "community").withColumnRenamed(
            "new_id", "new_comm"
        )
        mapping = fresh_checkpoint(
            mapping.join(state_hint(r, n_matches), "community", "left").select(
                "id", F.coalesce("new_comm", "community").alias("community")
            )
        )
        if cur.count() == 0:
            break
    return mapping


def community_sizes(mapping: DataFrame) -> DataFrame:
    return mapping.groupBy("community").agg(F.count("*").alias("size"))
