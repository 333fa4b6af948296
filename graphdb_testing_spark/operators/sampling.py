"""Graph sampling for representation-learning pipelines: deterministic
random walks (DeepWalk/node2vec input) and negative edge sampling
(link-prediction training pairs).

Randomness discipline: every "random" choice is a pure function of
``(salt, walk/pair id, step)`` via the portable md5-prefix hash —
reproducible across retries, partitionings, and engines, which makes
both operators exactly oracle-checkable in DuckDB (same reason
``functions/curation.stratified_sample`` avoids ``rand()``).

Scale shape: walks advance ALL walkers one step per round — state is
one row per walker, each step is two equi-joins (degree lookup, then
``(vertex, idx)`` neighbor lookup — no per-walker neighbor fan-out),
O(walk_length) jobs total.  Negative sampling is a hash fan-out + one
semi-join (valid id) + one anti-join (not a real edge); candidate ids
come from ``hash % (max_id + 1)`` — no global rank table, no global
sort, nothing broadcast (the ``csr_offsets`` lesson from round 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


from ..hashutil import hash_mod as _hash_mod  # the one portable draw
from .util import map_single_task, np_edges, single_task


def _md5_mod(salt: str, parts: list, mod: int) -> int:
    """Driver/worker-side replica of :func:`hashutil.hash_mod` (md5 of
    the '|'-joined decimal strings, first 8 hex chars, mod)."""
    import hashlib

    s = "|".join([salt] + [str(int(p)) for p in parts])
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod


def _np_adj(batches, with_wgt: bool = False):
    """Arrow batches of a symmetric edge table → per-vertex
    ascending-``dst`` neighbor arrays: ``(verts, starts, nbr[, wgt])``
    where vertex ``verts[i]``'s neighbors are
    ``nbr[starts[i]:starts[i+1]]``.  Distinct (src, dst); with
    ``with_wgt`` the per-pair weight is the MAX (mirroring
    :func:`weighted_adjacency`)."""
    import numpy as np

    ids, si, di, *extra = np_edges(batches, *([("wgt", "int64")] if with_wgt else []))
    # ids is sorted, so (si, di) order is (src, dst) order
    if with_wgt:
        order = np.lexsort((extra[0], di, si))
        si, di, w = si[order], di[order], extra[0][order]
        # last of each (src, dst) run holds the max weight
        keep = np.r_[(si[1:] != si[:-1]) | (di[1:] != di[:-1]), True]
        si, di, w = si[keep], di[keep], w[keep]
    else:
        si, di = np.unique(np.stack([si, di]), axis=1)
    # every vertex is a src, so row i of ids starts at the first si == i
    starts = np.searchsorted(si, np.arange(ids.size + 1))
    if with_wgt:
        return ids, starts, ids[di], w
    return ids, starts, ids[di]


def _local_random_walks(
    e: DataFrame, walk_length: int, start_every: int, salt: str
) -> DataFrame:
    """Single-task uniform walks: same seed set, neighbor indexing
    (ascending dst) and md5 draw as the join loop — exact."""

    def run(batches):
        import numpy as np
        import pandas as pd

        verts, starts, nbr = _np_adj(batches)
        rows = []
        for i, v in enumerate(verts):
            if v % start_every != 0:
                continue
            rows.append((int(v), 0, int(v)))
            cur = i
            for s in range(1, walk_length + 1):
                lo, hi = starts[cur], starts[cur + 1]
                pick = _md5_mod(salt, [v, s], int(hi - lo))
                nx = int(nbr[lo + pick])
                rows.append((int(v), s, nx))
                cur = int(np.searchsorted(verts, nx))
        yield pd.DataFrame(
            rows, columns=["walk_id", "step", "vertex"]
        ).astype({"walk_id": "int64", "step": "int32", "vertex": "int64"})

    return map_single_task(e, run, "walk_id long, step int, vertex long")


def _local_weighted_walks(
    e: DataFrame, walk_length: int, start_every: int, salt: str
) -> DataFrame:
    """Single-task weight-biased walks: integer inverse-CDF over the
    ascending-dst max-weight adjacency, same md5 draw — exact."""

    def run(batches):
        import numpy as np
        import pandas as pd

        verts, starts, nbr, w = _np_adj(batches, with_wgt=True)
        rows = []
        for i, v in enumerate(verts):
            if v % start_every != 0:
                continue
            rows.append((int(v), 0, int(v)))
            cur = i
            for s in range(1, walk_length + 1):
                lo, hi = starts[cur], starts[cur + 1]
                cw = np.cumsum(w[lo:hi])
                pick = _md5_mod(salt, [v, s], int(cw[-1]))
                j = int(np.searchsorted(cw, pick, side="right"))
                nx = int(nbr[lo + j])
                rows.append((int(v), s, nx))
                cur = int(np.searchsorted(verts, nx))
        yield pd.DataFrame(
            rows, columns=["walk_id", "step", "vertex"]
        ).astype({"walk_id": "int64", "step": "int32", "vertex": "int64"})

    return map_single_task(e, run, "walk_id long, step int, vertex long")


def _local_node2vec_walks(
    e: DataFrame,
    walk_length: int,
    start_every: int,
    return_mult: int,
    in_out_mult: int,
    base_mult: int,
    salt: str,
) -> DataFrame:
    """Single-task second-order walks: step 1 uniform by neighbor
    index, later steps integer-CDF over candidates in ascending order
    with the (prev / triangle / other) multiplier — exact."""

    def run(batches):
        import numpy as np
        import pandas as pd

        verts, starts, nbr = _np_adj(batches)

        def neighbors(vi):
            return nbr[starts[vi] : starts[vi + 1]]

        rows = []
        for i, v in enumerate(verts):
            if v % start_every != 0:
                continue
            rows.append((int(v), 0, int(v)))
            lo, hi = starts[i], starts[i + 1]
            pick = _md5_mod(salt, [v, 1], int(hi - lo))
            cur = int(nbr[lo + pick])
            prev = int(v)
            rows.append((int(v), 1, cur))
            for s in range(2, walk_length + 1):
                ci = int(np.searchsorted(verts, cur))
                cands = neighbors(ci)  # ascending
                pi = int(np.searchsorted(verts, prev))
                pn = neighbors(pi)
                is_tri = np.isin(cands, pn)
                mult = np.where(
                    cands == prev,
                    return_mult,
                    np.where(is_tri, base_mult, in_out_mult),
                ).astype(np.int64)
                cw = np.cumsum(mult)
                pick = _md5_mod(salt, [v, s], int(cw[-1]))
                j = int(np.searchsorted(cw, pick, side="right"))
                prev, cur = cur, int(cands[j])
                rows.append((int(v), s, cur))
        yield pd.DataFrame(
            rows, columns=["walk_id", "step", "vertex"]
        ).astype({"walk_id": "int64", "step": "int32", "vertex": "int64"})

    return map_single_task(e, run, "walk_id long, step int, vertex long")


def indexed_adjacency(edges: DataFrame) -> DataFrame:
    """``(src, idx, dst, deg)`` — each vertex's distinct neighbors
    numbered ``0..deg-1`` in ascending ``dst`` order (the stable
    indexing both the walker and the SQL oracle address into).
    The window partitions by vertex — no global sort."""
    nbrs = edges.select("src", "dst").distinct()
    w = Window.partitionBy("src").orderBy("dst")
    return (
        nbrs.withColumn("idx", F.row_number().over(w) - 1)
        .withColumn("deg", F.count("*").over(Window.partitionBy("src")))
    )



def _seed_walkers(vertices: DataFrame, start_every: int) -> DataFrame:
    """Step-0 walker state ``(walk_id, step, vertex)`` from every
    vertex with ``id % start_every == 0`` (shared by all three walk
    variants), materialized once."""
    return (
        vertices.filter(F.col("src") % start_every == 0)
        .select(
            F.col("src").alias("walk_id"),
            F.lit(0).alias("step"),
            F.col("src").alias("vertex"),
        )
        .localCheckpoint()
    )


def random_walks(
    edges: DataFrame,
    walk_length: int = 3,
    start_every: int = 50,
    salt: str = "walk-v1",
) -> DataFrame:
    """``(walk_id, step, vertex)`` — one deterministic uniform walk of
    ``walk_length`` steps from every vertex with ``id % start_every
    == 0`` (the seed set; ``start_every=1`` walks from everywhere).

    Step rule: from ``v`` at step ``s`` the walker moves to neighbor
    ``hash32(salt|walk_id|s) % deg(v)`` of the ascending-``dst``
    indexed adjacency.  Walks never dead-end on a symmetric graph
    (any reached vertex has at least its predecessor as a neighbor).
    """
    if single_task("random_walks", edges.count()):
        # guarded single-task fast path (round-10): same seed set,
        # ascending-dst indexing, and md5 draw — exact
        return _local_random_walks(
            edges.select("src", "dst"), walk_length, start_every, salt
        )
    adj = indexed_adjacency(edges).localCheckpoint()
    degs = adj.select("src", "deg").distinct()
    out = _seed_walkers(degs.select("src"), start_every)
    cur = out
    for s in range(1, walk_length + 1):
        # two equi-joins: degree lookup to compute the pick, then the
        # (vertex, idx) neighbor lookup — 1 row in, 1 row out
        with_pick = (
            cur.join(degs, cur.vertex == degs.src)
            .withColumn(
                "pick",
                _hash_mod(salt, [F.col("walk_id"), F.lit(s)], F.col("deg")),
            )
            .select("walk_id", "vertex", "pick")
        )
        nxt = (
            with_pick.join(
                adj,
                (with_pick.vertex == adj.src) & (with_pick.pick == adj.idx),
            )
            .select(
                "walk_id",
                F.lit(s).alias("step"),
                F.col("dst").alias("vertex"),
            )
            .localCheckpoint()
        )
        out = out.unionAll(nxt)
        cur = nxt
    return out


def negative_samples(
    edges: DataFrame,
    k: int = 3,
    salt: str = "neg-v1",
) -> DataFrame:
    """``(src, candidate, sample_no)`` — for every canonical edge
    ``src < dst``, up to ``k`` deterministic non-neighbor candidates
    of ``src``: corrupt the destination to ``hash32(salt|src|dst|i) %
    (max_id + 1)``, keep ids that exist (semi-join), drop self-pairs
    and true edges (anti-join).

    The standard negative-sampling corruption for link-prediction /
    embedding training; "up to k" because invalid or colliding
    candidates are dropped rather than re-drawn (re-drawing is a
    loop; over-provision ``k`` instead at scale).
    """
    nbrs = edges.select("src", "dst").distinct().localCheckpoint()
    verts = nbrs.select("src").distinct()
    max_id = nbrs.agg(F.max("src").alias("m")).collect()[0]["m"]
    if max_id is None:  # empty graph -> empty sample, same schema
        return edges.sparkSession.createDataFrame(
            [], "src long, candidate long, sample_no long"
        )
    canon = nbrs.filter(F.col("src") < F.col("dst"))
    cands = (
        canon.select(
            "src",
            "dst",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("sample_no"),
        )
        .withColumn(
            "candidate",
            _hash_mod(
                salt,
                [F.col("src"), F.col("dst"), F.col("sample_no")],
                F.lit(int(max_id) + 1),
            ),
        )
        .filter(F.col("src") != F.col("candidate"))
        .join(
            verts.withColumnRenamed("src", "candidate"), "candidate", "left_semi"
        )
        .select("src", "candidate", "sample_no")
    )
    return cands.join(
        nbrs.withColumnRenamed("dst", "candidate"), ["src", "candidate"], "left_anti"
    ).distinct()


def skipgram_pairs(walks: DataFrame, window: int = 2) -> DataFrame:
    """``(center, context, dist)`` skip-gram training pairs from a
    ``(walk_id, step, vertex)`` walk table: every ordered pair of
    vertices within ``window`` steps on the same walk (both
    directions, like word2vec over the walk "sentence").

    One self-join on ``walk_id`` bounded by the step distance — walks
    are short (the window clamps the blow-up to ``2·window`` rows per
    position), partition-pruned by the equi-key.
    """
    a = walks.select(
        F.col("walk_id"), F.col("step").alias("s1"), F.col("vertex").alias("center")
    )
    b = walks.select(
        F.col("walk_id"), F.col("step").alias("s2"), F.col("vertex").alias("context")
    )
    return (
        a.join(b, "walk_id")
        .filter(
            (F.col("s1") != F.col("s2"))
            & (F.abs(F.col("s1") - F.col("s2")) <= window)
        )
        .select(
            "center",
            "context",
            F.abs(F.col("s1") - F.col("s2")).cast("long").alias("dist"),
        )
    )


def weighted_adjacency(edges: DataFrame) -> DataFrame:
    """``(src, dst, wgt, cum, total_w)`` — neighbors in ascending
    ``dst`` order with the running weight prefix ``cum`` (inclusive)
    and the vertex's total weight: the integer CDF the weighted walker
    inverts.  Weights must be integral (they are counts here), so the
    cumulative arithmetic is exact on both engines."""
    nbrs = (
        edges.groupBy("src", "dst").agg(F.max("wgt").cast("long").alias("wgt"))
    )
    w = Window.partitionBy("src").orderBy("dst")
    return (
        nbrs.withColumn(
            "cum", F.sum("wgt").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("total_w", F.sum("wgt").over(Window.partitionBy("src")))
    )


def weighted_random_walks(
    edges: DataFrame,
    walk_length: int = 3,
    start_every: int = 50,
    salt: str = "wwalk-v1",
) -> DataFrame:
    """``(walk_id, step, vertex)`` — deterministic *weight-biased*
    walks: from ``v`` the walker draws ``pick = hash32(salt|walk|step)
    % total_w(v)`` and moves to the unique neighbor whose cumulative
    weight interval ``[cum - wgt, cum)`` contains ``pick`` — exact
    inverse-CDF sampling over integer weights, so heavier edges are
    proportionally likelier and the draw is reproducible and
    oracle-checkable (no floats anywhere).

    Step cost: one equi-join on the walker's vertex fanning out its
    neighbor list, filtered to the single interval hit — ``Σ deg``
    rows per step, the inherent cost of weighted selection without a
    precomputed alias table."""
    if single_task("weighted_random_walks", edges.count()):
        # guarded single-task fast path (round-10): same max-weight
        # integer CDF and md5 draw — exact
        return _local_weighted_walks(
            edges.select("src", "dst", "wgt"), walk_length, start_every, salt
        )
    adj = weighted_adjacency(edges).localCheckpoint()
    totals = adj.select("src", "total_w").distinct()
    out = _seed_walkers(totals.select("src"), start_every)
    cur = out
    for s in range(1, walk_length + 1):
        with_pick = (
            cur.join(totals, cur.vertex == totals.src)
            .withColumn(
                "pick",
                _hash_mod(salt, [F.col("walk_id"), F.lit(s)], F.col("total_w")),
            )
            .select("walk_id", "vertex", "pick")
        )
        nxt = (
            with_pick.join(adj, with_pick.vertex == adj.src)
            .filter(
                (F.col("pick") >= F.col("cum") - F.col("wgt"))
                & (F.col("pick") < F.col("cum"))
            )
            .select(
                "walk_id", F.lit(s).alias("step"), F.col("dst").alias("vertex")
            )
            .localCheckpoint()
        )
        out = out.unionAll(nxt)
        cur = nxt
    return out


def node2vec_walks(
    edges: DataFrame,
    walk_length: int = 3,
    start_every: int = 50,
    return_mult: int = 1,
    in_out_mult: int = 2,
    base_mult: int = 4,
    salt: str = "n2v-v1",
) -> DataFrame:
    """``(walk_id, step, vertex)`` — deterministic node2vec
    second-order walks (Grover & Leskovec 2016) with INTEGER bias
    multipliers so the draw is exactly portable: a candidate next-hop
    gets weight ``return_mult`` when it is the previous vertex
    (node2vec's ``1/p``), ``base_mult`` when it closes a triangle with
    the previous vertex (distance 1), and ``in_out_mult`` otherwise
    (``1/q``); defaults encode p=4, q=2 scaled by 4.  Step 1 (no
    previous vertex) is the uniform first-order draw.

    Per step: the walker state ``(walk_id, prev, cur)`` fans out to
    ``cur``'s neighbors (one equi-join), a left semi/anti pair against
    the edge set marks triangle-closing candidates, a per-walker
    window builds the integer CDF, and ``hash32(salt|walk|step) %
    total`` indexes it — the same inverse-CDF idiom as
    :func:`weighted_random_walks`, with per-(walker, step) cumulative
    weights instead of a precomputed per-vertex CDF.
    """
    if single_task("node2vec_walks", edges.count()):
        # guarded single-task fast path (round-10): same candidate
        # ordering, integer multipliers, and md5 draw — exact
        return _local_node2vec_walks(
            edges.select("src", "dst"),
            walk_length,
            start_every,
            return_mult,
            in_out_mult,
            base_mult,
            salt,
        )
    nbrs = edges.select("src", "dst").distinct().localCheckpoint()
    adj = indexed_adjacency(edges).localCheckpoint()
    degs = adj.select("src", "deg").distinct()
    seeds = _seed_walkers(degs.select("src"), start_every)
    out = seeds
    # step 1: uniform (no previous vertex) — identical to random_walks
    first = (
        seeds.select("walk_id", "vertex")
        .join(degs, F.col("vertex") == degs.src)
        .withColumn(
            "pick", _hash_mod(salt, [F.col("walk_id"), F.lit(1)], F.col("deg"))
        )
        .join(
            adj.select(
                F.col("src").alias("vertex2"), "idx", F.col("dst").alias("nxt")
            ),
            (F.col("vertex") == F.col("vertex2")) & (F.col("idx") == F.col("pick")),
        )
        .select(
            "walk_id",
            F.lit(1).alias("step"),
            F.col("vertex").alias("prev"),
            F.col("nxt").alias("vertex"),
        )
        .localCheckpoint()
    )
    out = out.unionAll(first.select("walk_id", "step", "vertex"))
    cur = first
    tri_edges = nbrs.select(
        F.col("src").alias("prev"), F.col("dst").alias("cand")
    )
    for s in range(2, walk_length + 1):
        cands = (
            cur.select("walk_id", "prev", "vertex")
            .join(
                nbrs.select(F.col("src").alias("vertex"), F.col("dst").alias("cand")),
                "vertex",
            )
            .join(
                tri_edges.withColumn("is_tri", F.lit(1)),
                ["prev", "cand"],
                "left",
            )
            .withColumn(
                "mult",
                F.when(F.col("cand") == F.col("prev"), F.lit(return_mult))
                .when(F.col("is_tri").isNotNull(), F.lit(base_mult))
                .otherwise(F.lit(in_out_mult)),
            )
        )
        w = Window.partitionBy("walk_id").orderBy("cand")
        cdf = (
            cands.withColumn(
                "cum",
                F.sum("mult").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .withColumn("total", F.sum("mult").over(Window.partitionBy("walk_id")))
            .withColumn(
                "pick",
                _hash_mod(salt, [F.col("walk_id"), F.lit(s)], F.col("total")),
            )
        )
        nxt = (
            cdf.filter(
                (F.col("pick") >= F.col("cum") - F.col("mult"))
                & (F.col("pick") < F.col("cum"))
            )
            .select(
                "walk_id",
                F.lit(s).alias("step"),
                F.col("vertex").alias("prev"),
                F.col("cand").alias("vertex"),
            )
            .localCheckpoint()
        )
        out = out.unionAll(nxt.select("walk_id", "step", "vertex"))
        cur = nxt
    return out
