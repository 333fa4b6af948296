"""PageRank with the reference's canonical parameters, and its
personalized and weighted variants — one kernel, three variants.

Reference semantics (SURVEY.md §2.4), identical across backends:
``damping d = 0.85``, ``epsilon = 1e-8`` (L1 delta), ``maxiter =
100``, init ``1/nv``, pull form::

    pr'[v] = (1-d)/nv + d * Σ_{u ∈ N(v)} pr[u] / outdeg(u)

(reference ``tests/stinger/src/alg/static_pagerank.c:286-328``;
relational form ``tests/sqlite/test.c:260-301``).  On the symmetric
benchmark graphs push over ``src`` and pull over ``dst`` coincide;
every vertex has degree ≥ 1 so there is no dangling mass (matching
the reference, which likewise ignores dangling vertices).

One kernel, three variants
--------------------------
All three public functions compute the same pre-divided-rank update
``prd'[v] = (reset(v) + d·Σ_{u ∈ N(v)} w(u,v)·prd[u]) / wdeg(v)`` with
``prd = pr / wdeg`` and differ only in three data choices:

* the reset term: uniform ``(1-d)/nv`` (:func:`pagerank`,
  :func:`weighted_pagerank`), or ``(1-d)/|S|`` on a seed set ``S`` and
  0 elsewhere (:func:`personalized_pagerank`);
* the initial ranks: ``1/nv``, ``1/|S|`` on the seeds, or a warm
  start (``pagerank(init_ranks=...)``);
* the edge weight: none (``w ≡ 1``, ``wdeg`` = degree), or the
  weight column (:func:`weighted_pagerank`, ``wdeg = Σ w``).

Each runs :func:`_pagerank`: the guarded single-task NumPy kernel
(:func:`_local_pagerank`) when the edge table fits one task, else the
distributed loop below.  GraphX (OSDI 2014) likewise runs plain and
personalized PageRank as one loop.

Spark-first design (the distributed loop)
-----------------------------------------
* Vertex state is the single-column **pre-divided rank** and the
  *constant* edge relation carries ``deg_src`` (the source's ``wdeg``,
  attached once up front).  A round is then a single ``edges ⋈ state``
  join + partially aggregated ``groupBy(src)`` that produces the next
  ``prd`` directly — no merge-back join against old state or the
  degree table.  One state reference per round ⇒ the unrolled lazy
  plan grows **linearly** in the chunk length.  The weight column and
  its multiply are in the plan only for the weighted variant; the seed
  reset is a JVM ``isin`` on the aggregation key, not a join.
* No left join is needed to re-instate message-less vertices: the
  edge table is symmetric, so every vertex with degree ≥ 1 receives
  at least one message, and degree-0 vertices don't exist in the
  canonical edge relation.
* The set-up comes from the edge table's layout
  (:func:`~graphdb_testing_spark.operators.util.layout`), built once
  per DataFrame and shared with CC and BFS: the edge count for the
  guard, the checkpointed ``(id, degree)`` table (the initial state,
  ``nv``, and the int32 test of ids and degrees in its one job), and
  the rank relation ``(src, dst, deg_src)``, built on its first use and
  kept: a second call on the same DataFrame starts at its first
  round.  A seed outside int32 on an int32 graph is no vertex, so it matches
  none; it does not widen the key.  :func:`weighted_pagerank`'s degree
  is a weight sum, so it builds its own degree table and relation.
* When every id and degree fits int32 the loop runs on int ids — half
  the key bytes — and casts the output id back.
* The rank relation is laid out by
  :func:`~graphdb_testing_spark.operators.util.round_layout` in
  ``iter_partitions(ne)`` tasks (~250k edge rows each): with a
  broadcast state it is hash-partitioned on ``src`` and persisted, so
  the ``groupBy(src)`` needs no exchange and a round is one narrow
  stage; above the threshold it is a coalesce, checkpointed once.
  Per-round cost on small graphs is task scheduling, not compute, and
  the same sizing formula yields thousands of tasks at 100 TB.
* The rounds run in the one chunk loop of every fixpoint kernel,
  :func:`~graphdb_testing_spark.operators.util.fixpoint`:
  ``util.CHUNK_ROUNDS`` rounds compose into one lazy plan materialized
  by a single eager ``localCheckpoint`` (truncates lineage).
* Without ``num_iter`` the L1 convergence delta is tested at the end
  of every chunk, cold or warm, against the chunk's starting vector
  (k-round delta ≥ the reference's 1-round delta, so stopping is
  conservative — never earlier than the reference's epsilon rule).
  The loop's per-chunk hook puts the chunk-start ``prd0`` beside each
  ``prd`` (:func:`_with_chunk_start`) and the delta is an observed sum
  in the chunk's checkpoint job — no separate aggregate job.  With
  ``num_iter`` there is no test: each chunk is only checkpointed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import (
    CHUNK_ROUNDS,
    INT32_MAX,
    INT32_MIN,
    fixpoint,
    map_single_task,
    np_edges,
    layout,
    observed_checkpoint,
    round_layout,
    single_task,
    state_hint,
    vertex_summary,
)


def _local_pagerank(
    e: DataFrame,
    damping: float,
    tol: float,
    max_iter: int,
    num_iter: int | None,
    init_ranks: DataFrame | None,
    seeds: list[int] | None,
    weighted: bool,
) -> DataFrame:
    """Single-Arrow-task PageRank over a bounded-size symmetric edge
    table: NumPy gather + ``add.reduceat`` segment sums per round —
    the same pre-divided-rank update and chunk-L1 convergence rule as
    the DataFrame loop (tested every ``util.CHUNK_ROUNDS`` rounds
    against the vector at the chunk start), evaluated in one task, for
    every variant (``seeds``: personalized reset; ``weighted``: ``e``
    carries ``wgt``).

    The edge table flows to the task through Spark (single-partition
    ``mapInPandas``); the driver never holds edge OR rank data.  Warm
    starts (``init_ranks``) send their ranks into the task
    as extra rows on the edge relation, tagged by ``rank_row``, not as
    a driver collect (round-10 ADVICE: an nv-row ``collect()`` drove up
    to 8 M Python rows through the driver, a §5 regression vs the
    DataFrame path which never does).  ``nv`` (count of distinct
    ``src`` in the symmetric table) and ``base = (1-d)/nv`` are
    computed in-task from the same quantities — bit-identical
    arithmetic, one fewer up-front degree job.
    """
    if init_ranks is not None:
        # warm ranks as tagged rows on the single task's input: rank
        # rows carry (id, id, true, pr).  dst is the row's own id so the
        # long column stays non-null (a nullable int64 would arrive in
        # pandas as float64 and corrupt ids past 2^53).
        inp = e.select(
            "src",
            "dst",
            F.lit(False).alias("rank_row"),
            F.lit(None).cast("double").alias("pr0"),
        ).unionAll(
            init_ranks.select(
                F.col("id").alias("src"),
                F.col("id").alias("dst"),
                F.lit(True).alias("rank_row"),
                F.col("pr").cast("double").alias("pr0"),
            )
        )
    else:
        inp = e
    has_init = init_ranks is not None
    total = num_iter if num_iter is not None else max_iter
    d = damping

    def run(batches):
        import numpy as np
        import pandas as pd

        ranks: list = []

        def edge_rows():
            for pdf in batches:
                if has_init:
                    ranks.append(pdf[pdf["rank_row"]])
                    pdf = pdf[~pdf["rank_row"]]
                yield pdf

        ids, si, di, *w = np_edges(
            edge_rows(), *([("wgt", "float64")] if weighted else [])
        )
        nv = ids.size
        # full (src, dst) sort: message-sum order must not depend on
        # the incoming partition/row order, or reruns drift in the
        # last float ulp (ids is sorted, so (si, di) order = (src, dst))
        order = np.lexsort((di, si))
        si, di = si[order], di[order]
        if weighted:
            w = w[0][order]
            deg = np.bincount(si, weights=w, minlength=nv)
        else:
            deg = np.bincount(si, minlength=nv).astype(np.float64)
        starts = np.searchsorted(si, np.arange(nv))
        if seeds is None:
            base = (1.0 - d) / nv
            pr0 = np.full(nv, 1.0 / nv)
        else:
            s = np.asarray(seeds, dtype=np.int64)
            sp = np.searchsorted(ids, s)
            ok = (sp < nv) & (ids[np.minimum(sp, nv - 1)] == s)
            in_seed = np.zeros(nv, dtype=bool)
            in_seed[sp[ok]] = True
            # max(.., 1): with no seed no vertex takes this share
            n = max(len(seeds), 1)
            base = np.where(in_seed, (1.0 - d) / n, 0.0)
            pr0 = np.where(in_seed, 1.0 / n, 0.0)
        if has_init:
            ip = np.concatenate([r["src"].to_numpy(np.int64) for r in ranks])
            pv = np.concatenate([r["pr0"].to_numpy(np.float64) for r in ranks])
            keep = np.isin(ip, ids)
            if np.isnan(pv[keep]).any():
                raise ValueError("init_ranks holds a NULL or NaN pr for a graph vertex")
            pr0[np.searchsorted(ids, ip[keep])] = pv[keep]
        prd = prd0 = pr0 / deg
        for i in range(1, total + 1):
            msg = prd[di] * w if weighted else prd[di]
            prd = (base + d * np.add.reduceat(msg, starts)) / deg
            if i % CHUNK_ROUNDS == 0:
                # the distributed side's stop test, at its chunk ends
                if num_iter is None and np.abs((prd - prd0) * deg).sum() <= tol:
                    break
                prd0 = prd
        yield pd.DataFrame({"id": ids, "pr": prd * deg})

    return map_single_task(inp, run, "id long, pr double")


def _pagerank(
    edges: DataFrame,
    family: str,
    damping: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
    num_iter: int | None = None,
    init_ranks: DataFrame | None = None,
    seeds: list[int] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """``(id, pr)`` of every variant (module docstring): the
    ``family`` guard picks :func:`_local_pagerank` or the distributed
    loop; ``seeds`` selects the personalized reset and ``weight_col``
    the edge weight."""
    weighted = weight_col is not None
    wgt = [F.col(weight_col).alias("wgt")] if weighted else []
    e = edges.select("src", "dst", *wgt)
    lay = layout(edges)
    ne = lay.ne
    local = single_task(family, ne)
    if ne == 0:
        return e.select(F.col("src").alias("id"), F.lit(0.0).alias("pr")).limit(0)
    if local:
        # guarded single-task fast path (round-10 optimization): at
        # sf0.1 each of the 100 convergence rounds costs ~0.2 s of
        # per-stage scheduling + AQE re-planning + a driver broadcast
        # round-trip to move a ~2.5 MB shuffle — the iteration is
        # latency-bound, not compute-bound.  A graph whose edge list
        # fits one task (≤ util.LOCAL_NE_MAX rows ≈ 128 MB) iterates with
        # NumPy segment sums inside one Arrow task instead: identical
        # update formula, identical convergence test
        # (parity-tested to 6 dp oracle rounding in
        # tests/test_pagerank_local.py).  The guard runs BEFORE the
        # degree job — the fast path derives nv/degrees in-task.  Past
        # the guard — every real cluster-scale graph — the chunked
        # DataFrame loop below runs.
        return _local_pagerank(
            e, damping, tol, max_iter, num_iter, init_ranks, seeds, weighted
        )
    id_type = edges.schema["src"].dataType.simpleString()
    if weighted:
        # the weight sum is not the layout's row count: the weighted
        # variant keeps its own degree job and relation
        deg, nv, narrow = vertex_summary(
            e.groupBy(F.col("src").alias("id")).agg(F.sum("wgt").cast("double").alias("degree")),
            "id",
        )
        key = "int" if narrow else id_type
    else:
        deg, nv, key = lay.degrees, lay.nv, lay.key
    if key == "int":
        # narrow-id loop (guide §2.3 "narrower types"): the loop's
        # (id, dst, deg_src) bytes halve; rank arithmetic is unchanged
        # and the output id is cast back.  A weighted degree stays double
        deg = deg.select(
            F.col("id").cast("int").alias("id"),
            F.col("degree").cast("double" if weighted else "int").alias("degree"),
        )
        e = e.select(*(F.col(c).cast("int").alias(c) for c in ("src", "dst")), *e.columns[2:])
        if init_ranks is not None:
            # warm ids outside int32 match no vertex of a narrow graph;
            # drop them before the cast, which would fail or wrap
            init_ranks = init_ranks.where(
                F.col("id").between(INT32_MIN, INT32_MAX)
            ).select(F.col("id").cast("int").alias("id"), "pr")
    if seeds is None:
        n = nv
        share = F.lit
    else:
        # a seed outside the ids' range is no vertex (and may not fit the key)
        in_seed = F.col("id").isin([F.lit(s).cast(key) for s in seeds if lay.covers(s)])
        # max(.., 1): with no seed no vertex takes this share
        n = max(len(seeds), 1)
        share = lambda x: F.when(in_seed, F.lit(x)).otherwise(F.lit(0.0))  # noqa: E731
    base = share((1.0 - damping) / n)

    # constant relation: edges (+ weight) + wdeg-of-source
    def ranks() -> DataFrame:
        return round_layout(
            e.join(state_hint(deg, nv).withColumnRenamed("id", "src"), "src").select(
                "src", "dst", *e.columns[2:], F.col("degree").alias("deg_src")
            ),
            ne,
            nv,
        )

    e2 = ranks() if weighted else lay.relation("ranks", nv, ranks)
    msg = F.col("prd") * F.col("wgt") if weighted else F.col("prd")

    # state: (id, prd, degree) with prd = pr / wdeg; degree rides
    # along (constant per vertex, re-emitted by each round's agg) so
    # neither the delta check nor the final pr projection needs a
    # degree join
    if init_ranks is not None:
        # a warm row of a graph vertex whose pr is NULL or NaN leaves a
        # NULL or NaN prd, counted in the checkpoint job itself
        warm = init_ranks.select("id", "pr", F.lit(True).alias("warm"))
        state, r = observed_checkpoint(
            deg.join(warm, "id", "left").select(
                "id",
                (
                    F.when(F.col("warm"), F.col("pr")).otherwise(F.lit(1.0 / nv))
                    / F.col("degree")
                ).alias("prd"),
                "degree",
            ),
            F.count(F.when(F.col("prd").isNull() | F.isnan("prd"), 1)).alias("bad"),
        )
        if r["bad"]:
            raise ValueError("init_ranks holds a NULL or NaN pr for a graph vertex")
    else:
        state = deg.select(
            "id", (share(1.0 / n) / F.col("degree")).alias("prd"), "degree"
        )

    def rnd(state: DataFrame) -> DataFrame:
        # broadcast the O(nv) state so the big edge side never moves;
        # the groupBy emits the next prd directly (deg_src is constant
        # per group, so first() is exact)
        return (
            e2.join(state_hint(state, nv), e2.dst == state.id)
            .select(F.col("src").alias("id"), msg.alias("m"), "deg_src")
            .groupBy("id")
            .agg(
                ((base + F.lit(damping) * F.sum("m")) / F.first("deg_src")).alias("prd"),
                F.first("deg_src").alias("degree"),
            )
        )

    if num_iter is not None:
        state = fixpoint(rnd, state, num_iter, stop=None)
    else:
        # L1 delta in pr space: |pr - pr0| = |prd - prd0| * wdeg,
        # summed in the job that checkpoints the chunk
        state = fixpoint(
            rnd,
            state,
            max_iter,
            _with_chunk_start,
            F.sum(F.abs(F.col("prd") - F.col("prd0")) * F.col("degree")),
            lambda delta: delta <= tol,
        )
    out = state.select(
        F.col("id").cast(id_type).alias("id"),
        (F.col("prd") * F.col("degree")).alias("pr"),
    )
    if weighted:
        e2.unpersist()
    return out


def _with_chunk_start(state: DataFrame, start: DataFrame) -> DataFrame:
    """``state`` with each vertex's chunk-start ``prd`` beside it as
    ``prd0`` (:func:`~graphdb_testing_spark.operators.util.fixpoint`'s
    per-chunk hook): a union and one max per id, not a join — Spark
    sizes a join as the product of its sides, and a chunk start derived
    from the previous one would square that estimate every chunk."""
    start = start.select("id", F.col("prd").alias("prd0"))
    return (
        state.unionByName(start, allowMissingColumns=True)
        .groupBy("id")
        .agg(*(F.max(c).alias(c) for c in ("prd", "degree", "prd0")))
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
    num_iter: int | None = None,
    init_ranks: DataFrame | None = None,
) -> DataFrame:
    """``(id, pr)`` PageRank over a symmetric edge table.

    ``num_iter`` forces an exact iteration count with no convergence
    test (used for the unrolled-SQL DuckDB oracle); otherwise the loop
    stops when the chunk L1 delta ≤ ``tol``, like the reference
    (``static_pagerank.c:295-298`` — whose ``iter`` is never
    decremented, so epsilon is the only real exit there too).

    ``init_ranks`` warm-starts the iteration from a previous ``(id,
    pr)`` result (vertices absent there start at ``1/nv``): the power
    iteration's fixpoint is unique, so the answer is identical — only
    the rounds-to-converge shrink, which is the incremental-update
    path the streaming workflow uses after small edge batches.  Cold
    and warm starts alike test the delta at the end of every
    ``util.CHUNK_ROUNDS``-round chunk.  A warm row of a graph vertex whose
    ``pr`` is NULL or NaN raises ``ValueError`` (NaN would reach every
    vertex within a few rounds).
    """
    return _pagerank(
        edges, "pagerank", damping, tol, max_iter, num_iter, init_ranks
    )


def personalized_pagerank(
    edges: DataFrame,
    sources: list[int],
    damping: float = 0.85,
    num_iter: int = 5,
) -> DataFrame:
    """``(id, pr)`` — personalized PageRank: the ``(1-d)`` reset mass
    returns to the ``sources`` set (uniformly) instead of to every
    vertex, ranking the graph *relative to* the seed set::

        pr'[v] = (1-d)·[v ∈ S]/|S| + d · Σ_{u ∈ N(v)} pr[u]/deg(u)

    The :func:`pagerank` kernel and loop with the seed-set reset and
    init = uniform on S, for a fixed ``num_iter`` rounds (oracle
    parity).  Unreachable vertices correctly converge to 0, and an
    empty ``sources`` ranks every vertex 0.
    """
    return _pagerank(
        edges,
        "personalized_pagerank",
        damping,
        num_iter=num_iter,
        seeds=list(map(int, sources)),
    )


def weighted_pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    num_iter: int = 5,
    weight_col: str = "wgt",
) -> DataFrame:
    """``(id, pr)`` — PageRank distributing each vertex's rank over
    its out-edges *proportionally to edge weight*::

        pr'[v] = (1-d)/nv + d · Σ_{u ∈ N(v)} pr[u] · w(u,v) / wdeg(u)

    where ``wdeg(u) = Σ_x w(u,x)``.  The canonical graphs carry
    weight = edge multiplicity (``rmatter.c:270-291``), so this is
    the reference semantics of the NetworkX/SciPy backends, which
    pass the weighted matrix to the library solver
    (``tests/networkx/test_scipy.py:69``; the unweighted kernels
    elsewhere are the degenerate w≡1 case).

    The :func:`pagerank` kernel and loop with ``weight_col`` as the
    edge weight (state ``prd = pr / wdeg``), for a fixed ``num_iter``
    rounds (unrolled-CTE oracle parity).
    """
    return _pagerank(
        edges, "weighted_pagerank", damping, num_iter=num_iter, weight_col=weight_col
    )
