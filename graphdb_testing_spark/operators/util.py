"""Shared operator helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

#: Vertex-state DataFrames at or below this row count are broadcast in
#: iterative kernels; above it they get a shuffle-hash join hint.
#: Measured crossover (local[32]): at nv=21k chained broadcast rounds
#: run 100 PageRank iters in 19.8s vs 23.5s shuffled; at nv=952k the
#: order flips hard (2.12s vs 1.37s per round) because every chained
#: BroadcastExchange serializes through a driver round-trip while
#: shuffle rounds pipeline.  The shuffle hint also matters: without it
#: Catalyst picks sort-merge joins and re-sorts the edge relation
#: every round.  At 100 TB (billions of vertices) the shuffle path is
#: the only one that exists — broadcast is the small-graph fast path.
BROADCAST_STATE_MAX_ROWS = 100_000


def state_hint(df: DataFrame, nv: int | None) -> DataFrame:
    """Join-strategy hint for a vertex-state DataFrame: broadcast when
    known-small, shuffled hash join otherwise (checkpointed state has
    no Catalyst stats, so AQE cannot make this call on its own)."""
    if nv is None:
        return df  # size unknown and stats available — AQE decides
    if broadcasts(nv):
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def broadcasts(nv: int) -> bool:
    """True when an ``nv``-row vertex state is broadcast (the regime in
    which the semi-naive one-stage rounds of CC and BFS run)."""
    return nv <= BROADCAST_STATE_MAX_ROWS


#: int32 value range — the narrow-id loop optimization (guide §2.3
#: "narrower types") applies only when every vertex id provably fits
INT32_MIN = -(2**31)
INT32_MAX = 2**31 - 1


def observed_checkpoint(df: DataFrame, *metrics) -> tuple[DataFrame, dict]:
    """``localCheckpoint`` ``df`` and read aggregate ``metrics`` over its
    rows from the same Spark job (observed metrics, not a second
    aggregate job — in a latency-bound loop every job counts)."""
    obs = Observation()
    df = df.observe(obs, *metrics).localCheckpoint()
    return df, obs.get


def vertex_summary(
    df: DataFrame, *cols: str, also: tuple[int, ...] = ()
) -> tuple[DataFrame, int, bool]:
    """Checkpoint a vertex relation ``df`` (column ``id``) and return it
    with ``nv`` (its row count) and ``narrow``: its ids are long but
    every value of ``cols`` (and of ``also``) fits int32 — the safe
    precondition for running an integer kernel's loop on int ids (half
    the key bytes); callers cast the output back."""
    df, r = observed_checkpoint(
        df,
        F.count(F.lit(1)).alias("nv"),
        *[F.min(c).alias(f"lo_{c}") for c in cols],
        *[F.max(c).alias(f"hi_{c}") for c in cols],
    )
    nv = int(r.pop("nv"))
    narrow = (
        nv > 0
        and df.schema["id"].dataType.simpleString() == "bigint"
        and all(INT32_MIN <= int(v) <= INT32_MAX for v in (*r.values(), *also))
    )
    return df, nv, narrow


#: Target edge rows per task for iterative kernels.  Iteration cost on
#: small inputs is dominated by per-stage task scheduling, so the edge
#: relation is coalesced to ``ceil(ne / EDGE_ROWS_PER_PARTITION)``
#: partitions (bounded below by 1) instead of inheriting the session's
#: shuffle parallelism; on a 100 TB table the same formula yields
#: thousands of partitions, i.e. it *is* the scale path, not a local
#: tweak.
EDGE_ROWS_PER_PARTITION = 250_000


def iter_partitions(ne: int, cap: int = 2048) -> int:
    """Partition count for an ``ne``-row edge relation in an
    iterative kernel: one task per ~250k edge rows."""
    return max(1, min(cap, (ne + EDGE_ROWS_PER_PARTITION - 1) // EDGE_ROWS_PER_PARTITION))


def round_layout(
    rel: DataFrame, ne: int, nv: int, dst_partitioned: bool = False
) -> DataFrame:
    """Lay out the constant relation of an iterative kernel whose round
    is ``rel ⋈ state ON rel.dst = state.id → groupBy(src)``.

    With a broadcast state (``nv ≤ BROADCAST_STATE_MAX_ROWS``) the
    relation is hash-partitioned on ``src`` and ``persist()``-ed once
    (a localCheckpoint's LogicalRDD drops the partitioning, a cache
    keeps it), so the ``groupBy(src)`` needs no Exchange: a round is
    one narrow stage plus the state broadcast, one Spark job.  Above
    the threshold the state shuffles anyway and the relation stays a
    lazy ``coalesce`` to ~250k rows per task.  ``dst_partitioned`` is
    the bucketed-layout A/B variant (hash on the join key instead).
    Callers ``unpersist()`` the result."""
    n = iter_partitions(ne)
    if dst_partitioned:
        rel = rel.repartition(n, "dst").persist()
    elif broadcasts(nv):
        # ≥ 2 partitions: a one-partition repartition plans as
        # SinglePartition, which a cached scan reports as Unknown
        rel = rel.repartition(max(2, n), "src").persist()
    else:
        # lazy: rounds re-read the materialized inputs through a narrow
        # union instead of paying an up-front second edge copy (measured
        # 52.8 s -> 36.9 s for CC on a 16M-edge graph)
        return rel.coalesce(n)
    # eager: a cache not yet built reports Unknown partitioning to the
    # rounds planned on top of it, which would put the exchange back
    rel.write.format("noop").mode("overwrite").save()
    return rel


def vertex_ids(edges: DataFrame, source: int | None = None) -> tuple[DataFrame, int, str]:
    """``(ids, nv, key_type)`` of a symmetric edge table: ``ids`` is its
    checkpointed distinct ``src`` as ``id`` (a symmetric table's src
    covers every vertex), and the checkpoint job itself also gives
    ``nv`` and the int32 check (``source`` included): ``key_type`` is
    ``int`` when the loop can run on narrow ids."""
    ids, nv, narrow = vertex_summary(
        edges.select(F.col("src").alias("id")).distinct(),
        "id",
        also=() if source is None else (source,),
    )
    return ids, nv, "int" if narrow else ids.schema["id"].dataType.simpleString()


def self_loop_relation(
    edges: DataFrame,
    ids: DataFrame,
    key: str,
    ne: int,
    nv: int,
    source: int | None = None,
    dst_partitioned: bool = False,
) -> DataFrame:
    """The constant relation of the min-fixpoint loops (CC, BFS): the
    edges plus one self-loop per vertex of ``ids`` and one for
    ``source`` (so a source without edges keeps its row), keyed by
    ``key`` (see :func:`vertex_ids`) and laid out by
    :func:`round_layout`."""
    loops = ids.select(F.col("id").cast(key).alias("src"))
    if source is not None:
        loops = loops.unionAll(
            ids.sparkSession.range(1).select(F.lit(source).cast(key).alias("src"))
        )
    rel = edges.select(
        F.col("src").cast(key).alias("src"), F.col("dst").cast(key).alias("dst")
    ).unionAll(loops.select("src", F.col("src").alias("dst")))
    return round_layout(rel, ne, nv, dst_partitioned)


def min_round(rel: DataFrame, state: DataFrame, nv: int, col: str, step: int) -> DataFrame:
    """One semi-naive min-propagation round over ``state (id, col,
    active)``: of :func:`self_loop_relation` keep the self-loop rows and
    rows from active senders (``dst``), then per ``src`` take ``min(own,
    sender + step)``, active when it dropped (or first appeared).  The
    own value rides in on the self-loop row, so the state is referenced
    ONCE per round and an unrolled chunk's plan grows linearly.  Sending
    only from changed vertices (Pregelix, VLDB 2014; GraphX, OSDI 2014)
    reaches the same integer fixpoint: each value a vertex held was sent
    the round after it was set, and values only decrease."""
    loop = F.col("src") == F.col("dst")
    val = F.col(col)
    return (
        rel.join(state_hint(state, nv), rel.dst == state.id)
        .where(loop | F.col("active"))
        .groupBy("src")
        .agg(
            F.min(F.when(loop, val).otherwise(val + step)).alias(col),
            F.min(F.when(loop, val)).alias("own"),
        )
        .select(
            F.col("src").alias("id"),
            col,
            (F.col("own").isNull() | (F.col(col) < F.col("own"))).alias("active"),
        )
    )


def checkpoint_active(state: DataFrame) -> tuple[DataFrame, int]:
    """``localCheckpoint`` a loop state carrying an ``active`` flag and
    count its active rows in the same job."""
    state, r = observed_checkpoint(
        state, F.count(F.when(F.col("active"), 1)).alias("n")
    )
    return state, int(r["n"])


#: Last guard decision per kernel family — observability ONLY.  The
#: bench harness emits these in its JSON ``meta`` so the driver's
#: CPU-scaling probe can tell "serial because a single-task fast-path
#: guard fired (by design at this SF)" from "serial because broken"
#: (round-10 verdict task 2: ``suspect_cpus_ignored`` fired on a bench
#: where every heavy kernel was legitimately below-guard).  Never read
#: by any query path; carries no data, only the branch taken.
FAST_PATH_DECISIONS: dict[str, bool] = {}


def record_fast_path(family: str, fired: bool) -> None:
    """Record which side of a scale guard a kernel invocation took."""
    FAST_PATH_DECISIONS[family] = fired


def local_input(e: DataFrame) -> DataFrame:
    """Materialize a guard-bounded relation with FULL parallelism
    before a single-task kernel collapses it with ``coalesce(1)``.

    Without this, ``coalesce(1)`` pulls the whole upstream derivation
    (e.g. the events self-join + aggregation behind ``user_graph``)
    onto one core: post-shuffle coalesce sets the reduce side of every
    upstream exchange to one task (measured: two_shortest 13.2 s with
    the derivation inside the kernel job vs ~3 s checkpointed).  The
    eager localCheckpoint runs the derivation wide once; the kernel
    task then reads materialized blocks."""
    return e.localCheckpoint()
