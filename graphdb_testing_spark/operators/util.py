"""Shared operator helpers: the scale guard, the graph layout, and the
semiring round and chunk loop of every fixpoint kernel.

The graph layout
----------------
The distributed CC, BFS, path, PageRank and k-core kernels start from
the same set-up: the edge count (the guard's input), the vertex ids
with their count and the int32 test, and a constant relation laid out
for their rounds.
:func:`layout` builds it once per edge table and keeps it for as long
as the caller's DataFrame lives, so CC, BFS and PageRank over one
table pay it once between them (GraphX's "index reuse", OSDI 2014 §4):

* ``ne`` is counted when the layout is made; the single-task side of a
  guard needs nothing else.
* The ``(id, degree)`` table is one observed checkpoint: it gives the
  ids, ``nv``, and the id and degree bounds of the int32 key test in
  one job, on first use.
* The relations (CC's and BFS's self-loop relation, its weighted twin,
  PageRank's rank relation) are built on first use, one per variant
  and state regime, and persisted until the DataFrame dies.

The memo is keyed on the DataFrame object, never on its plan: a
rewritten edge store or a new streaming batch is a new object and
builds its own layout.
"""

from __future__ import annotations

import gc
import weakref
from contextlib import contextmanager
from functools import cached_property

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
    known-small, shuffled hash join otherwise (a checkpointed state
    keeps the size estimate of the plan it came from — for a join, the
    product of its sides — so AQE cannot make this call on its own)."""
    if nv is None:
        return df  # size unknown and stats available — AQE decides
    if broadcasts(nv):
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def broadcasts(nv: int) -> bool:
    """True when an ``nv``-row vertex state is broadcast (the regime in
    which :func:`round_layout` makes a round one stage)."""
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


def counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``localCheckpoint`` ``df`` and count its rows in the same job."""
    df, r = observed_checkpoint(df, F.count(F.lit(1)).alias("n"))
    return df, int(r["n"])


def fresh_checkpoint(df: DataFrame) -> DataFrame:
    """``localCheckpoint`` ``df`` and rebuild it from its RDD, so it
    keeps no size estimate.  A checkpoint keeps its plan's estimate, and
    Spark sizes a join as the product of its sides: a loop that joins a
    table with tables derived from it (CC's pointer jump, the community
    levels) compounds the estimate every pass until planning multiplies
    numbers thousands of bits long (ten community levels on an
    80-vertex graph: 658 s with the kept estimates, 12.5 s without,
    4-vCPU VM).  The rebuilt table scans the checkpoint's own rows (a
    ``LogicalRDD`` has the checkpointed RDD of internal rows), with no
    conversion to and from ``Row`` objects: that conversion's code
    generation made a first CC call in a fresh process 2 s slower."""
    jdf = df.localCheckpoint()._jdf
    rows = jdf.queryExecution().analyzed().rdd()
    fresh = jdf.sparkSession().internalCreateDataFrame(rows, jdf.schema(), False)
    return DataFrame(fresh, df.sparkSession)


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


def iter_partitions(ne: int) -> int:
    """Partition count for an ``ne``-row edge relation in an
    iterative kernel: one task per ~250k edge rows, at most 2048."""
    return max(1, min(2048, (ne + EDGE_ROWS_PER_PARTITION - 1) // EDGE_ROWS_PER_PARTITION))


def round_layout(rel: DataFrame, ne: int, nv: int) -> DataFrame:
    """Lay out the constant relation of an iterative kernel whose round
    is ``rel ⋈ state ON rel.dst = state.id → groupBy(src)``.

    With a broadcast state (``nv ≤ BROADCAST_STATE_MAX_ROWS``) the
    relation is hash-partitioned on ``src`` and ``persist()``-ed once
    (a localCheckpoint's LogicalRDD drops the partitioning, a cache
    keeps it), so the ``groupBy(src)`` needs no Exchange: a round is
    one narrow stage plus the state broadcast, one Spark job.  Above
    the threshold the state shuffles anyway and the relation is
    coalesced to ~250k rows per task and checkpointed.  Its owner
    ``unpersist()``s the result (:class:`Layout`, for its relations)."""
    n = iter_partitions(ne)
    if not broadcasts(nv):
        # materialized once: a lazy relation over a derived edge table
        # (e.g. ``datasets.user_graph``) would re-derive it in every
        # chunk job of the loop
        return rel.coalesce(n).localCheckpoint()
    # ≥ 2 partitions: a one-partition repartition plans as
    # SinglePartition, which a cached scan reports as Unknown
    rel = rel.repartition(max(2, n), "src").persist()
    # eager: a cache not yet built reports Unknown partitioning to the
    # rounds planned on top of it, which would put the exchange back
    rel.write.format("noop").mode("overwrite").save()
    return rel


def self_loop_relation(
    edges: DataFrame, ids: DataFrame, key: str, ne: int, nv: int
) -> DataFrame:
    """The constant relation of the semiring fixpoint loops: ``edges``
    as ``(src, dst[, wgt])`` with ``src`` the receiving and ``dst`` the
    sending vertex, plus one self-loop per vertex of ``ids`` (column
    ``id``), keyed by ``key`` and laid out by :func:`round_layout` for
    an ``nv``-row state.  A weighted relation's self-loops carry a NULL
    ``wgt``, which tells them apart from a real ``(u, u)`` edge."""
    loops = ids.select(F.col("id").cast(key).alias("src"))
    cols = [F.col("src").cast(key).alias("src"), F.col("dst").cast(key).alias("dst")]
    loop_cols = ["src", F.col("src").alias("dst")]
    if "wgt" in edges.columns:
        cols.append("wgt")
        loop_cols.append(F.lit(None).cast(edges.schema["wgt"].dataType).alias("wgt"))
    rel = edges.select(*cols).unionAll(loops.select(*loop_cols))
    return round_layout(rel, ne, nv)


class Layout:
    """The set-up of the distributed graph kernels over one edge table
    (module docstring).  The table must be closed — every ``dst`` is
    also a ``src``, as in a symmetric table — so the distinct ``src``
    are all the vertices."""

    def __init__(self, edges: DataFrame):
        self.ne = edges.count()
        # a projection, not the caller's object: the memo must not keep
        # its own key alive
        self._edges = edges.select("*")
        self._relations: dict[tuple, DataFrame] = {}

    @cached_property
    def _summary(self) -> tuple[DataFrame, dict]:
        return observed_checkpoint(
            self._edges.groupBy(F.col("src").alias("id")).agg(
                F.count(F.lit(1)).alias("degree")
            ),
            F.count(F.lit(1)).alias("nv"),
            F.min("id").alias("lo"),
            F.max("id").alias("hi"),
            F.max("degree").alias("top"),
        )

    @property
    def degrees(self) -> DataFrame:
        """The checkpointed ``(id, degree)`` table, ids as in the edges
        and ``degree`` the row count per ``src``."""
        return self._summary[0]

    @property
    def nv(self) -> int:
        return int(self._summary[1]["nv"])

    def covers(self, v: int) -> bool:
        """True when ``v`` lies in the ids' range (a vertex outside it
        has no edge)."""
        r = self._summary[1]
        return self.nv > 0 and int(r["lo"]) <= v <= int(r["hi"])

    @cached_property
    def key(self) -> str:
        """The id type of the kernels' loops: ``int`` when every id and
        degree fits int32 (half the key bytes; callers cast their
        output back), else the ids' own type."""
        id_type = self.degrees.schema["id"].dataType.simpleString()
        r = self._summary[1]
        fits = id_type in ("bigint", "int") and self.nv > 0 and all(
            INT32_MIN <= int(r[c]) <= INT32_MAX for c in ("lo", "hi", "top")
        )
        return "int" if fits else id_type

    def relation(self, variant, ns: int, build) -> DataFrame:
        """The ``variant`` relation for an ``ns``-row state: ``build()``
        on first use in each state regime (:func:`round_layout` lays a
        relation out differently on either side of
        :data:`BROADCAST_STATE_MAX_ROWS`), then the same DataFrame."""
        k = (variant, broadcasts(ns))
        if k not in self._relations:
            self._relations[k] = build()
        return self._relations[k]

    def loops(self, ns: int, weighted: bool = False) -> DataFrame:
        """The :func:`self_loop_relation` of the edges in edge direction
        (``dst`` receives from ``src``), with ``wgt`` when ``weighted``,
        for an ``ns``-row state: CC's and the path kernels' rounds."""
        e = self._edges

        def build():
            rel_edges = e.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                *(["wgt"] if weighted else []),
            )
            return self_loop_relation(rel_edges, self.degrees, self.key, self.ne, ns)

        return self.relation(("loops", weighted), ns, build)

    def release(self) -> None:
        """Unpersist the relations (the DataFrame died)."""
        _release(self._relations.values())
        self._relations = {}


#: Layouts by the caller's edge DataFrame, by identity.
_LAYOUTS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

#: Relations of dead layouts not yet unpersisted.
_DEAD: list[DataFrame] = []
_collecting = False


def _gc_phase(phase: str, _info) -> None:
    global _collecting
    _collecting = phase == "start"


gc.callbacks.append(_gc_phase)


def _release(frames) -> None:
    """Unpersist ``frames``, unless a cyclic GC pass is running: its
    finalizers may interrupt a py4j call on this thread (py4j defers
    its own finalizer calls for the same reason), so they wait for the
    next :func:`layout` call."""
    _DEAD.extend(frames)
    if not _collecting:
        while _DEAD:
            _DEAD.pop().unpersist()


def layout(edges: DataFrame) -> Layout:
    """The :class:`Layout` of ``edges``: built on the first call for
    this DataFrame object, then the same one; what it persisted is
    unpersisted once the DataFrame is garbage."""
    _release(())
    lay = _LAYOUTS.get(edges)
    if lay is None:
        lay = _LAYOUTS[edges] = Layout(edges)
        weakref.finalize(edges, lay.release).atexit = False
    return lay


def semiring_round(
    rel: DataFrame,
    state: DataFrame,
    nv: int,
    col: str,
    times,
    plus: str = "min",
    keys: tuple[str, ...] = ("id",),
) -> DataFrame:
    """One semi-naive semiring round over ``state (*keys, col, active)``:
    of :func:`self_loop_relation` keep the self-loop rows and rows from
    active senders (``dst``), then per ``src`` (and the other ``keys``,
    e.g. ``root``) take ``plus`` (``"min"`` or ``"max"``) of the own
    value and ``times(sender value)`` (``+ step``, ``+ wgt`` or
    ``least(·, wgt)``), active when it improved (or first appeared).
    The own value rides in on the self-loop row — the semiring's
    identity — so the state is referenced ONCE per round and an
    unrolled chunk's plan grows linearly.  Sending only from changed
    vertices (Pregelix, VLDB 2014; GraphX, OSDI 2014) gives the same
    values after every round for a selective, idempotent ``plus``: a
    value that did not change was already sent."""
    loop = F.col("wgt").isNull() if "wgt" in rel.columns else F.col("src") == F.col("dst")
    agg = getattr(F, plus)
    val = F.col(col)
    by = [k for k in keys if k != "id"]
    out = (
        rel.join(state_hint(state, nv), rel.dst == state.id)
        .where(loop | F.col("active"))
        .groupBy(*by, "src")
        .agg(
            agg(F.when(loop, val).otherwise(times(val))).alias(col),
            agg(F.when(loop, val)).alias("own"),
        )
    )
    better = F.col(col) < F.col("own") if plus == "min" else F.col(col) > F.col("own")
    return out.select(
        *by, F.col("src").alias("id"), col, (F.col("own").isNull() | better).alias("active")
    )


#: Rounds per ``localCheckpoint`` chunk of every fixpoint loop: the
#: unrolled chunk is one lazy plan (linear in its length, see
#: :func:`semiring_round`), and the stop test reads the chunk's
#: checkpoint job, so a short chunk pays more checkpoints and a long
#: one overshoots a fixpoint by more rounds.
CHUNK_ROUNDS = 4


def fixpoint(
    round_fn,
    state: DataFrame,
    max_rounds: int,
    after_chunk=None,
    metric=None,
    stop=lambda n: n == 0,
) -> DataFrame:
    """Run ``round_fn`` on ``state`` for at most ``max_rounds`` rounds,
    in chunks of :data:`CHUNK_ROUNDS`: unroll a chunk, apply
    ``after_chunk(state, chunk_start)`` (CC's pointer jump; PageRank
    pairs each rank with its chunk-start rank), checkpoint it while
    observing the aggregate ``metric`` over its rows in the same job,
    drop the chunk's input, and stop once ``stop(value)`` holds.  The
    default test is "no row active" (the count of ``active`` rows is
    0: a fixpoint, the rest of the rounds would change nothing);
    ``stop=None`` runs all ``max_rounds`` rounds and only checkpoints."""
    if metric is None:
        metric = F.count(F.when(F.col("active"), 1))
    done = 0
    while done < max_rounds:
        k = min(CHUNK_ROUNDS, max_rounds - done)
        chunk_start = state
        for _ in range(k):
            state = round_fn(state)
        if after_chunk is not None:
            state = after_chunk(state, chunk_start)
        if stop is None:
            state, finished = state.localCheckpoint(), False
        else:
            state, r = observed_checkpoint(state, metric.alias("m"))
            finished = stop(r["m"])
        chunk_start.unpersist()
        done += k
        if finished:
            break
    return state


#: Edge-row bound of every single-task graph kernel (~16 B/row ⇒
#: ≤128 MB in one task); past it the kernel's distributed DataFrame
#: loop runs.  Compared only in :func:`single_task`.
LOCAL_NE_MAX = 8_000_000

#: Bound on the |roots| × |E| state rows of the multi-root single-task
#: kernels (multi-source BFS, Brandes betweenness).
LOCAL_STATE_MAX = 64_000_000


#: The record lists of the open :func:`recording` blocks.
_RECORDINGS: list[list[tuple]] = []


@contextmanager
def recording():
    """Collect the guard decision of every kernel call made inside the
    block: yields a list that each guard appends ``(family, size,
    fired)`` to — ``size`` the edge rows the guard was given (vertices
    for the ``dense`` family; None when the caller skipped its count),
    ``fired`` True when the single-task path ran.
    Observability only: no query path reads it, and outside a block
    nothing is kept, so a long-lived process accumulates nothing."""
    records: list[tuple] = []
    _RECORDINGS.append(records)
    try:
        yield records
    finally:
        _RECORDINGS.remove(records)


def record_fast_path(family: str, size: int | None, fired: bool) -> None:
    """Record which side of a scale guard a kernel call took, in every
    open :func:`recording` block."""
    for records in _RECORDINGS:
        records.append((family, size, fired))


def single_task(
    family: str, ne: int | None, eligible: bool = True, state_rows: int = 0
) -> bool:
    """The scale guard of every single-task graph kernel: True when the
    caller's own condition ``eligible`` holds, its ``ne``-row edge table
    fits one task and its per-root state (``state_rows``, multi-root
    kernels) fits :data:`LOCAL_STATE_MAX`.  Records the decision
    (:func:`record_fast_path`) under ``family``.  The bounds are read
    at call time, so patching this module's constants moves every
    guard at once.  ``ne`` may be None when ``eligible`` is False (the
    caller skips its count job)."""
    fired = eligible and ne <= LOCAL_NE_MAX and state_rows <= LOCAL_STATE_MAX
    record_fast_path(family, ne, fired)
    return fired


def map_single_task(e: DataFrame, fn, schema: str) -> DataFrame:
    """Run the pandas-iterator kernel ``fn`` over ALL of the
    guard-bounded relation ``e`` in one task (``mapInPandas`` over
    ``coalesce(1)``); the driver never holds edge data.

    ``e`` is first materialized with FULL parallelism.  Without this,
    ``coalesce(1)`` pulls the whole upstream derivation (e.g. the
    events self-join + aggregation behind ``user_graph``) onto one
    core: post-shuffle coalesce sets the reduce side of every upstream
    exchange to one task (measured: two_shortest 13.2 s with the
    derivation inside the kernel job vs ~3 s checkpointed).  The eager
    localCheckpoint runs the derivation wide once; the kernel task then
    reads materialized blocks."""
    return e.localCheckpoint().coalesce(1).mapInPandas(fn, schema)


def np_edges(
    batches, *cols: tuple[str, str], directed: bool = False, sources: tuple[int, ...] = ()
) -> tuple:
    """Concatenate the pandas batches of an edge table into NumPy
    ``(ids, si, di, *extra)``: ``ids`` the sorted vertex ids, ``si`` /
    ``di`` the positions of each row's ``src`` / ``dst`` in ``ids``
    (row order kept), and one array per ``(name, dtype)`` of ``cols``.

    The single-task kernels require a SYMMETRIC table, whose ``src``
    covers every vertex, so ``ids`` is the distinct ``src``.  A ``dst``
    outside it would make ``searchsorted`` scatter updates to the wrong
    vertex (or past the end), so it raises instead.  ``directed``
    tables take ``ids`` from ``src ∪ dst`` with no check.  ``sources``
    (e.g. a BFS source without edges) join ``ids`` after the check."""
    import numpy as np

    names = ["src", "dst", *(c for c, _ in cols)]
    types = [np.int64, np.int64, *(np.dtype(t) for _, t in cols)]
    parts: list[list] = [[] for _ in names]
    for pdf in batches:
        for part, c, t in zip(parts, names, types):
            part.append(pdf[c].to_numpy(dtype=t))
    src, dst, *extra = (
        np.concatenate(part) if part else np.empty(0, t)
        for part, t in zip(parts, types)
    )
    ids = np.unique(np.concatenate([src, dst]) if directed else src)
    di = np.searchsorted(ids, dst)
    if not directed and dst.size and not (
        (di < ids.size).all() and (ids[np.minimum(di, ids.size - 1)] == dst).all()
    ):
        raise ValueError(
            "edge table is not symmetric: a dst vertex never appears as "
            "src — single-task graph kernels require the symmetrized relation"
        )
    new = np.setdiff1d(np.asarray(sources, dtype=np.int64), ids)
    if new.size:
        ids = np.union1d(ids, new)
        di = np.searchsorted(ids, dst)
    return (ids, np.searchsorted(ids, src), di, *extra)


def np_fixpoint(recv, send, x, times, plus, max_rounds, active=None, after_round=None):
    """The NumPy twin of :func:`semiring_round` + :func:`fixpoint`:
    rounds of ``x[recv] = plus(x[recv], times(x[send], e))`` over the
    edge rows ``e`` whose sender is active, every round reading the
    round-start ``x``, for at most ``max_rounds`` rounds or to the
    fixpoint (a round that changes nothing).  ``plus`` is
    ``np.minimum`` or ``np.maximum``; ``times(values, e)`` gets the
    senders' values and the edge rows (an index array, or a full
    slice while every vertex is active), so it can index an edge
    weight.  ``active`` marks the first round's senders (None: all),
    later rounds send from the vertices the previous round changed —
    semi-naive, exact for a selective, idempotent ``plus``.
    ``after_round`` maps each round's result (e.g. CC's pointer jump)
    before the change test.  Returns the final ``x``."""
    import numpy as np

    for _ in range(max_rounds):
        e = slice(None) if active is None else np.flatnonzero(active[send])
        new = x.copy()
        plus.at(new, recv[e], times(x[send[e]], e))
        if after_round is not None:
            new = after_round(new)
        active = new != x
        x = new
        if not active.any():
            break
        if active.all():
            active = None
    return x
