"""Micro-batch workflow: the STINGER stream/algorithm loop on Spark.

Reference (``include/core/stinger-workflow.h:15-28,87-126``): streams
``init`` → algorithms ``init`` → repeat { generate batch →
``before_batch`` hooks → apply actions → ``after_batch`` hooks }.
The binary stream replays an actions file in ``batch_size`` chunks,
stamping ``time = batch`` (``src/stream/binary_stream.c:54-85``).

Spark mapping: a batch is a seq-range slice of the actions DataFrame;
the merge is :func:`operators.updates.apply_actions` (one shuffle);
algorithm hooks receive DataFrames.  The same loop body serves as a
Structured Streaming ``foreachBatch`` callback
(:func:`run_structured_stream`) — batch replay and live streaming
share one code path, which is the point of the design.

Incremental algorithms (A4 triangles / A7 components): Spark state is
immutable DataFrames, so the honest mapping is recompute-per-batch
(SURVEY.md §2.5 A7 note); ``IncrementalComponents`` re-solves only
what a batch can change.  A batch of inserts that all carry a positive
weight can only merge components: the CC kernel runs on the batch's
O(|batch|) representative label pairs (:func:`_merge_components`).
Any other batch (a delete, or an insert of weight ≤ 0, which lowers or
removes an edge) re-solves the components of its endpoints.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..operators.triangles import clustering_coefficients
from ..operators.updates import apply_actions
from ..sources.sinks import NamedResultStore


class BatchAlg:
    """Algorithm plug-in: the ``stinger_alg_t`` analog
    (``stinger-workflow.h:87-126``)."""

    name = "alg"

    def init(self, edges: DataFrame, store: NamedResultStore) -> None:  # noqa: B027
        pass

    def before_batch(self, edges: DataFrame, batch: DataFrame, store: NamedResultStore) -> None:  # noqa: B027
        pass

    def after_batch(self, edges: DataFrame, batch: DataFrame, store: NamedResultStore) -> None:  # noqa: B027
        pass


class IncrementalComponents(BatchAlg):
    """A7: streaming connected components.

    A batch whose actions are all inserts of weight > 0 only adds
    edges, so it can only merge components: new endpoints enter as
    ``id → id`` and :func:`_merge_components` runs the CC kernel on
    the batch's representative label pairs.  Every other batch — any
    delete, or any insert of weight ≤ 0, which ``apply_actions`` may
    turn into a lowered or dropped edge — takes the component-local
    repair path (:meth:`_repair_after_deletes`): only the components
    containing batch endpoints are re-solved, the Spark analog of the
    reference's spanning-forest repair
    (``src/alg/streaming_components.c:119-190``).
    """

    name = "components"

    def __init__(self) -> None:
        self.labels: DataFrame | None = None

    def init(self, edges: DataFrame, store: NamedResultStore) -> None:
        self.labels = connected_components(edges)
        store.publish(self.name, self.labels)

    def _repair_after_deletes(self, edges: DataFrame, batch: DataFrame) -> DataFrame:
        """Component-local repair for batches that may remove edges.

        Reference (``tests/stinger/src/alg/streaming_components.c:119-190``)
        repairs only the component that lost an edge; everything else
        keeps its label.  Spark mapping: removing an edge (a delete, or
        an insert whose weight brings it to ≤ 0) can only *split* the
        components containing it, and adding one can only *merge*
        components containing batch endpoints — so every label
        that can change belongs to a batch endpoint's old component.
        We therefore (1) collect the O(|batch|) set of affected old
        labels, (2) broadcast-semi-join the edge table down to edges
        whose endpoints lie in those components, (3) re-run the CC
        kernel on that (usually tiny) subgraph, and (4) stitch:
        unaffected rows of the old label table pass through untouched.

        Scale shape: the full edge table is read ONCE through a
        broadcast semi-join filter (no shuffle of the big side); the
        multi-round CC fixpoint runs only over the affected subgraph.
        Labels are globally min-vertex-id, and affected components are
        wholly contained in the subgraph, so re-computed labels are
        exactly what a full recompute would assign — parity-tested in
        ``tests/test_streaming.py``.
        """
        from ..operators.updates import decode_actions

        decoded = decode_actions(batch).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        endpoints = (
            decoded.select(F.col("u").alias("id"))
            .unionAll(decoded.select(F.col("v").alias("id")))
            .distinct()
        )
        labels = self.labels
        assert labels is not None
        # affected old labels: endpoints' components, plus brand-new
        # vertices (not in the label table — their "old label" is
        # themselves).  O(|batch|) rows — broadcastable by construction.
        affected = (
            labels.join(endpoints, "id", "left_semi")
            .select("label")
            .unionAll(
                endpoints.join(labels, "id", "left_anti").select(
                    F.col("id").alias("label")
                )
            )
            .distinct()
            .localCheckpoint()
        )
        # vertex ids inside affected components (old view) + new ids
        affected_ids = (
            labels.join(F.broadcast(affected), "label", "left_semi")
            .select("id")
            .unionAll(endpoints.join(labels, "id", "left_anti"))
            .distinct()
            .localCheckpoint()
        )
        sub_edges = edges.join(
            affected_ids.withColumnRenamed("id", "src"), "src", "left_semi"
        ).localCheckpoint()
        keep = labels.join(F.broadcast(affected), "label", "left_anti")
        if sub_edges.limit(1).count() == 0:
            return keep.localCheckpoint()
        sub_labels = connected_components(sub_edges)
        return keep.unionByName(sub_labels).localCheckpoint()

    def after_batch(self, edges: DataFrame, batch: DataFrame, store: NamedResultStore) -> None:
        # only an insert of positive weight is sure to leave an edge
        # behind; anything else (a delete, an insert of weight <= 0
        # that lowers or removes an edge) can split a component
        repair = ~F.coalesce((F.col("src") >= 0) & (F.col("weight") > 0), F.lit(False))
        if self.labels is None:
            self.labels = connected_components(edges)
        elif batch.filter(repair).limit(1).count() > 0:
            self.labels = self._repair_after_deletes(edges, batch)
        else:
            pairs = batch.select(F.col("src").alias("u"), F.col("dst").alias("v")).filter(
                F.col("u") != F.col("v")
            )
            new_ids = (
                pairs.select(F.col("u").alias("id"))
                .unionAll(pairs.select(F.col("v").alias("id")))
                .distinct()
                .join(self.labels, "id", "left_anti")
            )
            labels = self.labels.unionByName(
                new_ids.withColumn("label", F.col("id"))
            ).localCheckpoint()
            self.labels = _merge_components(labels, pairs).localCheckpoint()
        store.publish(self.name, self.labels)


def _merge_components(labels: DataFrame, pairs: DataFrame) -> DataFrame:
    """``labels (id, label)`` after inserting the edges ``pairs (u, v)``,
    whose endpoints must all be in ``labels``.  Inserts can only merge
    components: each pair collapses to its representative label pair
    ``(lu, lv)``, the CC kernel runs on that O(|pairs|)-row label
    graph, and the table is relabelled through its result in one
    broadcast join.  Labels stay the component's min vertex id."""
    lu = labels.select(F.col("id").alias("u"), F.col("label").alias("lu"))
    lv = labels.select(F.col("id").alias("v"), F.col("label").alias("lv"))
    # checkpointed: the kernel reads its input twice (count, then rounds)
    rep = (
        pairs.join(lu, "u")
        .join(lv, "v")
        .filter(F.col("lu") != F.col("lv"))
        .select(F.col("lu").alias("src"), F.col("lv").alias("dst"))
        .localCheckpoint()
    )
    merged = connected_components(
        rep.unionAll(rep.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ).select(F.col("id").alias("label"), F.col("label").alias("merged"))
    return labels.join(F.broadcast(merged), "label", "left").select(
        "id", F.coalesce("merged", "label").alias("label")
    )


class IncrementalPageRank(BatchAlg):
    """A-series extension: per-batch PageRank maintenance by warm
    start.  After each edge batch the iteration restarts from the
    previous ranks (`pagerank(init_ranks=...)`); the power iteration's
    fixpoint is unique, so values equal a cold recompute — small
    batches just re-converge in a few rounds instead of dozens, which
    is the honest DataFrame analog of the reference's incremental
    rank-nudging streaming algorithms."""

    name = "pagerank"

    def __init__(self, tol: float = 1e-8) -> None:
        self.tol = tol
        self.pr: DataFrame | None = None

    def init(self, edges: DataFrame, store: NamedResultStore) -> None:
        from ..operators.pagerank import pagerank

        self.pr = pagerank(edges, tol=self.tol).localCheckpoint()
        store.publish(self.name, self.pr)

    def after_batch(self, edges: DataFrame, batch: DataFrame, store: NamedResultStore) -> None:
        from ..operators.pagerank import pagerank

        self.pr = pagerank(
            edges, tol=self.tol, init_ranks=self.pr
        ).localCheckpoint()
        store.publish(self.name, self.pr)


class IncrementalTriangles(BatchAlg):
    """A4: per-batch clustering-coefficient maintenance.

    EVERY batch takes the TRUE incremental path: per-vertex triangle
    counts are carried as state and updated with
    :func:`operators.triangles.triangle_delta` — for ADDED pairs, the
    triangles of the post-batch graph containing ≥1 added edge; for
    REMOVED pairs, symmetrically, the triangles of the PRE-batch
    graph containing ≥1 removed edge (the pre-graph is the post-graph
    plus the removals, so the same delta kernel applies; the two
    triangle sets are disjoint, so
    ``ntri' = ntri − Δ(G_pre, removed) + Δ(G_post, added)`` exactly).
    O(|delta|·d̄) work per batch, independent of the global triangle
    count — the reference's streaming kernel semantics
    (``streaming_clustering_coefficients.c:14-70``, which handles
    insertions and removals with the same |N(u) ∩ N(v)| update).
    Coefficients are re-derived from the maintained counts + fresh
    degrees (one aggregate).  Equivalence with recompute is
    pytest-gated on insert, delete, and mixed batches."""

    name = "clustering"

    def __init__(self) -> None:
        self.ntri: DataFrame | None = None
        self.prev_edges: DataFrame | None = None

    def _publish(self, edges: DataFrame, store: NamedResultStore) -> None:
        deg = edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("degree")
        )
        cc = deg.join(self.ntri, "id", "left").select(
            "id",
            F.coalesce("ntri", F.lit(0)).alias("ntri"),
            "degree",
            F.when(
                F.col("degree") >= 2,
                F.coalesce("ntri", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("local_cc"),
        )
        store.publish(self.name, cc)

    def init(self, edges: DataFrame, store: NamedResultStore) -> None:
        from ..operators.triangles import triangles_per_vertex

        self.ntri = triangles_per_vertex(edges).localCheckpoint()
        self.prev_edges = edges
        self._publish(edges, store)

    def after_batch(self, edges: DataFrame, batch: DataFrame, store: NamedResultStore) -> None:
        from ..operators.triangles import triangle_delta, triangles_per_vertex

        if self.ntri is None or self.prev_edges is None:
            self.ntri = triangles_per_vertex(edges).localCheckpoint()
            self.prev_edges = edges
            self._publish(edges, store)
            return
        # touched pairs, complement-decoded (deletes arrive as ~id)
        from ..operators.updates import decode_actions

        pairs = (
            decode_actions(batch)
            .select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"),
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        prev_canon = self.prev_edges.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        post_canon = edges.filter(F.col("src") < F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        )
        # net diff restricted to touched pairs (a remove-then-reinsert
        # pair appears in neither set)
        added = pairs.join(post_canon, ["u", "v"], "left_semi").join(
            prev_canon, ["u", "v"], "left_anti"
        )
        removed = pairs.join(prev_canon, ["u", "v"], "left_semi").join(
            post_canon, ["u", "v"], "left_anti"
        )
        ntri = self.ntri
        if removed.limit(1).count() > 0:
            lost = triangle_delta(self.prev_edges, removed)
            ntri = (
                ntri.join(lost, "id", "full_outer")
                .select(
                    "id",
                    (
                        F.coalesce("ntri", F.lit(0))
                        - F.coalesce("d_ntri", F.lit(0))
                    ).alias("ntri"),
                )
            )
        if added.limit(1).count() > 0:
            gained = triangle_delta(edges, added)
            ntri = (
                ntri.join(gained, "id", "full_outer")
                .select(
                    "id",
                    (
                        F.coalesce("ntri", F.lit(0))
                        + F.coalesce("d_ntri", F.lit(0))
                    ).alias("ntri"),
                )
            )
        self.ntri = ntri.localCheckpoint()
        self.prev_edges = edges
        self._publish(edges, store)


@dataclass
class WorkflowResult:
    batches: int
    total_actions: int
    seconds: float
    actions_per_sec: float
    per_batch_seconds: list[float] = field(default_factory=list)


class ActionStreamWorkflow:
    """Replay an action stream in micro-batches against an edge table,
    invoking algorithm hooks — ``binary_stream.c`` + workflow loop."""

    def __init__(
        self,
        edges: DataFrame,
        algs: list[BatchAlg] | None = None,
        store: NamedResultStore | None = None,
    ) -> None:
        self.edges = edges.localCheckpoint()
        self.algs = algs or []
        self.store = store or NamedResultStore()

    def run(self, actions: DataFrame, batch_size: int) -> WorkflowResult:
        bounds = actions.agg(
            F.min("seq").alias("lo"), F.max("seq").alias("hi"), F.count("*").alias("n")
        ).collect()[0]
        if bounds["n"] == 0:
            return WorkflowResult(0, 0, 0.0, float("inf"))
        for alg in self.algs:
            alg.init(self.edges, self.store)
        lo, hi = bounds["lo"], bounds["hi"]
        per_batch: list[float] = []
        t_total = time.time()
        batch_id = 0
        start = lo
        while start <= hi:
            batch = actions.filter(
                (F.col("seq") >= start) & (F.col("seq") < start + batch_size)
            )
            t0 = time.time()
            for alg in self.algs:
                alg.before_batch(self.edges, batch, self.store)
            self.edges = apply_actions(self.edges, batch).localCheckpoint()
            for alg in self.algs:
                alg.after_batch(self.edges, batch, self.store)
            per_batch.append(time.time() - t0)
            batch_id += 1
            start += batch_size
        secs = time.time() - t_total
        n = int(bounds["n"])
        return WorkflowResult(batch_id, n, secs, n / secs if secs else float("inf"), per_batch)


def run_structured_stream(
    spark: SparkSession,
    actions_dir: str,
    initial_edges: DataFrame,
    schema: str = "seq long, src long, dst long, weight long",
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int | None = None,
    progress: dict | None = None,
) -> DataFrame:
    """Structured Streaming path: watch a directory of action parquet
    files, merge each micro-batch with ``foreachBatch`` (exactly-once
    per epoch), return the final edge table.

    Uses ``availableNow`` so tests drive a finite stream to
    completion synchronously; a live deployment drops that trigger.
    """
    state = {"edges": initial_edges.localCheckpoint()}

    def merge(batch_df: DataFrame, epoch_id: int) -> None:
        # count OUTSIDE the timed window, against a cached batch —
        # otherwise the instrumentation adds a second source scan to
        # every reported per-batch 'sec' and perturbs the throughput
        # the ingest bench records
        n = None
        if progress is not None:
            batch_df = batch_df.persist()
            n = batch_df.count()
        t0 = time.time()
        state["edges"] = apply_actions(state["edges"], batch_df).localCheckpoint()
        secs = time.time() - t0
        if progress is not None:
            progress.setdefault("batches", []).append(
                {"epoch": int(epoch_id), "actions": int(n), "sec": round(secs, 3)}
            )
            batch_df.unpersist()

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        # bound each micro-batch to N source files — the replay knob a
        # sustained-rate measurement needs (one big availableNow batch
        # measures a bulk merge, not a stream)
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(actions_dir)
    writer = stream.writeStream.foreachBatch(merge).trigger(availableNow=True)
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.start()
    q.awaitTermination()
    return state["edges"]


def _events_stream(
    spark: SparkSession,
    events_path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming reader for an events-shaped parquet directory that
    tolerates both ``ts`` encodings the driver has shipped:
    TIMESTAMP(NANOS) surfacing as int64 under
    ``spark.sql.legacy.parquet.nanosAsLong`` (round-1 testdata), and
    native TIMESTAMP(MICROS) (current testdata).  Streaming readers
    need an explicit schema, so the encoding is sniffed from the
    batch reader's view of the same files — one footer read, no data
    scan.
    """
    ts_is_long = dict(spark.read.parquet(events_path).dtypes).get("ts") == "bigint"
    ts_field = "ts long" if ts_is_long else "ts timestamp"
    reader = spark.readStream.schema(
        f"event_id long, {ts_field}, user_id long, event_type string,"
        " value double, props string"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    ev = reader.parquet(events_path)
    if ts_is_long:
        # int64 nanos → µs timestamp; integer div (double would lose
        # precision at 1e18 ns)
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return ev


def streaming_hourly_counts(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
    query_name: str = "hourly_counts",
):
    """Event-time windowed aggregation with a watermark over the
    events stream (the reference has no windows — ``MODIFIED_AFTER``
    filters are its closest concept; this is the engine extension).

    Returns the started query (memory sink, ``availableNow``); read
    results from the ``query_name`` temp table after termination.
    """
    ev = _events_stream(spark, events_path)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def random_edge_stream(
    spark: SparkSession,
    nv: int,
    rows_per_second: int = 1000,
    seed: int = 0,
):
    """Uniform random edge-insertion stream over ``nv`` vertices (the
    reference's random stream generator,
    ``tests/stinger/src/stream/random_stream.c:14-60``).

    Built on the ``rate`` source; endpoints are deterministic hashes
    of the rate counter (so a given prefix of the stream is
    reproducible, like the reference's seeded RNG).  Returns an
    unbounded streaming DataFrame ``(seq, src, dst, weight, ts)`` —
    compose with ``writeStream.foreachBatch(...)`` / the workflow
    loop like any other action stream.
    """
    rate = spark.readStream.format("rate").option(
        "rowsPerSecond", rows_per_second
    ).load()
    return rate.select(
        F.col("value").alias("seq"),
        F.pmod(F.xxhash64(F.col("value"), F.lit(seed)), F.lit(nv)).alias("src"),
        F.pmod(F.xxhash64(F.col("value"), F.lit(seed + 1)), F.lit(nv)).alias("dst"),
        F.lit(1).cast("long").alias("weight"),
        F.col("timestamp").alias("ts"),
    )


def streaming_sessions(
    spark: SparkSession,
    events_path: str,
    gap_minutes: int = 30,
    query_name: str = "sessions",
    max_files_per_trigger: int | None = None,
    ttl_ms: int | None = None,
):
    """Custom stateful streaming operator: per-user sessionization via
    ``applyInPandasWithState`` — the engine's analog of the
    reference's pluggable stateful algorithms (``stinger_alg_t``,
    ``stinger-workflow.h:87-126``), expressed on Structured Streaming.

    State per user: ``(session_seq, n_events, start_us, last_us)`` of
    the open session.  Each micro-batch assigns the user's new events
    to sessions (30-min inactivity gap, same semantics as the batch
    ``user_sessions`` query down to tie-breaks) and **emits sessions
    that closed**; the still-open session stays in state for the next
    batch.  In-batch assignment is vectorized pandas (gap diff +
    cumsum), not a per-row Python loop; Arrow moves the batches.

    State lifecycle (round-8, same pattern as the dedup trio): state
    is one open session per EVER-SEEN user, which on a long-running
    ingest grows with user cardinality.  ``ttl_ms`` bounds it — a
    user idle for that long (processing time) has their open session
    FLUSHED as closed and the state evicted, so nothing is lost, only
    decided early: a post-TTL event that would have continued the
    session (a wall-clock laggard still inside the event-time gap)
    starts a new session instead — the exactness-for-bounded-state
    trade.  NOTE: eviction resets the user's ``session_seq`` to 0, so
    with a TTL the output is NOT unique on ``(user_id, session_seq)``
    — a user can emit two different sessions both labeled seq 0.
    Every flushed row carries ``start_us``, which disambiguates: key
    downstream joins on ``(user_id, start_us)`` when a TTL is set.
    ``None`` (default) keeps state forever (batch-exact; the
    open session is simply never emitted).  Per-batch state size is
    observable via :func:`state_telemetry`; with a TTL set an
    ``availableNow`` run keeps scheduling state-cleanup batches after
    the sources drain — poll the sink and ``stop()`` rather than
    ``awaitTermination()``.

    Returns the started query (memory sink, ``availableNow``); read
    emitted closed sessions from the ``query_name`` temp table.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    _cols = ["user_id", "session_seq", "n_events", "start_us", "end_us"]

    def assign(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (user_id,) = key
        if state.hasTimedOut:
            # idle past the TTL: flush the carried open session as a
            # closed one (early decision, not data loss) and evict
            seq, n, start, last = state.get
            state.remove()
            if n:
                yield pd.DataFrame(
                    [(user_id, seq, n, start, last)], columns=_cols
                )
            return
        if state.exists:
            seq, n, start, last = state.get
        else:
            seq, n, start, last = 0, 0, None, None
        closed: list[tuple[int, int, int, int, int]] = []
        # applyInPandasWithState gives NO ordering guarantee across the
        # Arrow chunks of one group, so a later chunk can carry earlier
        # timestamps.  Concatenate every chunk for the key and sort ONCE
        # before the gaps-and-islands pass — group state is per-user and
        # a user's events per micro-batch are bounded, so this fits.
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            us = pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
            us = us.to_numpy()
            # vectorized gaps-and-islands: first event continues the
            # open session unless the gap from `last` exceeds the cap
            prev = pd.Series(us).shift()
            if last is not None:
                prev.iloc[0] = last
            is_new = (prev.isna() | ((us - prev) > gap_us)).to_numpy()
            if last is not None and is_new[0]:
                # the carried open session closed at the batch boundary
                closed.append((user_id, seq, n, start, last))
            continues = last is not None and not is_new[0]
            # when continuing, cumsum[0] == 0 so sid[0] lands on `seq`
            sid = seq + is_new.cumsum()
            df = pd.DataFrame({"sid": sid, "us": us})
            g = df.groupby("sid")["us"].agg(["count", "min", "max"])
            last_sid = int(g.index.max())
            for s, row in g.iterrows():
                cnt, mn, mx = int(row["count"]), int(row["min"]), int(row["max"])
                if continues and s == seq:
                    # merge the carried open session's stats
                    cnt += n
                    mn = start
                if s < last_sid:
                    closed.append((user_id, int(s), cnt, mn, mx))
                else:
                    seq, n, start, last = int(s), cnt, mn, mx
        state.update((int(seq), int(n), int(start) if start is not None else 0,
                      int(last) if last is not None else 0))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if closed:
            yield pd.DataFrame(closed, columns=_cols)

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    ).select("user_id", "event_id", "ts")
    out = ev.groupBy("user_id").applyInPandasWithState(
        assign,
        outputStructType=(
            "user_id long, session_seq long, n_events long,"
            " start_us long, end_us long"
        ),
        stateStructType="session_seq long, n_events long, start_us long, last_us long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_click_purchase_join(
    spark: SparkSession,
    events_path: str,
    watermark: str = "2 hours",
    query_name: str = "click_purchase",
):
    """Stream-stream event-time interval join: each purchase matched
    to the same user's clicks in the preceding hour (attribution
    shape).  Both sides are watermarked so the join state is bounded
    — Spark retires buffered click rows once the purchase-side
    watermark passes ``c_ts + 1 hour``; without the time-range bound
    the state would grow forever at 100 TB/day.

    The reference has no stream-stream correlation (its closest
    surface is per-batch incremental maintenance); this is the engine
    extension for event-stream feature pipelines.  Returns the
    started query (memory sink, ``availableNow``); rows are
    ``(purchase_id, user_id, p_ts, click_id, c_ts)``.
    """
    def _side(etype: str, prefix: str):
        return (
            _events_stream(spark, events_path)
            .filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    purchases = _side("purchase", "p")
    clicks = _side("click", "c")
    joined = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND c_ts <= p_ts"
            " AND c_ts >= p_ts - INTERVAL 1 HOUR"
        ),
    ).select(
        F.col("p_id").alias("purchase_id"),
        F.col("p_user").alias("user_id"),
        "p_ts",
        F.col("c_id").alias("click_id"),
        "c_ts",
    )
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_debounce(
    spark: SparkSession,
    events_path: str,
    min_gap_seconds: int = 60,
    query_name: str = "debounced",
    max_files_per_trigger: int | None = None,
    ttl_ms: int | None = None,
):
    """Stateful streaming twin of the batch ``event_debounce`` query:
    emit an event only if the previous event of the same
    ``(user_id, event_type)`` — kept or dropped — is more than
    ``min_gap_seconds`` older.

    State per key is ONE timestamp (the last *seen* event time), so
    unlike sessionization nothing is withheld: every kept event is
    final the moment its micro-batch processes, and the emitted set is
    exactly the batch query's result however the stream is chunked
    (provided micro-batches arrive in event-time order per key, the
    file-source contract used here).  Vectorized inside the batch:
    lag + gap filter in pandas, no per-row Python loop.

    State lifecycle (round-8, same pattern as the dedup trio): one
    timestamp per ``(user_id, event_type)`` still grows with key
    cardinality on a long-running ingest.  ``ttl_ms`` evicts a key
    idle for that long (processing time) — a post-TTL event arrives
    to empty state and is KEPT, so the only exactness loss is a
    laggard inside ``min_gap_seconds`` of a long-evicted
    predecessor being admitted; any ``ttl_ms`` comfortably above
    ``min_gap_seconds * 1000`` makes that window empty in practice.
    ``None`` (default) keeps state forever (batch-exact).  Per-batch
    state size is observable via :func:`state_telemetry`; with a TTL
    set an ``availableNow`` run keeps scheduling state-cleanup
    batches after the sources drain — poll the sink and ``stop()``.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = min_gap_seconds * 1_000_000

    def debounce(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        user_id, event_type = key
        if state.hasTimedOut:
            state.remove()  # forget the last-seen mark; next event is kept
            return
        last = state.get[0] if state.exists else None
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            # no cross-chunk ordering guarantee — sort once per key
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            us = (
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000
            ).to_numpy()
            prev = pd.Series(us).shift()
            if last is not None:
                prev.iloc[0] = last
            keep = (prev.isna() | ((us - prev) > gap_us)).to_numpy()
            state.update((int(us[-1]),))
            if ttl_ms is not None:
                state.setTimeoutDuration(ttl_ms)
            out = pdf.loc[keep, ["event_id", "user_id", "event_type"]].copy()
            out["ts_us"] = us[keep]
            if len(out):
                yield out

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    ).select("user_id", "event_type", "event_id", "ts")
    out = ev.groupBy("user_id", "event_type").applyInPandasWithState(
        debounce,
        outputStructType=(
            "event_id long, user_id long, event_type string, ts_us long"
        ),
        stateStructType="last_us long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup(
    spark: SparkSession,
    events_path: str,
    watermark: str = "1 hour",
    query_name: str = "deduped",
    max_files_per_trigger: int | None = None,
):
    """Streaming exact dedup: first occurrence of each
    ``(user_id, event_type, ts)`` wins, duplicates arriving within the
    watermark horizon are dropped — Structured Streaming's built-in
    ``dropDuplicatesWithinWatermark`` state store, the streaming twin
    of a batch ``DISTINCT``.

    State is bounded by the watermark (keys older than the horizon are
    evicted), which is what makes exact dedup feasible on an unbounded
    stream — the batch-equivalence guarantee holds as long as a
    duplicate arrives within the horizon of its first occurrence.
    """
    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    ).select("user_id", "event_type", "ts")
    out = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type", "ts"]
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_minhash_pairs(
    spark: SparkSession,
    docs_path: str,
    min_agree: int = 8,
    k: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    query_name: str = "minhash_pairs",
    max_files_per_trigger: int | None = None,
    ttl_ms: int | None = None,
):
    """Streaming near-dup detection: the LSH band index as KEYED
    Structured Streaming state — the streaming twin of
    :func:`~graphdb_testing_spark.functions.dedup.signature_agreement_pairs`.

    Per micro-batch: row-level MinHash signatures
    (:func:`minhash_signature_rows` — JVM higher-order functions, no
    aggregation, hence legal on a stream), a narrow banding explode,
    then ``applyInPandasWithState`` keyed by ``(band, bkey)``.  The
    state per bucket is the ``(doc_id, signature)`` list of members
    seen so far; each arriving document is compared (one vectorized
    numpy equality per doc) against the bucket's accumulated members
    plus earlier docs of its own batch, and a pair is emitted when
    ≥ ``min_agree`` of ``num_hashes`` signature components agree (the
    Broder estimator).  A pair colliding in several bands is emitted
    once per band — at-least-once semantics; a downstream ``distinct``
    recovers exactly the batch twin's pair set (parity-tested).

    Scale shape: state is sharded across band buckets (never a global
    index on one task), and each bucket's population tracks its
    duplicate-cluster size, not the corpus — the banding premise.
    Signatures are ``num_hashes`` longs per doc, so a bucket of B
    members costs B·(num_hashes+1) longs of state.

    State lifecycle (the 100 TB long-run story): state still grows
    with corpus novelty, so a month-long ingest needs a lifecycle.
    ``ttl_ms`` bounds it — a bucket idle for that long is evicted
    (processing-time timeout), trading exactness at the horizon (a
    near-dup arriving after the TTL of its bucket's last activity is
    missed) for bounded state; ``None`` keeps state forever (exact).
    For durable multi-TB state, configure the RocksDB provider
    (``spark.sql.streaming.stateStore.providerClass`` →
    ``RocksDBStateStoreProvider``) so state spills off-heap; per-batch
    state size is observable via :func:`state_telemetry`.  With a TTL
    set, an ``availableNow`` run keeps scheduling no-data
    state-cleanup batches after the sources drain (it never
    self-terminates) — finite-replay harnesses must poll the sink and
    ``stop()``; a real ingest runs forever anyway."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.dedup import minhash_signature_rows, sig_band_keys

    def upd(key, pdf_iter, state):
        import numpy as np
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            sids, flat = state.get
            ids = np.array(sids, dtype=np.int64)
            sigs = np.array(flat, dtype=np.int64).reshape(-1, num_hashes)
        else:
            ids = np.zeros(0, dtype=np.int64)
            sigs = np.zeros((0, num_hashes), dtype=np.int64)
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            if len(ids):
                state.update((ids.tolist(), sigs.reshape(-1).tolist()))
                if ttl_ms is not None:
                    state.setTimeoutDuration(ttl_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        new_ids = pdf["doc_id"].to_numpy(np.int64)
        new_sigs = np.stack([np.asarray(s, dtype=np.int64) for s in pdf["sig"]])
        all_ids = np.concatenate([ids, new_ids])
        all_sigs = np.concatenate([sigs, new_sigs])
        n_old = len(ids)
        out_a: list[int] = []
        out_b: list[int] = []
        out_n: list[int] = []
        for i in range(len(new_ids)):
            m = n_old + i  # pair against index + earlier-in-batch only
            if m == 0:
                continue
            agree = (all_sigs[:m] == new_sigs[i]).sum(axis=1)
            for j in np.nonzero(agree >= min_agree)[0]:
                out_a.append(int(min(all_ids[j], new_ids[i])))
                out_b.append(int(max(all_ids[j], new_ids[i])))
                out_n.append(int(agree[j]))
        state.update((all_ids.tolist(), all_sigs.reshape(-1).tolist()))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_a:
            yield pd.DataFrame({"a_id": out_a, "b_id": out_b, "n_agree": out_n})

    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_path)
    sig = minhash_signature_rows(docs, k, num_hashes)
    bnd = sig_band_keys(sig, bands, num_hashes).select("band", "bkey", "doc_id", "sig")
    out = bnd.groupBy("band", "bkey").applyInPandasWithState(
        upd,
        outputStructType="a_id long, b_id long, n_agree long",
        stateStructType="ids array<long>, flat array<long>",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_dedup_decisions(
    spark: SparkSession,
    docs_path: str,
    query_name: str = "dedup_decisions",
    max_files_per_trigger: int | None = None,
    ttl_ms: int | None = None,
):
    """Streaming exact-dedup DECISION gate — the streaming twin of
    :func:`~graphdb_testing_spark.functions.dedup.exact_duplicates`:
    every arriving document gets a manifest row ``(doc_id,
    canonical_id, keep, n_prior_copies)`` the moment it arrives, where
    ``canonical_id`` is the FIRST-seen (min-id within a batch) copy of
    its content and ``keep = 1`` only for that first copy.

    Unlike ``dropDuplicatesWithinWatermark`` (which silently drops
    late copies), this emits the keep/drop decision for every row —
    what an ingestion pipeline writes next to the raw data so the
    drop is auditable and reversible.

    State is keyed by the md5 content fingerprint: ``(canonical_id,
    n_seen)`` — two longs per distinct content, the minimal dedup
    index.  Batches are processed sorted by doc_id, so a replay in id
    order reproduces the batch manifest exactly (parity-tested).  At
    100 TB the state shards across fingerprints; no global structure.

    State lifecycle: two longs per distinct content STILL grows
    unboundedly with corpus novelty, which is what kills a month-long
    ingest.  ``ttl_ms`` bounds it: a fingerprint idle for that long is
    evicted (processing-time timeout), so a duplicate arriving after
    the horizon is re-admitted as novel — the standard
    exactness-for-bounded-state trade, off by default (``None`` =
    exact forever).  A production deployment pairs the TTL with a
    periodic snapshot-compaction into the batch retention manifest
    (the batch twin is the compaction target) and the RocksDB state
    store provider; per-batch state size is observable via
    :func:`state_telemetry`.  With a TTL set, an ``availableNow`` run
    keeps scheduling no-data state-cleanup batches after the sources
    drain — finite-replay harnesses must poll the sink and ``stop()``
    rather than ``awaitTermination()``.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def upd(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            canonical, n_seen = state.get
        else:
            canonical, n_seen = None, 0
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            if canonical is not None:
                state.update((canonical, n_seen))
                if ttl_ms is not None:
                    state.setTimeoutDuration(ttl_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        out = []
        for doc_id in pdf["doc_id"]:
            if canonical is None:
                canonical = int(doc_id)
            out.append(
                (int(doc_id), canonical, int(doc_id == canonical), n_seen)
            )
            n_seen += 1
        state.update((canonical, n_seen))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            out, columns=["doc_id", "canonical_id", "keep", "n_prior_copies"]
        )

    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_path)
    keyed = docs.select("doc_id", F.md5("text").alias("fp"))
    out = keyed.groupBy("fp").applyInPandasWithState(
        upd,
        outputStructType=(
            "doc_id long, canonical_id long, keep long, n_prior_copies long"
        ),
        stateStructType="canonical long, n_seen long",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_ms is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_ingest_decisions(
    spark: SparkSession,
    docs_path: str,
    min_rules: int = 6,
    query_name: str = "ingest_decisions",
    max_files_per_trigger: int | None = None,
    ttl_ms: int | None = None,
):
    """Streaming ingestion gate — the streaming twin of the batch
    ``corpus_retention_report`` pipeline's gate stages: every arriving
    document is scored against the Gopher quality rules (row-level
    higher-order functions, legal on a stream) and, if it passes
    ≥ ``min_rules``, runs through the fingerprint-keyed exact-dedup
    decision state.  Emits one decision row per document:

    * ``('quality_fail', NULL)`` — failed the quality gate;
    * ``('dup', canonical_id)`` — exact duplicate of an earlier doc;
    * ``('keep', doc_id)`` — first copy of novel content.

    The union of a genuinely stateless branch (quality failures) and
    one stateful branch (fingerprint state, two longs per distinct
    content) — the auditable per-row decision log an ingestion
    pipeline writes at 100 TB, sharded by fingerprint.  The content
    fingerprint is computed in the SAME projection as the quality
    metrics (``gopher_quality(..., carry=...)``), so no stream-stream
    self-join ever buffers the corpus in join state.  ``ttl_ms``
    bounds the fingerprint state's lifetime exactly as in
    :func:`streaming_dedup_decisions`."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..functions.textstats import gopher_quality

    def upd(key, pdf_iter, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            canonical, n_seen = state.get
        else:
            canonical, n_seen = None, 0
        chunks = [p for p in pdf_iter if len(p)]
        if not chunks:
            if canonical is not None:
                state.update((canonical, n_seen))
                if ttl_ms is not None:
                    state.setTimeoutDuration(ttl_ms)
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("doc_id")
        out = []
        for doc_id in pdf["doc_id"]:
            if canonical is None:
                canonical = int(doc_id)
            out.append(
                (
                    int(doc_id),
                    "keep" if doc_id == canonical else "dup",
                    canonical,
                )
            )
            n_seen += 1
        state.update((canonical, n_seen))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=["doc_id", "decision", "canonical_id"])

    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_path)
    scored = gopher_quality(docs, carry={"fp": F.md5(F.col("text"))})
    failed = scored.filter(F.col("n_rules_passed") < min_rules).select(
        "doc_id",
        F.lit("quality_fail").alias("decision"),
        F.lit(None).cast("long").alias("canonical_id"),
    )
    passed = (
        scored.filter(F.col("n_rules_passed") >= min_rules)
        .select("doc_id", "fp")
        .groupBy("fp")
        .applyInPandasWithState(
            upd,
            outputStructType="doc_id long, decision string, canonical_id long",
            stateStructType="canonical long, n_seen long",
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
    return (
        passed.unionByName(failed)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def state_telemetry(query) -> list[dict]:
    """Per-batch state-store telemetry for a streaming query: one row
    per (micro-batch, stateful operator) with the state row count and
    churn — the observability a long-running ingest needs to see its
    state trajectory (and to alarm when a NoTimeout deployment's state
    stops plateauing).

    Returns ``[{"batch": id, "operator": name, "state_rows": total,
    "updated": n, "removed": n}, ...]`` drawn from the query's
    ``recentProgress`` (Structured Streaming's own instrumentation —
    no extra work on the hot path)."""
    import json as _json

    out = []
    for prog in query.recentProgress:
        if not isinstance(prog, dict):  # StreamingQueryProgress object
            prog = _json.loads(prog.json)
        for op in prog.get("stateOperators", []) or []:
            out.append(
                {
                    "batch": prog.get("batchId"),
                    "operator": op.get("operatorName"),
                    "state_rows": op.get("numRowsTotal"),
                    "updated": op.get("numRowsUpdated"),
                    "removed": op.get("numRowsRemoved"),
                }
            )
    return out


def streaming_heavy_hitters(
    spark: SparkSession,
    events_path: str,
    capacity: int = 4,
    query_name: str = "heavy_hitters",
    max_files_per_trigger: int | None = None,
):
    """Streaming heavy hitters per event type via the Misra–Gries
    summary (Misra & Gries 1982; the "space-saving" family): per
    ``event_type`` the state is at most ``capacity`` ``(user,
    counter)`` pairs — O(capacity) memory however many distinct users
    the stream carries, the property that makes per-key top-k feasible
    on an unbounded 100 TB stream.

    Guarantee: any user with true frequency > N/(capacity+1) is
    guaranteed present in the final summary, and each kept counter
    undercounts its user's true frequency by at most N/(capacity+1)
    (N = events seen for that type).  Each batch emits the type's
    current summary with ``batch_n`` (events absorbed so far) so a
    reader can bound the error; deterministic given the per-key
    arrival order (chunks are sorted by event time like the other
    stateful operators).

    The exact batch twin at fixture scale is `hourly_heavy_hitters`
    (per-hour exact top-k); this operator is the bounded-memory
    streaming form.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def summarize(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (event_type,) = key
        if state.exists:
            users, counts, seen = state.get
            summary = dict(zip(users, counts))
        else:
            summary, seen = {}, 0
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts", "event_id"]
            )
            for uid in pdf["user_id"].astype("int64"):
                uid = int(uid)
                seen += 1
                if uid in summary:
                    summary[uid] += 1
                elif len(summary) < capacity:
                    summary[uid] = 1
                else:
                    # decrement-all step; drop zeroed counters
                    summary = {u: c - 1 for u, c in summary.items() if c > 1}
            state.update((
                [int(u) for u in summary],
                [int(c) for c in summary.values()],
                int(seen),
            ))
            out = pd.DataFrame(
                {
                    "event_type": event_type,
                    "user_id": list(summary),
                    "min_count": list(summary.values()),
                    "batch_n": seen,
                }
            )
            if len(out):
                yield out

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    ).select("event_type", "event_id", "user_id", "ts")
    out = ev.groupBy("event_type").applyInPandasWithState(
        summarize,
        outputStructType=(
            "event_type string, user_id long, min_count long, batch_n long"
        ),
        stateStructType="users array<long>, counts array<long>, seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_hll(
    spark: SparkSession,
    events_path: str,
    query_name: str = "hll_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of the batch HLL distinct-count sketch
    (:mod:`functions.sketches`): per ``event_type``, state is the 64
    register maxima, merged register-wise across micro-batches — the
    associative merge law is exactly what makes the sketch a legal
    streaming aggregate with O(m) state per key.

    The hash/rank arithmetic runs JVM-side *before* the stateful
    operator (``hll_rho`` is plain column math), so the pandas side
    only does a vectorized per-register ``groupby(...).max()`` —
    no per-row Python.  Emits ``(event_type, n_seen, est_milli)``
    per batch; the row with the largest ``n_seen`` per key is the
    final estimate and equals the batch sketch bit-for-bit (parity
    test in ``test_streaming.py``).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..functions.sketches import HLL_ALPHA, HLL_M, hll_rho

    def upd(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.exists:
            (regs, n_seen) = state.get
            regs = list(regs)
        else:
            regs, n_seen = [0] * HLL_M, 0
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            n_seen += len(pdf)
            for reg, mx in pdf.groupby("register")["rho"].max().items():
                if mx > regs[int(reg)]:
                    regs[int(reg)] = int(mx)
        state.update((regs, n_seen))
        s = sum(2.0 ** -r for r in regs)
        est = HLL_ALPHA * HLL_M * HLL_M / s
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n_seen],
                "est_milli": [int(est * 1000 // 1)],
            }
        )

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    reg, rho = hll_rho(F.col("user_id"))
    hashed = ev.select("event_type", reg.alias("register"), rho.alias("rho"))
    out = hashed.groupBy("event_type").applyInPandasWithState(
        upd,
        outputStructType="event_type string, n_seen long, est_milli long",
        stateStructType="regs array<long>, n_seen long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_prequential_anomalies(
    spark: SparkSession,
    events_path: str,
    query_name: str = "preq_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of ``prequential_anomalies``: per event type the
    state is the current (open) hour's count plus the exact integer
    moments (n, Σc, Σc²) of completed hours.  An hour is scored the
    moment a later-hour event arrives (event-time order per key is
    the file-source contract, as in ``streaming_debounce``), then
    folded into the moments — so every emitted score uses STRICTLY
    PRIOR hours only, bit-identical to the batch query (z is the same
    IEEE arithmetic on the same integers; parity test gates it).

    The per-batch work is one vectorized hourly groupby; the Python
    loop is per HOUR (bounded by batch time-span), never per row.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def upd(key, pdf_iter, state: "GroupState"):
        import math

        import pandas as pd

        if state.exists:
            cur_hour, cur_cnt, n, s, sq = state.get
        else:
            cur_hour, cur_cnt, n, s, sq = None, 0, 0, 0, 0
        out = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True)
            counts = pdf.groupby("hour_epoch").size().sort_index()
            for hour, c in counts.items():
                hour, c = int(hour), int(c)
                if cur_hour is None:
                    cur_hour, cur_cnt = hour, c
                elif hour == cur_hour:
                    cur_cnt += c
                else:
                    # close cur_hour: score, then fold into moments
                    var_num = n * sq - s * s
                    if n >= 2 and var_num > 0:
                        z = math.floor(
                            1000.0 * (cur_cnt * n - s) / math.sqrt(float(var_num))
                        )
                        out.append((key[0], cur_hour, cur_cnt, n, z))
                    n, s, sq = n + 1, s + cur_cnt, sq + cur_cnt * cur_cnt
                    cur_hour, cur_cnt = hour, c
        state.update((cur_hour, cur_cnt, n, s, sq))
        if out:
            yield pd.DataFrame(
                out,
                columns=["event_type", "hour_epoch", "cnt", "n_prior", "z_milli"],
            )

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    ).select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).cast("long").alias("hour_epoch"),
    )
    out = ev.groupBy("event_type").applyInPandasWithState(
        upd,
        outputStructType=(
            "event_type string, hour_epoch long, cnt long,"
            " n_prior long, z_milli long"
        ),
        stateStructType=(
            "cur_hour long, cur_cnt long, n long, s long, sq long"
        ),
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_funnel(
    spark: SparkSession,
    events_path: str,
    stages: tuple = ("view", "click", "purchase"),
    query_name: str = "funnel_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming funnel detector: per user, a tiny state machine
    advances through ``stages`` on strictly-later timestamps and
    emits ONE row the moment the final stage completes — the
    real-time conversion trigger (the batch ``conversion_funnel``
    query is the retrospective census of the same machine).

    State = (current stage index, ts of the stage's event, done
    flag); batch events are sorted per key (chunk concat + one sort,
    the debounce discipline), the transition scan is a per-ROW loop
    over a pandas frame already filtered to the stage alphabet —
    bounded by the user's funnel-relevant events per batch.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    stage_ix = {s: i for i, s in enumerate(stages)}

    def upd(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.exists:
            ix, last_us, done = state.get
        else:
            ix, last_us, done = -1, -(1 << 62), 0
        out = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks and not done:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_us", "event_id"]
            )
            for t, et in zip(pdf["ts_us"], pdf["event_type"]):
                if done:
                    break
                nxt = ix + 1
                if stage_ix.get(et) == nxt and t > last_us:
                    ix, last_us = nxt, int(t)
                    if ix == len(stages) - 1:
                        done = 1
                        out.append((key[0], int(t)))
        state.update((ix, last_us, done))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "completed_at_us"])

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    filt = ev.filter(F.col("event_type").isin(*stages)).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    out = filt.groupBy("user_id").applyInPandasWithState(
        upd,
        outputStructType="user_id long, completed_at_us long",
        stateStructType="ix integer, last_us long, done integer",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_pattern_match(
    spark: SparkSession,
    events_path: str,
    start_type: str = "view",
    end_type: str = "purchase",
    guard_type: str = "error",
    window_s: int = 3600,
    query_name: str = "pattern_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming CEP detector: per user, emit a row for every
    ``end_type`` event whose *latest preceding* ``start_type`` event
    is within ``window_s`` AND has no ``guard_type`` event after it —
    the ``A (no C) B within T`` pattern of complex-event-processing
    engines, as one ``applyInPandasWithState`` operator.

    State per user = (ts of latest start event, ts of latest guard
    event) — two longs, O(1) regardless of stream length.  A guard
    event does not erase history; the match condition compares the
    two timestamps, which reproduces the batch window semantics
    (latest start wins; a guard between it and the end kills the
    match).  Ties at identical microseconds are ordered by event_id
    (the batch twin sorts the same way).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    win_us = window_s * 1_000_000

    def upd(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.exists:
            last_start, last_guard = state.get
        else:
            last_start, last_guard = -(1 << 62), -(1 << 62)
        out = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(
                ["ts_us", "event_id"]
            )
            for t, et in zip(pdf["ts_us"], pdf["event_type"]):
                t = int(t)
                if et == start_type:
                    last_start = t
                elif et == guard_type:
                    last_guard = t
                elif et == end_type:
                    if (
                        last_start > -(1 << 62)
                        and t - last_start <= win_us
                        and last_guard < last_start
                    ):
                        out.append((key[0], last_start, t))
        state.update((last_start, last_guard))
        if out:
            yield pd.DataFrame(out, columns=["user_id", "start_us", "end_us"])

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    filt = ev.filter(
        F.col("event_type").isin(start_type, end_type, guard_type)
    ).select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    out = filt.groupBy("user_id").applyInPandasWithState(
        upd,
        outputStructType="user_id long, start_us long, end_us long",
        stateStructType="last_start long, last_guard long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_cms(
    spark: SparkSession,
    events_path: str,
    query_name: str = "cms_stream",
    depth: int = 4,
    width: int = 512,
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of the batch Count-Min build
    (:func:`functions.sketches.cms_counters`): counters are plain
    counts, and counter-wise addition is associative and commutative,
    so the sketch is a NATIVE streaming aggregation — hash map-side,
    ``groupBy(r, idx).count()`` in complete mode, no custom state
    operator at all.  State is bounded at depth·width rows no matter
    how long the stream runs; the final table equals the batch
    counters exactly (parity test in ``test_streaming.py``)."""
    from ..hashutil import hash_prefix

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    rows = ev.select(
        F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r"),
        F.col("user_id").cast("string").alias("item"),
    )
    hashed = rows.select(
        "r",
        F.pmod(
            hash_prefix(
                F.concat_ws("|", F.lit("cms"), F.col("r").cast("string"), F.col("item")),
                8,
            ),
            F.lit(width),
        ).alias("idx"),
    )
    agg = hashed.groupBy("r", "idx").agg(F.count("*").alias("cnt"))
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_enriched_revenue(
    spark: SparkSession,
    events_path: str,
    sf_dir: str,
    query_name: str = "enrich_stream",
    max_files_per_trigger: int | None = None,
):
    """Stream-static broadcast enrichment: the event stream joins the
    static customer→nation dimension (user_id keys customers in the
    fixture contract) and aggregates value per nation in complete
    mode.  The static side re-resolves per micro-batch (Structured
    Streaming's stream-static contract) and broadcasts — the shape of
    every 100 TB fact-stream × dimension join.  Parity: final table
    equals the same batch aggregate (test in ``test_streaming.py``)."""
    from .. import datasets

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    )
    cust = datasets.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("value_milli"),
        )
    )
    return (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_kmeans(
    spark: SparkSession,
    embeddings_path: str,
    k: int = 4,
    dim: int = 64,
    query_name: str = "kmeans_stream",
    max_files_per_trigger: int | None = None,
):
    """Mini-batch k-means as a stateful streaming operator: the
    centroid table (k×d integer "milli" coordinates, the
    ``kmeans_lloyd`` convention) is the state under ONE constant
    group key — k·d longs, the legal-size global state for an ML
    model.  Each micro-batch runs one vectorized numpy
    assign-then-update restricted to its rows (mini-batch semantics;
    Sculley, WWW'10): seed centroids come from the k smallest vec_ids
    accumulated across the pre-seed batches (buffered rows keep their
    vec_id and re-sort, so the seed is arrival-order independent),
    updates replace centroids with the batch mean
    ``(1000·Σ)//n`` of their assigned points.

    A single-batch stream therefore equals one batch Lloyd
    assign+update exactly (parity test in ``test_streaming.py``);
    multi-batch runs are the documented mini-batch trajectory.
    Per-batch work is one numpy matmul over Arrow batches — no
    per-row Python."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def upd(key, pdf_iter, state: "GroupState"):
        import numpy as np
        import pandas as pd

        buf = None  # pre-seed row buffer (undersized first batches)
        if state.exists:
            (flat, n_seen) = state.get
            if n_seen < 0:
                # n_seen < 0 marks buffering state: flat holds |n_seen|
                # not-yet-seeded rows as (vec_id, dim coords) — dim+1
                # columns, not k centroids (ADVICE r2 — a first batch
                # smaller than k must not seed; ADVICE r3 — keep the
                # vec_id so the seed re-sorts across batches).
                buf = np.array(flat, dtype=np.int64).reshape(-1, dim + 1)
                n_seen, have = 0, False
            else:
                cents = np.array(flat, dtype=np.int64).reshape(k, dim)
                have = True
        else:
            cents, n_seen, have = None, 0, False
        # one mini-batch = ALL rows of this trigger for the key
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            if have:
                state.update((cents.reshape(-1).tolist(), n_seen))
            elif buf is not None:
                state.update((buf.reshape(-1).tolist(), -len(buf)))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values("vec_id")
        X = np.floor(
            np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            * 1024
        ).astype(np.int64)
        if not have:
            # carry vec_id as column 0 so buffered + current rows
            # re-sort globally: the seed is the k smallest vec_ids of
            # ALL accumulated rows, independent of arrival order
            # (ADVICE r3 — ids-only-in-batch sorting was order-dependent)
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            rows = np.concatenate([ids[:, None], X], axis=1)
            if buf is not None and len(buf):
                rows = np.concatenate([buf, rows])
            if len(rows) < k:
                # still short of k rows: keep buffering, emit nothing
                state.update((rows.reshape(-1).tolist(), -len(rows)))
                return
            rows = rows[np.argsort(rows[:, 0], kind="stable")]
            X = rows[:, 1:]
            cents = 1000 * X[:k]  # k smallest ids of the accumulated seed
        # integer squared distances in milli units, ties -> smaller idx
        d2 = ((1000 * X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(k):
            pts = X[assign == c]
            if len(pts):
                cents[c] = (1000 * pts.sum(axis=0)) // len(pts)
        n_seen += len(X)
        state.update((cents.reshape(-1).tolist(), n_seen))
        yield pd.DataFrame(
            {
                "cluster_id": list(range(k)),
                "n_seen": [n_seen] * k,
                "centroid": [cents[c].tolist() for c in range(k)],
            }
        )

    reader = spark.readStream.schema("vec_id long, embedding array<float>, label int")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    emb = reader.parquet(embeddings_path)
    out = (
        emb.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandasWithState(
            upd,
            outputStructType="cluster_id long, n_seen long, centroid array<long>",
            stateStructType="flat array<long>, n_seen long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_ewma(
    spark: SparkSession,
    events_path: str,
    query_name: str = "ewma_stream",
    max_files_per_trigger: int | None = None,
):
    """Streaming twin of ``ewma_user_values``: per user the state is
    ONE double (the running ``acc/2 + v`` fold) plus the event count —
    the smallest possible stateful operator, and bit-exact against the
    batch ordered fold because each micro-batch's rows are folded in
    (ts, event_id) order and addition order never varies (the
    ``streaming_debounce`` event-time-order file contract).  Emits the
    running EWMA per user per batch; the last emission equals the
    batch query exactly (parity test)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def upd(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        if state.exists:
            acc, n = state.get
        else:
            acc, n = 0.0, 0
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if not chunks:
            if n:
                state.update((acc, n))
            return
        pdf = pd.concat(chunks, ignore_index=True).sort_values(
            ["ts", "event_id"]
        )
        for v in pdf["value"].astype(float):
            acc = acc / 2 + v
        n += len(pdf)
        state.update((acc, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "ewma_micro": [int(acc * 1e6 // 1)],
            }
        )

    ev = _events_stream(
        spark, events_path, max_files_per_trigger=max_files_per_trigger
    ).select("user_id", "ts", "event_id", "value")
    out = ev.groupBy("user_id").applyInPandasWithState(
        upd,
        outputStructType="user_id long, n_events long, ewma_micro long",
        stateStructType="acc double, n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        out.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )


def streaming_retention_decisions(
    spark: SparkSession,
    docs_path: str,
    min_agree: int = 8,
    k: int = 8,
    num_hashes: int = 16,
    bands: int = 4,
    max_files_per_trigger: int | None = None,
) -> dict:
    """Streaming NEAR-dup retention gate — the streaming twin of the
    batch retention manifest (`dedup_retention` via signature
    agreement): every arriving document gets an auditable
    ``(batch_id, doc_id, cluster_id, cluster_size_so_far, keep)``
    row AT ARRIVAL, where ``cluster_id`` is the min doc id of its
    near-duplicate cluster among everything seen so far and ``keep``
    marks the canonical AS OF THAT ARRIVAL.

    ``keep`` is a point-in-time decision, not a final verdict: if a
    smaller-id duplicate arrives later, it becomes the cluster's new
    canonical and ALSO gets keep=1, so one final cluster can carry
    two keep=1 rows (the early one is superseded, never retracted —
    append-only decisions cannot be un-emitted).  When ids arrive in
    increasing order the situation cannot occur and keepers are 1:1
    with final clusters.  The returned ``labels`` table is the
    authoritative retained set: retain exactly the docs with
    ``id == label`` there, and treat ``decisions`` as the audit log.

    Per micro-batch (``foreachBatch``, the reference's workflow-loop
    shape — ``stinger-workflow.h:15-28``):

    1. row-level MinHash signatures for the batch (map-only);
    2. LSH band equi-join of the batch against the persisted band
       table (new×old) and itself (new×new) — candidates verified by
       signature agreement ≥ ``min_agree`` (Broder estimator), the
       one-pass batch twin's exact semantics;
    3. incremental component merge (:func:`_merge_components`, the
       insert path of ``IncrementalComponents``): new duplicate edges
       collapse to REPRESENTATIVE label pairs through the current
       label table, the CC kernel runs on that O(|new pairs|) label
       graph only, and the label table relabels through the result in
       one broadcast join — min-label invariant preserved, so a
       cluster's label IS its canonical min doc id;
    4. decisions for the batch's documents against the merged labels.

    Scale shape: the persisted state is (signature bands, labels) —
    both flat tables that grow with the corpus, exactly the batch
    pipeline's working set, maintained via ``localCheckpoint`` (a
    production deployment would keep them as a lakehouse table).  No
    stage is corpus-quadratic: pair discovery stays banded, the CC
    runs on representative edges only, and decisions are one
    broadcast-size join per batch.

    Returns ``{"decisions": <union of per-batch decision tables>,
    "labels": <final doc_id -> min-id cluster label table>}``.
    Replay parity with the batch twin is pytest-enforced.
    """
    from ..functions.dedup import minhash_signature_rows, sig_band_keys

    state: dict = {"bands": None, "labels": None, "decisions": [], "batch_id": 0}

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.localCheckpoint()
        if batch_df.rdd.isEmpty():
            return
        sig_new = minhash_signature_rows(batch_df, k, num_hashes)
        bnd_new = sig_band_keys(sig_new, bands, num_hashes).localCheckpoint()
        bnd_all = (
            bnd_new if state["bands"] is None else state["bands"].unionAll(bnd_new)
        )
        a = bnd_new.select(
            F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"), "band", "bkey"
        )
        b = bnd_all.select(
            F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"), "band", "bkey"
        )
        n_agree = F.expr(
            "aggregate(zip_with(a_sig, b_sig, (x, y) -> CAST(x = y AS INT)),"
            " 0L, (acc, v) -> acc + v)"
        )
        pairs = (
            a.join(b, ["band", "bkey"])
            .filter(F.col("a_id") != F.col("b_id"))
            .select(
                F.least("a_id", "b_id").alias("u"),
                F.greatest("a_id", "b_id").alias("v"),
                n_agree.alias("n_agree"),
            )
            .filter(F.col("n_agree") >= min_agree)
            .select("u", "v")
            .distinct()
            .localCheckpoint()
        )
        new_ids = batch_df.select(F.col("doc_id").alias("id")).distinct()
        labels = (
            new_ids.select("id", F.col("id").alias("label"))
            if state["labels"] is None
            else state["labels"].unionAll(
                new_ids.select("id", F.col("id").alias("label"))
            )
        )
        if not pairs.rdd.isEmpty():
            labels = _merge_components(labels, pairs)
        labels = labels.localCheckpoint()
        sizes = labels.groupBy("label").agg(F.count("*").alias("n"))
        decisions = (
            batch_df.select("doc_id")
            .join(labels, batch_df.doc_id == labels.id)
            .join(sizes, "label")
            .select(
                F.lit(state["batch_id"]).cast("long").alias("batch_id"),
                "doc_id",
                F.col("label").cast("long").alias("cluster_id"),
                F.col("n").cast("long").alias("cluster_size_so_far"),
                (F.col("doc_id") == F.col("label")).cast("long").alias("keep"),
            )
            .localCheckpoint()
        )
        state["decisions"].append(decisions)
        state["bands"] = bnd_all.localCheckpoint()
        state["labels"] = labels
        state["batch_id"] += 1

    reader = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(docs_path)
    q = (
        docs.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if not state["decisions"]:
        out = spark.createDataFrame(
            [],
            "batch_id long, doc_id long, cluster_id long,"
            " cluster_size_so_far long, keep long",
        )
    else:
        out = state["decisions"][0]
        for d in state["decisions"][1:]:
            out = out.unionAll(d)
    # NB: no temp-view registration — DataFrames built inside
    # foreachBatch belong to the micro-batch's CLONED session, whose
    # temp catalog is invisible to the caller's session; hand the
    # tables back directly instead
    final_labels = (
        state["labels"]
        if state["labels"] is not None
        else spark.createDataFrame([], "id long, label long")
    )
    return {"decisions": out, "labels": final_labels}
