"""Connected components — Shiloach-Vishkin-style min-label propagation.

Reference semantics (SURVEY.md §2.4): init ``label[v] = v``; repeat
{ propagate the minimum label across every edge; pointer-jump
``label[v] := label[label[v]]`` } until fixpoint; component count =
number of distinct labels.  (Reference
``tests/stinger/src/alg/static_components.c:6-54``; relational form
``tests/sqlite/test.c:157-187``; BSP form
``tests/bagel/.../App.scala:208-220``.)

Spark-first design
------------------
* One round = ``relation ⋈ labels`` on ``dst`` → ``groupBy(src).min``
  over the constant relation ``edges ∪ self-loops``; the self-loop row
  carries a vertex's own label, so the label state is referenced once
  per round (:func:`~graphdb_testing_spark.operators.util.min_round`).
  When the labels are broadcast, the relation is hash-partitioned on
  ``src`` and persisted once, so a round is one narrow stage with no
  exchange (:func:`~graphdb_testing_spark.operators.util.round_layout`).
* Semi-naive (broadcast labels): the state carries an ``active`` flag
  (label dropped in the last round), a round keeps only self-loop rows
  and rows from active senders — the same integer fixpoint from fewer
  joined rows — and the loop stops when a chunk plus its jump leaves
  no vertex active, counted in the chunk's ``localCheckpoint`` job.
* Shuffled labels (above the broadcast threshold) and the
  ``dst_partitioned`` layout keep the naive rounds and stop when a
  chunk leaves ``SUM(label)`` unchanged.
* Pointer-jumping (labels self-join) once per chunk halves the round
  count on high-diameter graphs, same as the reference's jump step.
* ``localCheckpoint`` every ``unroll`` rounds truncates lineage (the
  Spark analog of Pegasus's per-stage HDFS materialization,
  ``tests/pegasus/sssp/SSSP.java:302-310``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import (
    broadcasts,
    checkpoint_active,
    local_input,
    min_round,
    record_fast_path,
    self_loop_relation,
    state_hint,
    vertex_ids,
)

#: edge-row bound for the single-task fast path (~16 B/row ⇒ ≤128 MB
#: in one task); past it the unrolled DataFrame loop runs
LOCAL_NE_MAX = 8_000_000


def _local_components(e: DataFrame) -> DataFrame:
    """Single-Arrow-task min-label fixpoint over a bounded-size
    symmetric edge table: NumPy min-scatter rounds + full pointer-jump
    closure per round.  The fixpoint (label = component min id) is
    structurally determined, so the output is bit-identical to the
    DataFrame loop's — integer labels carry no float-order risk.
    The edge table flows to the task through Spark; the driver never
    holds edge data."""

    def run(batches):
        import numpy as np
        import pandas as pd

        srcs: list = []
        dsts: list = []
        for pdf in batches:
            srcs.append(pdf["src"].to_numpy(dtype=np.int64))
            dsts.append(pdf["dst"].to_numpy(dtype=np.int64))
        src = np.concatenate(srcs) if srcs else np.empty(0, np.int64)
        dst = np.concatenate(dsts) if dsts else np.empty(0, np.int64)
        ids = np.unique(src)  # symmetric: src covers every vertex
        si = np.searchsorted(ids, src)
        di = np.searchsorted(ids, dst)
        if dst.size and not (
            (di < ids.size).all()
            and (ids[np.minimum(di, ids.size - 1)] == dst).all()
        ):
            raise ValueError(
                "edge table is not symmetric: a dst vertex never "
                "appears as src"
            )
        lab = np.arange(ids.size, dtype=np.int64)
        while True:
            m = lab.copy()
            np.minimum.at(m, si, lab[di])
            np.minimum(m, lab, out=m)
            while True:  # pointer-jump to closure
                mm = m[m]
                if np.array_equal(mm, m):
                    break
                m = mm
            if np.array_equal(m, lab):
                break
            lab = m
        yield pd.DataFrame({"id": ids, "label": ids[lab]})

    return local_input(e).coalesce(1).mapInPandas(run, "id long, label long")


def connected_components(
    edges: DataFrame,
    max_iter: int = 100,
    unroll: int = 4,  # chunk-end pointer jump collapses chains, so
    # low-diameter graphs converge in 1-2 chunks; linear plan growth
    # makes larger unrolls safe for high-diameter graphs
    pointer_jump: bool = True,
    dst_partitioned: bool = False,
) -> DataFrame:
    """``(id, label)`` where ``label`` = min vertex id in the component.

    ``edges`` must be symmetric (every edge present in both
    directions), as produced by :func:`graph.symmetrize`.

    The propagation round references the evolving label state exactly
    ONCE: self-loop edges are appended to the (constant) edge relation
    so ``min over neighbors`` includes the vertex's own label, and the
    round is a single ``join + groupBy.min`` with no merge-back join.
    One self-reference per round ⇒ the unrolled lazy plan grows
    **linearly** in ``unroll`` (a state-referenced-twice formulation
    grows 2^k and stalls Catalyst beyond a handful of rounds).  With
    broadcast labels only vertices whose label dropped in the previous
    round send messages.

    Pointer jumping (``label[v] := label[label[v]]``,
    ``static_components.c:30-37``) runs once per chunk on the
    checkpointed labels, where the self-join costs O(1) plan size —
    it collapses chains on high-diameter graphs without paying the
    exponential in-chunk plan tax.

    Convergence: with broadcast labels the loop stops after the first
    chunk (plus jump) that leaves no vertex active — labels only ever
    decrease, so no active vertex ⇔ fixpoint; otherwise see
    :func:`_sum_test_loop`.  Ids that all fit int32 run the loop on int
    keys; the output is cast back to the input type.
    """
    ne = edges.count()
    record_fast_path("components", not dst_partitioned and ne <= LOCAL_NE_MAX)
    if not dst_partitioned and ne <= LOCAL_NE_MAX:
        # guarded single-task fast path (round-10): the per-round cost
        # at sf0.1 is stage scheduling + AQE re-planning for tiny
        # shuffles, not compute.  The fixpoint is the same min-id
        # labeling either way (max_iter is a safety valve both paths
        # share only in the non-converged regime, which the 100-round
        # default never reaches on a graph small enough for this
        # guard).  Parity-tested in tests/test_components_local.py;
        # cluster-scale graphs take the unrolled loop below.
        return _local_components(edges.select("src", "dst"))
    id_type = edges.schema["src"].dataType.simpleString()
    ids, nv, key = vertex_ids(edges)
    rel = self_loop_relation(edges, ids, key, ne, nv, dst_partitioned=dst_partitioned)
    labels = ids.select(
        F.col("id").cast(key).alias("id"), F.col("id").cast(key).alias("label")
    )
    if dst_partitioned or not broadcasts(nv):
        labels = _sum_test_loop(rel, labels, nv, max_iter, unroll, pointer_jump)
    else:
        labels = labels.withColumn("active", F.lit(True))
        done = 0
        while done < max_iter:
            k = min(unroll, max_iter - done)
            chunk_start = labels
            for _ in range(k):
                labels = min_round(rel, labels, nv, "label", 0)
            if pointer_jump:
                labels = _pointer_jump(labels.localCheckpoint(), nv)
            labels, active = checkpoint_active(labels)
            chunk_start.unpersist()
            done += k
            if active == 0:
                break
    ids.unpersist()
    rel.unpersist()
    return labels.select(
        F.col("id").cast(id_type).alias("id"),
        F.col("label").cast(id_type).alias("label"),
    )


def _pointer_jump(labels: DataFrame, nv: int) -> DataFrame:
    """``label[v] := label[label[v]]`` on materialized labels (O(1) plan
    size here); with an ``active`` column, a vertex whose label drops
    becomes active."""
    parents = labels.select(F.col("id").alias("p_id"), F.col("label").alias("p_label"))
    cols = ["id", F.coalesce("p_label", "label").alias("label")]
    if "active" in labels.columns:
        jumped = F.coalesce(F.col("p_label") < F.col("label"), F.lit(False))
        cols.append((F.col("active") | jumped).alias("active"))
    return labels.join(
        state_hint(parents, nv), labels.label == parents.p_id, "left"
    ).select(*cols)


def _sum_test_loop(
    rel: DataFrame,
    labels: DataFrame,
    nv: int,
    max_iter: int,
    unroll: int,
    pointer_jump: bool,
) -> DataFrame:
    """The naive loop, kept for a shuffled label state (``nv`` above the
    broadcast threshold) and for the ``dst_partitioned`` layout, where
    the semi-naive rounds are not measured: every round joins the whole
    relation, and the loop stops when a chunk leaves ``SUM(label)``
    unchanged (labels only decrease, so an unchanged sum ⇔ fixpoint;
    aggregated as ``DECIMAL(38,0)`` so 2^63-scale ids cannot overflow —
    the convergence scalar of ``tests/sqlite/test.c:180``)."""

    def label_sum(df: DataFrame):
        s = df.agg(F.sum(F.col("label").cast("decimal(38,0)")).alias("s"))
        return s.collect()[0]["s"]

    prev_sum = label_sum(labels)
    done = 0
    while done < max_iter:
        k = min(unroll, max_iter - done)
        chunk_start = labels
        for _ in range(k):
            labels = (
                rel.join(state_hint(labels, nv), rel.dst == labels.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.min("label").alias("label"))
            )
        labels = labels.localCheckpoint()
        if pointer_jump:
            labels = _pointer_jump(labels, nv).localCheckpoint()
        done += k
        cur_sum = label_sum(labels)
        chunk_start.unpersist()
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def component_count(labels: DataFrame) -> int:
    """Number of components (reference counts roots ``label[v]==v``,
    ``static_components.c:43-53``; equivalently distinct labels,
    ``tests/sqlite/test.c:180``)."""
    return labels.select("label").distinct().count()


def component_sizes(labels: DataFrame) -> DataFrame:
    """``(label, size)`` histogram of component sizes (reference
    histogram sink, ``src/util/histogram.c``)."""
    return labels.groupBy("label").agg(F.count("*").alias("size"))
