"""Connected components — Shiloach-Vishkin-style min-label propagation.

Reference semantics (SURVEY.md §2.4): init ``label[v] = v``; repeat
{ propagate the minimum label across every edge; pointer-jump
``label[v] := label[label[v]]`` } until fixpoint; component count =
number of distinct labels.  (Reference
``tests/stinger/src/alg/static_components.c:6-54``; relational form
``tests/sqlite/test.c:157-187``; BSP form
``tests/bagel/.../App.scala:208-220``.)

One semiring spec, two executors
--------------------------------
CC is the ``(min, + 0)`` semiring over the symmetric edges, seeded
with ``label[v] = v`` and followed by a pointer jump.  Below the size
guard (:func:`~graphdb_testing_spark.operators.util.single_task`) it
runs in one task as the NumPy loop
:func:`~graphdb_testing_spark.operators.util.np_fixpoint` on vertex
positions, with the jump to closure after every round; above it, as
the distributed rounds below.  Both are semi-naive and reach the same
min-id labels.

* One round = ``relation ⋈ labels`` on ``dst`` → ``groupBy(src).min``
  over the constant relation ``edges ∪ self-loops``; the self-loop row
  carries a vertex's own label, so the label state is referenced once
  per round (:func:`~graphdb_testing_spark.operators.util.semiring_round`
  with ``min`` and ``+ 0``).
  When the labels are broadcast, the relation is hash-partitioned on
  ``src`` and persisted once, so a round is one narrow stage with no
  exchange (:func:`~graphdb_testing_spark.operators.util.round_layout`).
* Semi-naive: the state carries an ``active`` flag (label dropped in
  the last round), a round keeps only self-loop rows and rows from
  active senders — the same integer fixpoint from fewer joined rows —
  and the loop stops when a chunk plus its jump leaves no vertex
  active, counted in the chunk's ``localCheckpoint`` job.  One loop
  serves broadcast and shuffled labels alike.
* Pointer-jumping (labels self-join) once per chunk halves the round
  count on high-diameter graphs, same as the reference's jump step.
* ``localCheckpoint`` every ``util.CHUNK_ROUNDS`` rounds truncates
  lineage, in the one chunk loop of every fixpoint kernel
  (:func:`~graphdb_testing_spark.operators.util.fixpoint`; the
  pointer jump is its per-chunk hook): the Spark analog of Pegasus's
  per-stage HDFS materialization (``tests/pegasus/sssp/SSSP.java:302-310``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .util import (
    fixpoint,
    map_single_task,
    np_edges,
    np_fixpoint,
    self_loop_relation,
    semiring_round,
    single_task,
    state_hint,
    vertex_ids,
)


def _local_components(e: DataFrame) -> DataFrame:
    """Single-Arrow-task min-label fixpoint over a bounded-size
    symmetric edge table: the ``(min, + 0)`` rounds of
    :func:`~graphdb_testing_spark.operators.util.np_fixpoint` on vertex
    positions, with a full pointer-jump closure after each round.  The
    fixpoint (label = component min id) is structurally determined, so
    the output is bit-identical to the DataFrame loop's."""

    def run(batches):
        import numpy as np
        import pandas as pd

        ids, si, di = np_edges(batches)
        lab = np_fixpoint(
            si, di, np.arange(ids.size), lambda v, e: v, np.minimum, ids.size, after_round=_closure
        )
        yield pd.DataFrame({"id": ids, "label": ids[lab]})

    return map_single_task(e, run, "id long, label long")


def _closure(lab):
    """Pointer-jump ``lab[v] := lab[lab[v]]`` to closure."""
    import numpy as np

    while True:
        jumped = lab[lab]
        if np.array_equal(jumped, lab):
            return lab
        lab = jumped


def connected_components(edges: DataFrame) -> DataFrame:
    """``(id, label)`` where ``label`` = min vertex id in the component.

    ``edges`` must be symmetric (every edge present in both
    directions), as produced by :func:`graph.symmetrize`.

    The propagation round references the evolving label state exactly
    ONCE: self-loop edges are appended to the (constant) edge relation
    so ``min over neighbors`` includes the vertex's own label, and the
    round is a single ``join + groupBy.min`` with no merge-back join.
    One self-reference per round ⇒ the unrolled lazy plan grows
    **linearly** in the chunk length (a state-referenced-twice formulation
    grows 2^k and stalls Catalyst beyond a handful of rounds).  Only
    vertices whose label dropped in the previous round send messages.

    Pointer jumping (``label[v] := label[label[v]]``,
    ``static_components.c:30-37``) runs once per chunk on the
    checkpointed labels, where the self-join costs O(1) plan size —
    it collapses chains on high-diameter graphs without paying the
    exponential in-chunk plan tax.

    Convergence: the loop stops after the first chunk (plus jump) that
    leaves no vertex active — labels only ever decrease, so no active
    vertex ⇔ fixpoint.  Ids that all fit int32 run the loop on int
    keys; the output is cast back to the input type.
    """
    ne = edges.count()
    if single_task("components", ne):
        # single-task side: the per-round cost at sf0.1 is stage
        # scheduling, not compute.  The fixpoint is the same min-id
        # labeling either way (the distributed loop's 100-round bound
        # is a safety valve never reached on a graph this small)
        return _local_components(edges.select("src", "dst"))
    id_type = edges.schema["src"].dataType.simpleString()
    ids, nv, key = vertex_ids(edges)
    rel = self_loop_relation(edges.select("src", "dst"), ids, key, ne, nv)
    labels = ids.select(
        F.col("id").cast(key).alias("id"),
        F.col("id").cast(key).alias("label"),
        F.lit(True).alias("active"),
    )
    labels = fixpoint(
        lambda st: semiring_round(rel, st, nv, "label", lambda v: v + 0),
        labels,
        100,
        lambda st, _: _pointer_jump(st.localCheckpoint(), nv),
    )
    ids.unpersist()
    rel.unpersist()
    return labels.select(
        F.col("id").cast(id_type).alias("id"),
        F.col("label").cast(id_type).alias("label"),
    )


def _pointer_jump(labels: DataFrame, nv: int) -> DataFrame:
    """``label[v] := label[label[v]]`` on materialized labels (O(1) plan
    size here); a vertex whose label drops becomes active."""
    parents = labels.select(F.col("id").alias("p_id"), F.col("label").alias("p_label"))
    jumped = F.coalesce(F.col("p_label") < F.col("label"), F.lit(False))
    return labels.join(
        state_hint(parents, nv), labels.label == parents.p_id, "left"
    ).select(
        "id",
        F.coalesce("p_label", "label").alias("label"),
        (F.col("active") | jumped).alias("active"),
    )


def component_count(labels: DataFrame) -> int:
    """Number of components (reference counts roots ``label[v]==v``,
    ``static_components.c:43-53``; equivalently distinct labels,
    ``tests/sqlite/test.c:180``)."""
    return labels.select("label").distinct().count()


def component_sizes(labels: DataFrame) -> DataFrame:
    """``(label, size)`` histogram of component sizes (reference
    histogram sink, ``src/util/histogram.c``)."""
    return labels.groupBy("label").agg(F.count("*").alias("size"))
