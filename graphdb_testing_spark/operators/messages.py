"""Generic message aggregation — the vertex-program primitive.

The reference's BSP backends express every kernel as a vertex program
exchanging combined messages: Bagel ``compute + Combiner``
(``tests/bagel/.../App.scala:208-268``), Giraph ``compute()``
(``SimplePageRankComputation.java:69-114``), Pegasus's map/reduce
stages.  One superstep is always the same dataflow — join vertex
state onto edges, emit a message per edge endpoint, combine messages
per target — which is the GraphFrames ``AggregateMessages`` pattern
(SURVEY.md §2.9), expressed here directly on DataFrames.

Every iterative kernel in this package is a specialization of this
shape; the fused forms there (pre-divided rank, degree carried on the
edge relation) are what you get after inlining this helper and
optimizing.  This generic version is the extension surface for NEW
vertex programs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .util import state_hint

#: Column-expression namespaces usable inside ``to_dst`` / ``to_src``
#: message expressions: edge columns bare (``src``, ``dst``, ``wgt``,
#: ...), source-vertex attributes as ``src_<attr>``, destination-
#: vertex attributes as ``dst_<attr>``.


def aggregate_messages(
    edges: DataFrame,
    vertices: DataFrame,
    agg: Column,
    to_dst: Column | None = None,
    to_src: Column | None = None,
    nv: int | None = None,
) -> DataFrame:
    """One superstep: emit a message along every edge, combine per
    target vertex.  Returns ``(id, <agg aliases>)``.

    ``vertices`` is ``(id, attrs...)`` state; ``to_dst`` / ``to_src``
    are message expressions evaluated per edge row (at least one
    required) over the edge's bare columns plus ``src_*`` / ``dst_*``
    vertex attributes; messages land in a column named ``msg`` that
    ``agg`` (any aggregate expression, e.g. ``F.sum("msg")``,
    ``F.min("msg")``) combines per receiving vertex — the Bagel/
    Giraph combiner, which Catalyst executes as partial (map-side) +
    final aggregation.

    ``nv`` hints the vertex-state row count for join-strategy choice
    (a checkpointed state keeps its origin plan's size estimate, for a
    join the product of its sides): broadcast when small,
    shuffle-hash otherwise — see :data:`util.BROADCAST_STATE_MAX_ROWS`.

    Scale shape: each vertex-attribute join is state-sized (O(nv)),
    the message aggregate shuffles only map-combined partials, and the
    big edge relation is never repartitioned — the same plan the
    hand-fused kernels use, minus their kernel-specific algebra.
    """
    if to_dst is None and to_src is None:
        raise ValueError("at least one of to_dst / to_src is required")

    attrs = [c for c in vertices.columns if c != "id"]

    def _with_vertex(e: DataFrame, side: str, needed: bool) -> DataFrame:
        if not needed:
            return e
        v = vertices.select(
            F.col("id").alias(f"__{side}_id"),
            *[F.col(a).alias(f"{side}_{a}") for a in attrs],
        )
        return e.join(state_hint(v, nv), F.col(side) == F.col(f"__{side}_id")).drop(
            f"__{side}_id"
        )

    def _uses(expr: Column | None, side: str) -> bool:
        # joining both sides is always correct; skipping an unused
        # side saves a state join, detected from the expression tree
        if expr is None:
            return False
        return f"{side}_" in str(expr)

    need_src = _uses(to_dst, "src") or _uses(to_src, "src")
    need_dst = _uses(to_dst, "dst") or _uses(to_src, "dst")
    e = _with_vertex(_with_vertex(edges, "src", need_src), "dst", need_dst)

    parts = []
    if to_dst is not None:
        parts.append(e.select(F.col("dst").alias("id"), to_dst.alias("msg")))
    if to_src is not None:
        parts.append(e.select(F.col("src").alias("id"), to_src.alias("msg")))
    msgs = parts[0] if len(parts) == 1 else parts[0].unionAll(parts[1])
    return msgs.groupBy("id").agg(agg)
