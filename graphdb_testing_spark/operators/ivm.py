"""Incremental view maintenance — delta propagation for joins.

The reference maintains derived state incrementally under its action
stream (STINGER's in-place edge updates; ``stinger-workflow`` algs
recompute per batch).  The relational counterpart is the classic
delta rule for an inner join (Blakeley et al., "Efficiently Updating
Materialized Views", SIGMOD '86)::

    Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

so a 100 TB join view never re-reads its base tables: each micro-batch
joins only against the (small) delta on one side.  Combined with
:func:`~graphdb_testing_spark.operators.updates.merge_rollup` (the
partial-aggregate merge law) this maintains join→aggregate pipelines
end-to-end.

Scale design: both base relations stay partitioned on the join key
(bucketed storage via :mod:`~graphdb_testing_spark.sources.bucketed`
makes the ΔA ⋈ B probe Exchange-free); the delta sides are
broadcast — they are micro-batches, orders of magnitude smaller than
the bases.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def join_delta(
    a: DataFrame,
    delta_a: DataFrame,
    b: DataFrame,
    delta_b: DataFrame,
    on: Sequence[str],
) -> DataFrame:
    """Insert-delta of the inner join ``a ⋈ b`` when ``delta_a`` /
    ``delta_b`` rows are appended: ``ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB``.

    Returns exactly the rows that ``(a ∪ ΔA) ⋈ (b ∪ ΔB)`` gains over
    ``a ⋈ b`` (bag semantics — duplicates preserved, like the join
    itself).  The delta sides are broadcast; the base sides keep
    their partitioning.
    """
    on = list(on)
    da = F.broadcast(delta_a)
    db = F.broadcast(delta_b)
    part1 = da.join(b, on)
    part2 = a.join(db, on)
    part3 = da.join(db, on)
    return part1.unionByName(part2).unionByName(part3)

