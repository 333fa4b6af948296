"""Guarded dense-adjacency kernels for small, dense graph slices.

Several neighborhood-intersection operators (per-vertex triangle
counts, per-edge triangle support, Adamic–Adar link prediction, the
exact 2-hop ball sizes next to the ANF sketch, the 4-cycle census)
share one primitive: **intersections of neighbor sets**.  The wedge
join — two scans of the edge list joined on the shared endpoint — is
the right 100 TB shape (AQE-splittable, output-bounded), but its cost
is ``Σ deg²`` join-output rows, which on a *dense* graph explodes far
past the answer: the sf0.1 user-co-participation fixture has **1,500
vertices at 70 % density** (789 k canonical edges), so the wedge join
materializes 1.67 B rows (AA) / 527 M degree-oriented rows
(triangles) to describe a graph whose full boolean adjacency matrix
is 280 KB packed.

This module is the measured fast path for that regime: when
``nv ≤ DENSE_NV_MAX``, pack the adjacency into an ``nv × nv`` bitmap
(built distributed, collected once — bounded at 2 MB), broadcast it,
and compute neighbor intersections per task as **blocked integer
matrix products** — ``C = U[rows] @ Uᵀ`` with 0/1 float matrices.
Every entry and every partial sum is a small integer, far below the
2²⁴ (float32) / 2⁵³ (float64) exact-integer limits noted per kernel,
so results are bit-identical to the join formulation
(parity-tested in ``tests/test_densegraph.py``; same precedent as the
BLAS-exact centroid assignment in ``functions/simsearch.py``).

The guard makes the choice scale-adaptive: past ``DENSE_NV_MAX`` every
caller falls back to its existing wedge-join plan, which remains the
scale path.  Nothing is cached across calls — each invocation packs
from the input edges.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.bitsets import _index_map, packed_matrix
from .util import record_fast_path

#: max vertices for the dense path: packed matrix ≤ 2 MB broadcast,
#: unpacked float32 copy ≤ 67 MB per task, full-sweep matmul ≤ nv³
#: ≈ 7e10 flops split across tasks
DENSE_NV_MAX = 4096

#: tasks for the blocked sweep — few, fat blocks: each task unpacks
#: one float32 adjacency copy, so a small count bounds worker memory
_DENSE_TASKS = 8


class _DenseCtx:
    __slots__ = ("ids", "nv", "bc")

    def __init__(self, ids: DataFrame, nv: int, bc) -> None:
        self.ids = ids
        self.nv = nv
        self.bc = bc


def dense_ctx(edges: DataFrame, symmetric: bool = True) -> _DenseCtx | None:
    """Index + packed-bitmap adjacency for ``edges`` when the graph is
    small enough for the dense path, else ``None``.

    ``edges``: ``(src, dst)`` relation; ``symmetric=False`` packs both
    orientations of each row (canonical ``src < dst`` input).  The
    diagonal is always cleared (no self-loops in any consumer's
    semantics).  Vertex indices follow the ids' own ordering, so
    ``vi_a < vi_b ⇔ id_a < id_b``.
    """
    e = edges.select("src", "dst")
    verts = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    nv = verts.count()
    record_fast_path("dense", nv, not (nv == 0 or nv > DENSE_NV_MAX))
    if nv == 0 or nv > DENSE_NV_MAX:
        return None
    # driver-built index map over a guard-bounded collect (nv ≤ 4096)
    ids = _index_map(verts, "id", "vi").localCheckpoint()
    rel = e if symmetric else e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    enc = (
        rel.join(
            F.broadcast(ids.select(F.col("id").alias("src"), F.col("vi").alias("di"))),
            "src",
        )
        .join(
            F.broadcast(ids.select(F.col("id").alias("dst"), F.col("vi").alias("ii"))),
            "dst",
        )
        .select("di", "ii")
    )
    mat = packed_matrix(enc, nv, nv)
    # clear the diagonal: neighbor sets are open (no self-loops)
    w = np.arange(nv, dtype=np.int64)
    mat[w, w >> 6] &= ~(np.uint64(1) << (w & 63).astype(np.uint64))
    bc = e.sparkSession.sparkContext.broadcast(mat)
    return _DenseCtx(ids, nv, bc)


def _unpack(mat: np.ndarray, nv: int) -> np.ndarray:
    """Packed uint64 rows → float32 0/1 matrix (exact: entries 0/1)."""
    bits = np.unpackbits(
        mat.view(np.uint8).reshape(mat.shape[0], -1), axis=1, bitorder="little"
    )[:, :nv]
    return bits.astype(np.float32)


def _block_starts(spark, nv: int) -> DataFrame:
    """One row per sweep block — ``_DENSE_TASKS`` contiguous row
    ranges of the vertex index."""
    step = (nv + _DENSE_TASKS - 1) // _DENSE_TASKS
    rows = [(i, min(i + step, nv)) for i in range(0, nv, step)]
    return spark.createDataFrame(rows, "lo long, hi long").repartition(
        len(rows)
    )


def dense_triangles_per_vertex(ctx: _DenseCtx) -> DataFrame:
    """``(id, ntri)`` with the reference 2×-per-triangle convention:
    ``ntri(v) = Σ_w U[v,w]·(U@Uᵀ)[v,w]`` — ordered wedge closures.

    Exactness: ``C = U_block @ Uᵀ`` entries are common-neighbor counts
    ≤ nv ≤ 4096 with 0/1 partial sums — exact in float32 far below
    2²⁴; the row sum runs in float64 (each addend an integer ≤ 4096,
    total < 2⁵³).
    """
    bc, nv = ctx.bc, ctx.nv
    spark = ctx.ids.sparkSession

    def sweep(batches):
        import pandas as pd

        u = _unpack(bc.value, nv)
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                lo, hi = int(lo), int(hi)
                c = u[lo:hi] @ u.T
                ntri = (c * u[lo:hi]).sum(axis=1, dtype=np.float64)
                yield pd.DataFrame(
                    {
                        "vi": np.arange(lo, hi, dtype=np.int64),
                        "ntri": ntri.astype(np.int64),
                    }
                )

    out = _block_starts(spark, nv).mapInPandas(sweep, "vi long, ntri long")
    return out.join(F.broadcast(ctx.ids), "vi").select(
        "id", F.col("ntri").cast("long").alias("ntri")
    )


def dense_edge_support(ctx: _DenseCtx) -> DataFrame:
    """``(vi_src, vi_dst, sup)`` for every canonical (``vi_src <
    vi_dst``) adjacency bit: triangles through the edge =
    common-neighbor count of its endpoints (float32-exact, ≤ nv)."""
    bc, nv = ctx.bc, ctx.nv
    spark = ctx.ids.sparkSession

    def sweep(batches):
        import pandas as pd

        u = _unpack(bc.value, nv)
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                lo, hi = int(lo), int(hi)
                c = u[lo:hi] @ u.T
                adj = u[lo:hi] > 0
                # canonical orientation: only columns w > row index
                adj &= np.arange(nv)[None, :] > np.arange(lo, hi)[:, None]
                r, w = np.nonzero(adj)
                yield pd.DataFrame(
                    {
                        "ai": (r + lo).astype(np.int64),
                        "bi": w.astype(np.int64),
                        "sup": c[r, w].astype(np.int64),
                    }
                )

    out = _block_starts(spark, nv).mapInPandas(
        sweep, "ai long, bi long, sup long"
    )
    a = ctx.ids.select(F.col("id").alias("src"), F.col("vi").alias("ai"))
    b = ctx.ids.select(F.col("id").alias("dst"), F.col("vi").alias("bi"))
    return (
        out.join(F.broadcast(a), "ai")
        .join(F.broadcast(b), "bi")
        .select("src", "dst", F.col("sup").cast("long").alias("sup"))
    )


def dense_adamic_adar(ctx: _DenseCtx, terms: np.ndarray) -> DataFrame:
    """``(u, v, common_neighbors, aa_score_micro)`` for every
    non-adjacent pair ``u < v`` (by id order = index order) with ≥ 1
    common neighbor.

    ``terms[w]`` is the Spark-computed integer-micro AA term of vertex
    ``w`` (0 where deg < 2 — unreachable: every wedge center has
    deg ≥ 2).  Scores run as float64 products/sums of integers
    ≤ 4096 × 1.45 M < 2⁵³ — exact.
    """
    bc, nv = ctx.bc, ctx.nv
    spark = ctx.ids.sparkSession
    t = terms.astype(np.float64)

    def sweep(batches):
        import pandas as pd

        u = _unpack(bc.value, nv)
        ut = u * t[None, :]
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                lo, hi = int(lo), int(hi)
                c = (u[lo:hi] @ u.T).astype(np.int64)
                s = u[lo:hi].astype(np.float64) @ ut.T
                keep = (c >= 1) & (u[lo:hi] == 0)
                keep &= np.arange(nv)[None, :] > np.arange(lo, hi)[:, None]
                r, w = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "ai": (r + lo).astype(np.int64),
                        "bi": w.astype(np.int64),
                        "cn": c[r, w],
                        "aa": s[r, w].astype(np.int64),
                    }
                )

    out = _block_starts(spark, nv).mapInPandas(
        sweep, "ai long, bi long, cn long, aa long"
    )
    a = ctx.ids.select(F.col("id").alias("u"), F.col("vi").alias("ai"))
    b = ctx.ids.select(F.col("id").alias("v"), F.col("vi").alias("bi"))
    return (
        out.join(F.broadcast(a), "ai")
        .join(F.broadcast(b), "bi")
        .select(
            "u",
            "v",
            F.col("cn").cast("long").alias("common_neighbors"),
            F.col("aa").cast("long").alias("aa_score_micro"),
        )
    )


def dense_two_hop_sizes(ctx: _DenseCtx) -> DataFrame:
    """``(id, n_ball2_exact)`` — ``|{v} ∪ N(v) ∪ N²(v)|`` per vertex:
    one blocked product of the closed adjacency ``(U + I)``, then a
    non-zero row count (counts ≤ nv + 1, float32-exact)."""
    bc, nv = ctx.bc, ctx.nv
    spark = ctx.ids.sparkSession

    def sweep(batches):
        import pandas as pd

        u = _unpack(bc.value, nv)
        idx = np.arange(nv)
        u[idx, idx] = 1.0  # closed neighborhood
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                lo, hi = int(lo), int(hi)
                ball = (u[lo:hi] @ u.T) > 0
                yield pd.DataFrame(
                    {
                        "vi": np.arange(lo, hi, dtype=np.int64),
                        "n": ball.sum(axis=1, dtype=np.int64),
                    }
                )

    out = _block_starts(spark, nv).mapInPandas(sweep, "vi long, n long")
    return out.join(F.broadcast(ctx.ids), "vi").select(
        "id", F.col("n").cast("long").alias("n_ball2_exact")
    )


def dense_codegree_stats(ctx: _DenseCtx) -> DataFrame:
    """``(n_4cycles, n_codeg_pairs)`` — the global 4-cycle census:
    over unordered vertex pairs ``u < v`` with co-degree ``c``,
    ``n_codeg_pairs = Σ C(c, 2)`` and ``n_4cycles = Σ C(c, 2) / 2``.
    Per-block partial sums are exact int64."""
    bc, nv = ctx.bc, ctx.nv
    spark = ctx.ids.sparkSession

    def sweep(batches):
        import pandas as pd

        u = _unpack(bc.value, nv)
        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                lo, hi = int(lo), int(hi)
                c = (u[lo:hi] @ u.T).astype(np.int64)
                c *= np.arange(nv)[None, :] > np.arange(lo, hi)[:, None]
                part = int((c * (c - 1) // 2).sum())
                yield pd.DataFrame({"part": [part]})

    parts = _block_starts(spark, nv).mapInPandas(sweep, "part long")
    return parts.agg(
        (F.sum("part") / 2).cast("long").alias("n_4cycles"),
        F.sum("part").cast("long").alias("n_codeg_pairs"),
    )
