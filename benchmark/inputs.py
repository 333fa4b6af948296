"""Seeded input generation for the benchmark workloads.

Everything here is plain NumPy + pyarrow: the program under test
receives only the files written here, so a change to the program can
never change the benchmark's inputs.  Inputs are cached under
``benchmark/.cache`` keyed by their parameters and by a hash of this
file, so a generator change regenerates them.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")

#: R-MAT quadrant probabilities (Graph500 / rmatter defaults)
RMAT_ABCD = (0.55, 0.10, 0.10, 0.25)


def _source_hash() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def _cached_dir(kind: str, **params) -> tuple[str, bool]:
    """``(path, ready)`` for a cache entry; ``ready`` once its
    ``_DONE`` marker exists (written last, so a killed generator never
    leaves a half-written entry that looks complete)."""
    key = "-".join(f"{k}{v}" for k, v in sorted(params.items()))
    path = os.path.join(CACHE, f"{kind}-{key}-{_source_hash()}")
    return path, os.path.isfile(os.path.join(path, "_DONE"))


def _publish(tmp: str, path: str) -> None:
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


# ---------------------------------------------------------------------------
# relational tables for the suite workload (TPC-H-ish lineitem, events,
# documents; the only tables the suite's kernels read)
# ---------------------------------------------------------------------------

#: rows per unit of scale factor, matching the repo's testdata shape
_LINEITEM_PER_SF = 6_000_000
_EVENTS_PER_SF = 1_000_000
_USERS_PER_SF = 15_000
_PARTS_PER_SF = 200_000
_SUPPLIERS_PER_SF = 10_000
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join shuffle graph edge vertex rank label "
    "stream query plan cache index"
).split()


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _lineitem(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(_LINEITEM_PER_SF * sf)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n), 2)
    day_us = 86_400 * 1_000_000
    return pa.table(
        {
            "l_orderkey": rng.integers(1, max(2, n // 4), n),
            "l_partkey": rng.integers(1, int(_PARTS_PER_SF * sf) + 1, n),
            "l_suppkey": rng.integers(1, int(_SUPPLIERS_PER_SF * sf) + 1, n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), type=pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            # 1992-01-01 .. 1998-12-31, so the Q1 ship-date cut matters
            "l_shipdate": _ts_us("1992-01-01", rng.integers(0, 2557, n) * day_us),
        }
    )


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    n = int(_EVENTS_PER_SF * sf)
    span_us = 30 * 86_400 * 1_000_000
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, span_us, n))),
            "user_id": rng.integers(0, max(2, int(_USERS_PER_SF * sf)), n),
            "event_type": pa.array(
                np.array(_EVENT_TYPES)[rng.integers(0, len(_EVENT_TYPES), n)]
            ),
            "value": np.round(rng.exponential(20.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents with injected near-duplicates: every fifth
    document copies an earlier original with one word changed, so the
    MinHash pipelines have a like number of real pairs for every seed."""
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i % 5 == 4:
            k = int(rng.integers(0, i // 5 * 4 + 4))  # the k-th original so far
            words = texts[k // 4 * 5 + k % 4].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        else:
            words = list(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 60)))])
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(np.array(_LANGS)[rng.integers(0, len(_LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def suite_tables(sf: float, n_docs: int, seed: int) -> str:
    """Directory of ``lineitem``/``events``/``documents`` parquet files
    for one scale factor and seed (generated once, then cached)."""
    path, ready = _cached_dir("suite", sf=sf, docs=n_docs, seed=seed)
    if ready:
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    pq.write_table(_lineitem(rng, sf), os.path.join(tmp, "lineitem.parquet"))
    pq.write_table(_events(rng, sf), os.path.join(tmp, "events.parquet"))
    pq.write_table(_documents(rng, n_docs), os.path.join(tmp, "documents.parquet"))
    _publish(tmp, path)
    return path


# ---------------------------------------------------------------------------
# R-MAT graph + action stream for the fixpoint and trickle workloads
# ---------------------------------------------------------------------------


@dataclass
class RmatGraph:
    path: str  # parquet directory: symmetric (src, dst, wgt), no self-loops
    src: np.ndarray
    dst: np.ndarray
    wgt: np.ndarray

    @property
    def ne(self) -> int:
        return int(self.src.size)


def _rmat_edges(rng: np.random.Generator, scale: int, edge_factor: int):
    ne = (1 << scale) * edge_factor
    a, b, c, _ = RMAT_ABCD
    src = np.zeros(ne, dtype=np.int64)
    dst = np.zeros(ne, dtype=np.int64)
    for _ in range(scale):
        u = rng.random(ne)
        src = src * 2 + (u >= a + b)
        dst = dst * 2 + (((u >= a) & (u < a + b)) | (u >= a + b + c))
    # symmetrize, drop self-loops, weight = multiplicity
    s = np.concatenate([src, dst])
    d = np.concatenate([dst, src])
    keep = s != d
    key = (s[keep] << scale) | d[keep]
    uk, cnt = np.unique(key, return_counts=True)
    return uk >> scale, uk & ((1 << scale) - 1), cnt.astype(np.int64)


def rmat_graph(scale: int, edge_factor: int, seed: int) -> RmatGraph:
    path, ready = _cached_dir("rmat", scale=scale, ef=edge_factor, seed=seed)
    if not ready:
        tmp = f"{path}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        src, dst, wgt = _rmat_edges(np.random.default_rng([seed, 2]), scale, edge_factor)
        # a few row groups, so Spark reads the file with several tasks
        pq.write_table(
            pa.table({"src": src, "dst": dst, "wgt": wgt}),
            os.path.join(tmp, "part-0.parquet"),
            row_group_size=max(1, src.size // 8),
        )
        _publish(tmp, path)
    t = pq.read_table(os.path.join(path, "part-0.parquet"))
    return RmatGraph(
        path=path,
        src=t.column("src").to_numpy(),
        dst=t.column("dst").to_numpy(),
        wgt=t.column("wgt").to_numpy(),
    )


def rmat_actions(
    scale: int, sizes: list[int], seed: int, p_delete: float = 1.0 / 16.0
) -> list[np.ndarray]:
    """Action batches ``(seq, src, dst, weight)`` over ``2^scale``
    vertices, deletions complement-encoded (``~x``) with probability
    ``p_delete``; ``seq`` runs on across batches.  Half of each batch
    re-hits existing-looking R-MAT hubs (low ids), half is uniform."""
    rng = np.random.default_rng([seed, 3])
    nv = 1 << scale
    out: list[np.ndarray] = []
    seq0 = 0
    for n in sizes:
        i = rng.integers(0, nv, n)
        j = rng.integers(0, nv, n)
        hub = rng.random(n) < 0.5
        i[hub] = rng.integers(0, max(2, nv >> 6), int(hub.sum()))
        dele = rng.random(n) < p_delete
        i = np.where(dele, -i - 1, i)
        j = np.where(dele, -j - 1, j)
        seq = np.arange(seq0, seq0 + n, dtype=np.int64)
        seq0 += n
        out.append(np.stack([seq, i, j, np.ones(n, dtype=np.int64)], axis=1))
    return out
