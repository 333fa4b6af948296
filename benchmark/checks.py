"""Correctness oracles, independent of the program under test.

Graph kernels are checked against NumPy implementations written here;
the relational and text queries against the DuckDB SQL the program
registers for them.  Every check returns ``None`` on success or a
one-line reason on failure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def _index(src: np.ndarray, dst: np.ndarray):
    """Vertex ids plus CSR arrays (by src) of a symmetric edge list."""
    ids = np.unique(src)
    order = np.lexsort((dst, src))
    si = np.searchsorted(ids, src[order])
    di = np.searchsorted(ids, dst[order])
    starts = np.searchsorted(si, np.arange(ids.size + 1))
    return ids, si, di, starts


def cc_labels(src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    """``(id, label)`` with label = minimum vertex id of the component."""
    ids, si, di, _ = _index(src, dst)
    lab = np.arange(ids.size)
    while True:
        m = lab.copy()
        np.minimum.at(m, si, lab[di])
        while True:  # pointer-jump to closure
            mm = m[m]
            if np.array_equal(mm, m):
                break
            m = mm
        if np.array_equal(m, lab):
            return pd.DataFrame({"id": ids, "label": ids[lab]})
        lab = m


def bfs_dist(src: np.ndarray, dst: np.ndarray, root: int) -> pd.DataFrame:
    """``(id, dist)`` hop distances from ``root``; unreachable absent."""
    ids, _, di, starts = _index(src, dst)
    dist = np.full(ids.size, -1, dtype=np.int64)
    r = np.searchsorted(ids, root)
    if r >= ids.size or ids[r] != root:
        return pd.DataFrame({"id": [root], "dist": [0]})
    dist[r] = 0
    frontier = np.array([r])
    level = 0
    while frontier.size:
        level += 1
        nbr = np.concatenate([di[starts[v]:starts[v + 1]] for v in frontier])
        nbr = np.unique(nbr[dist[nbr] < 0])
        dist[nbr] = level
        frontier = nbr
    keep = dist >= 0
    return pd.DataFrame({"id": ids[keep], "dist": dist[keep]})


def pagerank_step(src, dst, ids, pr, damping=0.85):
    """One synchronous PageRank round over a symmetric edge list."""
    si = np.searchsorted(ids, src)
    di = np.searchsorted(ids, dst)
    deg = np.bincount(si, minlength=ids.size).astype(np.float64)
    msg = np.bincount(si, weights=(pr / deg)[di], minlength=ids.size)
    return (1.0 - damping) / ids.size + damping * msg


def pagerank_fixed(src, dst, num_iter: int) -> pd.DataFrame:
    ids = np.unique(src)
    pr = np.full(ids.size, 1.0 / ids.size)
    for _ in range(num_iter):
        pr = pagerank_step(src, dst, ids, pr)
    return pd.DataFrame({"id": ids, "pr": pr})


def triangles(src: np.ndarray, dst: np.ndarray) -> pd.DataFrame:
    """``(id, ntri)`` per vertex via a dense adjacency cube (small
    graphs only); ``ntri`` counts each triangle twice, as the
    program's convention (closed 3-walks) does."""
    ids = np.unique(src)
    a = np.zeros((ids.size, ids.size), dtype=np.float64)
    a[np.searchsorted(ids, src), np.searchsorted(ids, dst)] = 1.0
    ntri = np.rint(np.einsum("ij,ji->i", a @ a, a)).astype(np.int64)
    return pd.DataFrame({"id": ids, "ntri": ntri})


# ---------------------------------------------------------------------------
# comparisons
# ---------------------------------------------------------------------------


def same_rows(got: pd.DataFrame, want: pd.DataFrame, tol: float = 0.0) -> str | None:
    """Multiset equality of two tables over ``want``'s columns; float
    columns compare within ``tol`` (relative, with a 1e-9 floor)."""
    cols = list(want.columns)
    if set(cols) - set(got.columns):
        return f"missing columns {sorted(set(cols) - set(got.columns))}"
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    g = got[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    w = want[cols].sort_values(cols, kind="stable").reset_index(drop=True)
    for c in cols:
        gv, wv = g[c].to_numpy(), w[c].to_numpy()
        if np.issubdtype(wv.dtype, np.floating) or np.issubdtype(gv.dtype, np.floating):
            gv = gv.astype(np.float64)
            wv = wv.astype(np.float64)
            both_nan = np.isnan(gv) & np.isnan(wv)
            bad = ~both_nan & ~(np.abs(gv - wv) <= np.maximum(tol * np.abs(wv), 1e-9))
        else:
            bad = np.asarray(gv != wv, dtype=bool)
        if bad.any():
            k = int(np.argmax(bad))
            return f"column {c} row {k}: got {gv[k]!r}, expected {wv[k]!r}"
    return None


def keyed_close(got: pd.DataFrame, want: pd.DataFrame, key: str, col: str,
                tol: float) -> str | None:
    """Same key set, and ``col`` equal within absolute ``tol`` per key."""
    g = got.sort_values(key).reset_index(drop=True)
    w = want.sort_values(key).reset_index(drop=True)
    if len(g) != len(w) or not np.array_equal(g[key].to_numpy(), w[key].to_numpy()):
        return f"key sets differ ({len(g)} vs {len(w)} rows)"
    err = float(np.max(np.abs(g[col].to_numpy() - w[col].to_numpy()), initial=0.0))
    if err > tol:
        return f"max |{col} error| {err:.3g} > {tol:g}"
    return None


def pagerank_converged(got: pd.DataFrame, src, dst, tol: float = 1e-6) -> str | None:
    """A converged PageRank is a fixpoint of one more round and sums to 1."""
    g = got.sort_values("id")
    ids, pr = g["id"].to_numpy(), g["pr"].to_numpy()
    if not np.array_equal(ids, np.unique(src)):
        return "vertex set differs from the edge table's"
    if abs(pr.sum() - 1.0) > 1e-9:
        return f"mass {pr.sum():.12f} != 1"
    step = float(np.abs(pagerank_step(src, dst, ids, pr) - pr).sum())
    if step > tol:
        return f"not a fixpoint: one more round moves L1 {step:.3g}"
    return None


def near_dup_pairs(pairs: pd.DataFrame, docs: pd.DataFrame, k: int,
                   threshold: float) -> str | None:
    """Every reported pair is ordered, unique, and its exact k-char
    shingle Jaccard (recomputed here) matches and meets ``threshold``."""
    if pairs.duplicated(["a_id", "b_id"]).any():
        return "duplicate pairs"
    if (pairs["a_id"] >= pairs["b_id"]).any():
        return "pair not ordered a_id < b_id"
    text = dict(zip(docs["doc_id"], docs["text"]))
    for a, b, jac in pairs[["a_id", "b_id", "jaccard"]].itertuples(index=False):
        sa = {text[a][i:i + k] for i in range(len(text[a]) - k + 1)}
        sb = {text[b][i:i + k] for i in range(len(text[b]) - k + 1)}
        exact = len(sa & sb) / len(sa | sb)
        if abs(exact - jac) > 1e-6 or exact < threshold:
            return f"pair ({a}, {b}): reported {jac}, exact {exact:.6f}"
    return None


def duckdb_oracle(sf_dir: str, tables: list[str], sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return con.execute(sql).df()
    finally:
        con.close()
