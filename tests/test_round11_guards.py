"""Round-11 guard-behavior tests (round-10 ADVICE items).

1. ``_local_scc`` honors ``max_outer`` (fails fast like the
   distributed path instead of hanging on condensation chains) and
   trims trivial SCCs (a pure DAG converges in one outer round).
2. The single-task kernels reject a non-symmetric edge table loudly
   instead of silently scattering updates to wrong vertices.
"""

from __future__ import annotations

import pytest

from graphdb_testing_spark.operators.bfs import bfs
from graphdb_testing_spark.operators.components import connected_components
from graphdb_testing_spark.operators.scc import strongly_connected_components


def _chain_of_2cycles(spark, k: int):
    """K mutually-reachable pairs linked in a condensation chain:
    (0↔1) → (2↔3) → … — exactly one SCC settles per peel round."""
    edges = []
    for i in range(k):
        a, b = 2 * i, 2 * i + 1
        edges += [(a, b), (b, a)]
        if i + 1 < k:
            edges.append((b, 2 * (i + 1)))
    return spark.createDataFrame(edges, "src long, dst long")


def test_local_scc_converges_and_labels_chain(spark):
    df = _chain_of_2cycles(spark, 6)
    rows = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(df).collect()
    }
    want = {}
    for i in range(6):
        want[2 * i] = 2 * i
        want[2 * i + 1] = 2 * i
    assert rows == want


def test_local_scc_honors_max_outer_cap(spark):
    df = _chain_of_2cycles(spark, 6)
    with pytest.raises(Exception, match="max_outer"):
        strongly_connected_components(df, max_outer=3).collect()


def test_local_scc_trim_collapses_dag_in_one_round(spark):
    # a pure chain DAG is all-trivial: trim peels it without any color
    # round, so max_outer=1 suffices (the pre-fix kernel needed one
    # outer round per vertex)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    rows = {
        r["id"]: r["scc_id"]
        for r in strongly_connected_components(df, max_outer=1).collect()
    }
    assert rows == {i: i for i in range(51)}


def test_trickle_journal_uses_hardlinks(spark, tmp_path):
    """Round-11 §6 I/O: on a local FS the undo journal snapshots
    touched partitions by hard link (metadata-only), and the link
    carries the pre-batch bytes."""
    import glob
    import os

    from graphdb_testing_spark.operators.updates import (
        _journal_paths,
        _write_trickle_journal,
        init_edge_store,
        store_meta,
    )

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (3, 4, 2), (4, 3, 2)],
        "src long, dst long, wgt long",
    )
    store = str(tmp_path / "store")
    init_edge_store(edges, store, table_rows=4)
    data_dir = store_meta(spark, store)["data_dir"]
    pts = sorted(
        int(p.split("=")[1])
        for p in os.listdir(data_dir)
        if p.startswith("pt=")
    )
    _write_trickle_journal(spark, data_dir, pts[:1])
    jdir, _ = _journal_paths(data_dir)
    jfiles = [
        f
        for f in glob.glob(f"{jdir}/pt={pts[0]}/*")
        if not f.endswith(".crc")
    ]
    assert jfiles, "journal snapshot missing"
    # every journaled data file is a hard link to the live file
    for f in jfiles:
        st = os.stat(f)
        assert st.st_nlink >= 2, f"{f} was copied, not linked"
        live = os.path.join(data_dir, f"pt={pts[0]}", os.path.basename(f))
        assert os.stat(live).st_ino == st.st_ino


def test_trickle_journal_locality_follows_resolved_fs(spark, tmp_path, monkeypatch):
    """A scheme-less data_dir is local only if the RESOLVED filesystem
    is: under a non-local fs.defaultFS the journal must be written by
    FileUtil.copy on that filesystem, never hard-linked from a local
    directory of the same name, and recovery must restore from it."""
    import os
    import shutil

    from graphdb_testing_spark.operators import updates
    from graphdb_testing_spark.operators.updates import (
        _write_trickle_journal,
        init_edge_store,
        read_edge_store,
        recover_trickle,
        store_meta,
    )

    class _Uri:
        def getScheme(self):
            return "hdfs"

    class _RemoteLooking:
        """The real local FileSystem (py4j forwards its object id), but
        reporting a non-``file`` scheme."""

        def __init__(self, fs):
            self._fs = fs

        def getUri(self):
            return _Uri()

        def __getattr__(self, name):
            return getattr(self._fs, name)

    real = updates._hadoop_fs

    def remote_fs(spark_, path):
        fs, pcls = real(spark_, path)
        return _RemoteLooking(fs), pcls

    def no_link(*a):
        raise AssertionError("hard-linked a journal on a non-local filesystem")

    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 1, 1), (3, 4, 2), (4, 3, 2)],
        "src long, dst long, wgt long",
    )
    store = str(tmp_path / "store")
    init_edge_store(edges, store, table_rows=4)
    want = sorted(read_edge_store(spark, store).collect())
    data_dir = store_meta(spark, store)["data_dir"]
    assert "://" not in data_dir and not data_dir.startswith("file:")
    pts = sorted(
        int(p.split("=")[1]) for p in os.listdir(data_dir) if p.startswith("pt=")
    )
    monkeypatch.setattr(updates, "_hadoop_fs", remote_fs)
    monkeypatch.setattr(updates, "_snapshot_partition_localfs", no_link)
    _write_trickle_journal(spark, data_dir, pts)
    # a torn batch: every touched partition is gone
    for p in pts:
        shutil.rmtree(os.path.join(data_dir, f"pt={p}"))
    assert recover_trickle(spark, data_dir) is True
    monkeypatch.undo()
    assert sorted(read_edge_store(spark, store).collect()) == want


def test_bfs_rejects_nonsymmetric_table(spark):
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(Exception, match="not symmetric"):
        bfs(df, 0).collect()


def test_components_rejects_nonsymmetric_table(spark):
    df = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    with pytest.raises(Exception, match="not symmetric"):
        connected_components(df).collect()
