"""Streaming workflow: micro-batch replay, incremental algorithms,
structured streaming foreachBatch, windowed aggregation."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from graphdb_testing_spark.operators import util
from graphdb_testing_spark.operators.components import component_count, connected_components
from graphdb_testing_spark.operators.updates import apply_actions
from graphdb_testing_spark.sources import rmat
from graphdb_testing_spark.streaming.workflow import (
    ActionStreamWorkflow,
    BatchAlg,
    IncrementalComponents,
    IncrementalTriangles,
    run_structured_stream,
    streaming_hourly_counts,
)


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src long, dst long, wgt long")


def _actions(spark, rows):
    return spark.createDataFrame(rows, "seq long, src long, dst long, weight long")


def test_batched_replay_equals_single_merge(spark):
    base = rmat.rmat_graph(spark, scale=5, edge_factor=4, seed=9)
    acts = rmat.rmat_actions(spark, scale=5, num_actions=400, seed=4)
    wf = ActionStreamWorkflow(base)
    res = wf.run(acts, batch_size=100)
    assert res.batches == 4 and res.total_actions == 400
    # batch-of-everything must equal the same merge in one shot:
    # actions touch disjoint seq ranges, so chunked apply == one apply
    oneshot = apply_actions(base, acts)
    a = {(r.src, r.dst): r.wgt for r in wf.edges.collect()}
    b = {(r.src, r.dst): r.wgt for r in oneshot.collect()}
    assert a == b
    assert res.actions_per_sec > 0


def test_incremental_components_insert_fast_path(spark):
    base = _edges(spark, [(1, 2, 1), (2, 1, 1), (3, 4, 1), (4, 3, 1)])
    alg = IncrementalComponents()
    wf = ActionStreamWorkflow(base, algs=[alg])
    # insert-only batch bridges the two components (no deletes)
    acts = _actions(spark, [(0, 2, 3, 1)])
    wf.run(acts, batch_size=10)
    labels = wf.store.get("components")
    assert component_count(labels) == 1
    got = {r.id: r.label for r in labels.collect()}
    assert set(got.values()) == {1}


def test_incremental_components_delete_fallback(spark):
    base = _edges(
        spark,
        [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1), (3, 4, 1), (4, 3, 1)],
    )
    alg = IncrementalComponents()
    wf = ActionStreamWorkflow(base, algs=[alg])
    # delete the bridge 2-3 -> {1,2} and {3,4} (complement encoding)
    acts = _actions(spark, [(0, -3, -4, 1)])
    wf.run(acts, batch_size=10)
    labels = wf.store.get("components")
    assert component_count(labels) == 2
    # matches full recompute on the final edge table
    full = connected_components(wf.edges)
    assert {(r.id, r.label) for r in labels.collect()} == {
        (r.id, r.label) for r in full.collect()
    }


def test_incremental_components_delete_repair_is_component_local(spark):
    # three components; the delete touches only the path component —
    # repair must re-solve just that one and stitch the rest through
    base = _edges(
        spark,
        # path 1-2-3-4 (split target)
        [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1), (3, 4, 1), (4, 3, 1)]
        # triangle 10-11-12 (untouched)
        + [(10, 11, 1), (11, 10, 1), (11, 12, 1), (12, 11, 1), (10, 12, 1), (12, 10, 1)]
        # pair 20-21 (untouched)
        + [(20, 21, 1), (21, 20, 1)],
    )
    alg = IncrementalComponents()
    wf = ActionStreamWorkflow(base, algs=[alg])
    acts = _actions(spark, [(0, -3, -4, 1)])  # delete 2-3 (complement enc)
    wf.run(acts, batch_size=10)
    labels = wf.store.get("components")
    full = connected_components(wf.edges)
    assert {(r.id, r.label) for r in labels.collect()} == {
        (r.id, r.label) for r in full.collect()
    }
    assert component_count(labels) == 4


def test_incremental_components_mixed_insert_delete_batch(spark):
    base = _edges(
        spark,
        [(1, 2, 1), (2, 1, 1), (2, 3, 1), (3, 2, 1), (5, 6, 1), (6, 5, 1)],
    )
    alg = IncrementalComponents()
    wf = ActionStreamWorkflow(base, algs=[alg])
    # one batch: delete 2-3 (split) AND insert 3-5 (merge into {5,6})
    acts = _actions(spark, [(0, -3, -4, 1), (1, 3, 5, 1)])
    wf.run(acts, batch_size=10)
    labels = wf.store.get("components")
    full = connected_components(wf.edges)
    assert {(r.id, r.label) for r in labels.collect()} == {
        (r.id, r.label) for r in full.collect()
    }


def test_incremental_components_vertex_vanishes_on_full_delete(spark):
    base = _edges(spark, [(1, 2, 1), (2, 1, 1), (3, 4, 1), (4, 3, 1)])
    alg = IncrementalComponents()
    wf = ActionStreamWorkflow(base, algs=[alg])
    acts = _actions(spark, [(0, -4, -5, 1)])  # delete 3-4 entirely
    wf.run(acts, batch_size=10)
    labels = wf.store.get("components")
    got = {r.id: r.label for r in labels.collect()}
    # parity with full recompute: 3 and 4 have no edges left -> absent
    assert got == {1: 1, 2: 1}


def test_incremental_components_long_insert_chain_converges(spark):
    # 30 singleton-edge components chained into ONE by a single
    # insert-only batch: the batch's 29 representative label pairs form
    # a 30-label path, which the CC kernel must merge to one exact label
    base = _edges(
        spark,
        [(2 * i + d, 2 * i + 1 - d, 1) for i in range(30) for d in (0, 1)],
    )
    alg = IncrementalComponents()
    wf = ActionStreamWorkflow(base, algs=[alg])
    acts = _actions(
        spark, [(i, 2 * i + 1, 2 * i + 2, 1) for i in range(29)]
    )
    wf.run(acts, batch_size=100)
    labels = wf.store.get("components")
    assert component_count(labels) == 1
    full = connected_components(wf.edges)
    assert {(r.id, r.label) for r in labels.collect()} == {
        (r.id, r.label) for r in full.collect()
    }


@pytest.mark.parametrize(
    "action, want",
    [
        # a weight-0 insert adds no edge: 2-3 is no bridge
        ((0, 2, 3, 0), {1: 1, 2: 1, 3: 3, 4: 3}),
        # a weight -1 insert drops the weight-1 edge 3-4 with its ends
        ((0, 3, 4, -1), {1: 1, 2: 1}),
    ],
    ids=["weight0_bridge", "weight_minus1_removal"],
)
def test_incremental_components_nonpositive_insert_matches_recompute(spark, action, want):
    base = _edges(spark, [(1, 2, 1), (2, 1, 1), (3, 4, 1), (4, 3, 1)])
    wf = ActionStreamWorkflow(base, algs=[IncrementalComponents()])
    wf.run(_actions(spark, [action]), batch_size=10)
    got = {r.id: r.label for r in wf.store.get("components").collect()}
    assert got == {r.id: r.label for r in connected_components(wf.edges).collect()} == want


class _RecomputeCheck(BatchAlg):
    """Asserts after every batch that the published components equal a
    recompute on the merged edge table."""

    def after_batch(self, edges, batch, store):
        got = {(r.id, r.label) for r in store.get("components").collect()}
        assert got == {(r.id, r.label) for r in connected_components(edges).collect()}


_pair = st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda p: p[0] != p[1])
# (delete?, u, v, weight) over ids 0..9: 8 and 9 are new vertices, and
# u == v is a self-loop; half the batches insert positive weights only
_action = st.tuples(
    st.booleans(), st.integers(0, 9), st.integers(0, 9), st.sampled_from([-1, 0, 1, 2])
)
_insert = st.tuples(st.just(False), st.integers(0, 9), st.integers(0, 9), st.sampled_from([1, 2]))
_batch = st.lists(_insert, min_size=1, max_size=3) | st.lists(_action, min_size=1, max_size=3)


@pytest.mark.parametrize("ne_max", [util.LOCAL_NE_MAX, 0])
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=st.lists(_pair, min_size=1, max_size=8),
    batches=st.lists(_batch, min_size=1, max_size=2),
)
def test_incremental_components_random_batches_match_recompute(
    spark, monkeypatch, ne_max, base, batches
):
    """Random batches mixing inserts of weight -1, 0, 1 and 2, deletes,
    self-loops and new vertices, on both sides of the CC kernel's
    single-task guard."""
    monkeypatch.setattr(util, "LOCAL_NE_MAX", ne_max)
    pairs = {(min(p), max(p)) for p in base}
    edges = _edges(spark, [(u, v, 1) for p in pairs for u, v in (p, p[::-1])])
    acts = _actions(
        spark,
        [
            (3 * b + i, ~u, ~v, w) if delete else (3 * b + i, u, v, w)
            for b, batch in enumerate(batches)
            for i, (delete, u, v, w) in enumerate(batch)
        ],
    )
    wf = ActionStreamWorkflow(edges, algs=[IncrementalComponents(), _RecomputeCheck()])
    wf.run(acts, batch_size=3)


def test_incremental_triangles_published_per_batch(spark, bowtie_graph):
    alg = IncrementalTriangles()
    wf = ActionStreamWorkflow(bowtie_graph, algs=[alg])
    acts = _actions(spark, [(0, 0, 3, 1)])  # close a new triangle 0-2-3? (0-3 edge)
    wf.run(acts, batch_size=10)
    cc = {r.id: r.ntri for r in wf.store.get("clustering").collect()}
    # new edge (0,3): triangles through 0 now {0,1,2} and {0,2,3}
    assert cc[0] == 4


def test_structured_stream_foreachbatch(spark, tmp_path):
    base = _edges(spark, [(1, 2, 5), (2, 1, 5)])
    acts_dir = str(tmp_path / "acts")
    a1 = _actions(spark, [(0, 1, 2, 1), (1, 3, 4, 1)])
    a1.write.parquet(acts_dir)
    ckpt = str(tmp_path / "ckpt")
    final = run_structured_stream(spark, acts_dir, base, checkpoint_dir=ckpt)
    got = {(r.src, r.dst): r.wgt for r in final.collect()}
    assert got == {(1, 2): 6, (2, 1): 6, (3, 4): 1, (4, 3): 1}


def test_streaming_hourly_counts_matches_batch(spark, tmp_path):
    import shutil

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "events_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf}/events.parquet", stream_dir / "part-0.parquet")
    q = streaming_hourly_counts(spark, str(stream_dir), query_name="t_hourly")
    q.awaitTermination()
    # append mode + watermark: only windows closed by the final
    # watermark are emitted — every emitted window must match batch,
    # and only the trailing <= watermark-width windows may be missing
    stream_rows = spark.sql(
        "select window.start as ws, event_type, n from t_hourly"
    ).collect()
    assert len(stream_rows) > 0
    from graphdb_testing_spark.datasets import load_table

    batch = (
        load_table(spark, sf, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("ws"), F.col("event_type")
        )
        .agg(F.count("*").alias("n"))
    )
    bgot = {(r.ws, r.event_type): r.n for r in batch.collect()}
    for r in stream_rows:
        assert bgot[(r.ws, r.event_type)] == r.n
    # missing windows are only near the stream's end (watermark 2h)
    missing = len(bgot) - len(stream_rows)
    assert missing <= 5 * 3  # event types x trailing hours


def test_random_edge_stream_deterministic(spark, tmp_path):
    from graphdb_testing_spark.streaming.workflow import random_edge_stream

    stream = random_edge_stream(spark, nv=100, rows_per_second=500)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("rand_edges")
        .trigger(processingTime="1 second")
        .start()
    )
    import time

    for _ in range(20):
        time.sleep(0.5)
        if spark.table("rand_edges").count() > 0:
            break
    q.stop()
    rows = spark.table("rand_edges").collect()
    assert rows, "rate stream produced no rows"
    assert all(0 <= r.src < 100 and 0 <= r.dst < 100 for r in rows)
    # determinism: endpoints are a pure function of seq
    from pyspark.sql import functions as F

    recomputed = (
        spark.createDataFrame([(r.seq,) for r in rows], "seq long")
        .select(
            "seq",
            F.pmod(F.xxhash64(F.col("seq"), F.lit(0)), F.lit(100)).alias("src"),
            F.pmod(F.xxhash64(F.col("seq"), F.lit(1)), F.lit(100)).alias("dst"),
        )
        .collect()
    )
    got = {(r.seq, r.src, r.dst) for r in rows}
    exp = {(r.seq, r.src, r.dst) for r in recomputed}
    assert got == exp


def test_streaming_sessions_match_batch_closed_sessions(spark, tmp_path):
    import shutil

    from graphdb_testing_spark import queries_pipeline  # noqa: F401 (registers)
    from graphdb_testing_spark.queries import all_queries
    from graphdb_testing_spark.streaming.workflow import streaming_sessions

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "sess_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf}/events.parquet", stream_dir / "part-0.parquet")
    q = streaming_sessions(spark, str(stream_dir), query_name="t_sessions")
    q.awaitTermination()
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.start_us, r.end_us)
        for r in spark.sql("select * from t_sessions").collect()
    }
    assert len(got) > 0
    # batch twin: every session except each user's last (still open in
    # the stateful operator) must be emitted with identical stats
    batch = all_queries()["user_sessions"](spark, sf).collect()
    last_per_user = {}
    for r in batch:
        last_per_user[r.user_id] = max(
            last_per_user.get(r.user_id, 0), r.session_seq
        )
    expected = {
        (r.user_id, r.session_seq): (r.n_events, r.start_us, r.end_us)
        for r in batch
        if r.session_seq < last_per_user[r.user_id]
    }
    assert got == expected


def test_streaming_sessions_state_carries_across_batches(spark, tmp_path):


    from graphdb_testing_spark import queries_pipeline as _qp  # noqa: F401
    from graphdb_testing_spark.queries import all_queries
    from graphdb_testing_spark.streaming.workflow import streaming_sessions

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "sess_stream2"
    stream_dir.mkdir()
    # two event-time-ordered files -> two micro-batches; open sessions
    # spanning the file boundary must merge via the carried state.
    # pyarrow keeps the TIMESTAMP(NANOS) physical type the stream
    # schema expects (a SQL COPY would rewrite it as micros)
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf}/events.parquet").sort_by([("ts", "ascending")])
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    # FileStreamSource orders files by mtime (ms granularity) — two
    # quick writes can tie, so pin strictly increasing mtimes
    import os as _os
    import time as _time

    _now = _time.time()
    _os.utime(f"{stream_dir}/part-0.parquet", (_now - 10, _now - 10))
    _os.utime(f"{stream_dir}/part-1.parquet", (_now, _now))
    q = streaming_sessions(
        spark, str(stream_dir), query_name="t_sessions2", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.session_seq): (r.n_events, r.start_us, r.end_us)
        for r in spark.sql("select * from t_sessions2").collect()
    }
    batch = all_queries()["user_sessions"](spark, sf).collect()
    last_per_user = {}
    for r in batch:
        last_per_user[r.user_id] = max(last_per_user.get(r.user_id, 0), r.session_seq)
    expected = {
        (r.user_id, r.session_seq): (r.n_events, r.start_us, r.end_us)
        for r in batch
        if r.session_seq < last_per_user[r.user_id]
    }
    assert got == expected


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    import shutil

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.streaming.workflow import (
        streaming_click_purchase_join,
    )

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "ev_join_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf}/events.parquet", stream_dir / "part-0.parquet")
    q = streaming_click_purchase_join(spark, str(stream_dir), query_name="t_csj")
    q.awaitTermination()
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("select * from t_csj").collect()
    }
    ev = load_table(spark, sf, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    want = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            F.expr(
                "p_user = c_user AND c_ts <= p_ts"
                " AND c_ts >= p_ts - INTERVAL 1 HOUR"
            ),
        ).collect()
    }
    # inner stream-stream join in append mode emits every match
    assert len(want) > 0
    assert got == want


def test_streaming_debounce_matches_batch(spark, tmp_path):
    import shutil

    from graphdb_testing_spark import queries_relational  # noqa: F401 (registers)
    from graphdb_testing_spark.queries import all_queries
    from graphdb_testing_spark.streaming.workflow import streaming_debounce

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "deb_stream"
    stream_dir.mkdir()
    shutil.copy(f"{sf}/events.parquet", stream_dir / "part-0.parquet")
    q = streaming_debounce(spark, str(stream_dir), query_name="t_debounce")
    q.awaitTermination()
    got = {
        (r.event_id, r.ts_us)
        for r in spark.sql("select * from t_debounce").collect()
    }
    batch = {
        (r.event_id, r.ts_us)
        for r in all_queries()["event_debounce"](spark, sf).collect()
    }
    assert len(got) > 0 and got == batch


def test_streaming_debounce_state_across_batches(spark, tmp_path):
    import pyarrow.parquet as pq

    from graphdb_testing_spark import queries_relational as _qr  # noqa: F401
    from graphdb_testing_spark.queries import all_queries
    from graphdb_testing_spark.streaming.workflow import streaming_debounce

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "deb_stream2"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/events.parquet").sort_by([("ts", "ascending")])
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    # the operator's contract is micro-batches in event-time order;
    # Spark's file source orders by modification time, and both writes
    # can land in the same mtime tick — pin strictly increasing mtimes
    # so the batch order is deterministic under suite load
    import os, time

    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))
    q = streaming_debounce(
        spark, str(stream_dir), query_name="t_debounce2", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.event_id, r.ts_us)
        for r in spark.sql("select * from t_debounce2").collect()
    }
    batch = {
        (r.event_id, r.ts_us)
        for r in all_queries()["event_debounce"](spark, sf).collect()
    }
    # a same-key event within 60s of a previous-batch event must be
    # dropped via the carried state — the union equals the batch result
    assert got == batch


def test_incremental_pagerank_warm_start_matches_cold(spark, bridged_cliques):
    from graphdb_testing_spark.operators.pagerank import pagerank
    from tests.conftest import edges_df

    # grow the graph by a batch of edges; warm-started PR must land on
    # the same fixpoint as a cold recompute (unique fixpoint)
    extra = edges_df(spark, [(3, 5), (0, 7)])
    grown = bridged_cliques.unionByName(extra)
    cold = {r.id: r.pr for r in pagerank(grown).collect()}
    warm_init = pagerank(bridged_cliques)
    warm = {r.id: r.pr for r in pagerank(grown, init_ranks=warm_init).collect()}
    assert set(cold) == set(warm)
    for i in cold:
        assert abs(cold[i] - warm[i]) < 1e-6, i


def test_streaming_dedup_matches_batch_distinct(spark, tmp_path):
    import pyarrow.parquet as pq

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.streaming.workflow import streaming_dedup

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "dedup_stream"
    stream_dir.mkdir()
    # duplicate the whole file -> every row arrives twice across two
    # micro-batches; the state store must drop the second copies
    t = pq.read_table(f"{sf}/events.parquet")
    pq.write_table(t, f"{stream_dir}/part-0.parquet")
    pq.write_table(t, f"{stream_dir}/part-1.parquet")
    import os as _os
    import time as _time

    _now = _time.time()
    _os.utime(f"{stream_dir}/part-0.parquet", (_now - 10, _now - 10))
    _os.utime(f"{stream_dir}/part-1.parquet", (_now, _now))
    q = streaming_dedup(
        spark, str(stream_dir), query_name="t_dedup", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = spark.sql(
        "select user_id, event_type, ts from t_dedup"
    ).collect()
    batch = (
        load_table(spark, sf, "events")
        .select("user_id", "event_type", "ts")
        .distinct()
        .collect()
    )
    assert len(got) == len(batch)
    assert {tuple(r) for r in got} == {tuple(r) for r in batch}


def test_incremental_pagerank_in_workflow(spark):
    from pyspark.sql import functions as F

    from graphdb_testing_spark.operators.pagerank import pagerank
    from graphdb_testing_spark.streaming.workflow import IncrementalPageRank

    base = rmat.rmat_graph(spark, scale=5, edge_factor=4, seed=9)
    acts = rmat.rmat_actions(spark, scale=5, num_actions=200, seed=4)
    alg = IncrementalPageRank()
    wf = ActionStreamWorkflow(base, algs=[alg])
    wf.run(acts, batch_size=100)
    published = wf.store.get("pagerank")
    # rank mass conserved and equal to a cold recompute on final edges
    assert abs(published.agg(F.sum("pr")).collect()[0][0] - 1.0) < 1e-6
    cold = {r.id: r.pr for r in pagerank(wf.edges).collect()}
    warm = {r.id: r.pr for r in published.collect()}
    assert set(cold) == set(warm)
    for i in cold:
        assert abs(cold[i] - warm[i]) < 1e-6


def test_streaming_heavy_hitters_misra_gries_guarantee(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphdb_testing_spark.streaming.workflow import streaming_heavy_hitters

    # synthetic skewed stream: user 7 sends 60 of 100 'click' events;
    # with capacity 4 any user above N/5 = 20 MUST survive the summary
    rows = []
    for i in range(100):
        uid = 7 if i % 5 != 2 else 100 + (i % 7)  # 80 vs scattered rest
        rows.append((i, pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=i),
                     uid, "click", 1.0, "{}"))
    pdf = pd.DataFrame(rows, columns=[
        "event_id", "ts", "user_id", "event_type", "value", "props"])
    stream_dir = tmp_path / "hh_stream"
    stream_dir.mkdir()
    half = len(pdf) // 2
    pq.write_table(pa.Table.from_pandas(pdf.iloc[:half]), f"{stream_dir}/part-0.parquet")
    pq.write_table(pa.Table.from_pandas(pdf.iloc[half:]), f"{stream_dir}/part-1.parquet")
    import os as _os
    import time as _time

    _now = _time.time()
    _os.utime(f"{stream_dir}/part-0.parquet", (_now - 10, _now - 10))
    _os.utime(f"{stream_dir}/part-1.parquet", (_now, _now))
    q = streaming_heavy_hitters(
        spark, str(stream_dir), capacity=4,
        query_name="t_hh", max_files_per_trigger=1,
    )
    q.awaitTermination()
    final = (
        spark.sql("select * from t_hh where batch_n = 100")
        .collect()
    )
    assert final, "final summary emitted"
    kept = {r.user_id: r.min_count for r in final}
    true_count = sum(1 for i in range(100) if i % 5 != 2)
    assert 7 in kept  # the true heavy hitter always survives
    # counter never overcounts and undercounts by at most N/(cap+1)
    assert kept[7] <= true_count and true_count - kept[7] <= 100 // 5


def test_streaming_hll_matches_batch_sketch(spark, tmp_path):
    """Register-wise max across micro-batches == one-shot batch
    sketch: the final streamed estimate equals the batch est_milli
    bit-for-bit for every event_type."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.queries import all_queries
    import graphdb_testing_spark.queries_sketches  # noqa: F401
    from graphdb_testing_spark.streaming.workflow import streaming_hll

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "hll_stream"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/events.parquet")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))
    q = streaming_hll(
        spark, str(stream_dir), query_name="t_hll", max_files_per_trigger=1
    )
    q.awaitTermination()
    rows = spark.sql(
        "select event_type, est_milli from (select *, row_number() over"
        " (partition by event_type order by n_seen desc) rn from t_hll)"
        " where rn = 1"
    ).collect()
    got = {r.event_type: r.est_milli for r in rows}
    batch = {
        r.event_type: r.est_milli
        for r in all_queries()["hll_distinct_users"](spark, sf).collect()
    }
    assert got == batch


def test_checkpoint_restart_processes_only_new_files(spark, tmp_path):
    """Exactly-once across restarts: a second run with the same
    checkpointLocation must skip the already-committed file and apply
    only the new one — final edges equal one-shot apply of all
    actions (double-applying part 1 would double the weights)."""
    import pyspark.sql.functions as SF

    from graphdb_testing_spark.streaming.workflow import run_structured_stream

    base = _edges(spark, [(1, 2, 5), (2, 1, 5)])
    acts_dir = tmp_path / "acts"
    acts_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")
    a1 = _actions(spark, [(0, 1, 2, 1)])
    a1.coalesce(1).write.parquet(str(acts_dir / "batch1"))
    mid = run_structured_stream(
        spark, str(acts_dir / "*"), base, checkpoint_dir=ckpt
    )
    assert {(r.src, r.dst): r.wgt for r in mid.collect()} == {
        (1, 2): 6,
        (2, 1): 6,
    }
    a2 = _actions(spark, [(1, 1, 2, 1), (2, 3, 4, 1)])
    a2.coalesce(1).write.parquet(str(acts_dir / "batch2"))
    final = run_structured_stream(
        spark, str(acts_dir / "*"), mid, checkpoint_dir=ckpt
    )
    got = {(r.src, r.dst): r.wgt for r in final.collect()}
    # weight 7, not 8: batch1's +1 must NOT be re-applied on restart
    assert got == {(1, 2): 7, (2, 1): 7, (3, 4): 1, (4, 3): 1}


def test_incremental_triangles_equals_recompute_on_batches(spark):
    """Insert-only batches where several NEW edges close the same
    triangle (even all-new triangles) must attribute each triangle
    once — maintained counts equal a cold recompute after every
    batch."""
    from graphdb_testing_spark.operators.triangles import triangles_per_vertex
    from graphdb_testing_spark.streaming.workflow import IncrementalTriangles

    # workflow edge tables are symmetric (apply_actions maintains
    # both directions) — the base must honor the same invariant
    base = _edges(
        spark,
        [(u, v, 1) for (a, b) in [(0, 1), (1, 2), (2, 3), (3, 4)]
         for (u, v) in ((a, b), (b, a))],
    )
    alg = IncrementalTriangles()
    wf = ActionStreamWorkflow(base, algs=[alg])
    # batch 1: closes 0-1-2 AND adds the all-new triangle 5-6-7
    # (edges (5,6),(6,7),(5,7) are all new -> lex-min attribution)
    acts1 = _actions(
        spark, [(0, 0, 2, 1), (1, 5, 6, 1), (2, 6, 7, 1), (3, 5, 7, 1)]
    )
    # batch 2: two new edges sharing triangle 2-3-4, plus re-insert of
    # an existing edge (no adjacency change)
    acts2 = _actions(spark, [(4, 2, 4, 1), (5, 0, 1, 1), (6, 1, 3, 1)])
    for acts in (acts1, acts2):
        wf.run(acts, batch_size=10)
        got = {
            r.id: r.ntri for r in wf.store.get("clustering").collect()
        }
        want = {
            r.id: r.ntri for r in triangles_per_vertex(wf.edges).collect()
        }
        assert got == want


def test_incremental_triangles_delete_and_mixed_batches(spark):
    """Delete and mixed batches now take the incremental path too
    (Δ(G_pre, removed) subtracted, Δ(G_post, added) added) —
    maintained counts must equal a cold recompute after every batch,
    including triangles destroyed by several deleted edges at once
    and a remove-then-reinsert no-op pair."""
    from graphdb_testing_spark.operators.triangles import triangles_per_vertex
    from graphdb_testing_spark.streaming.workflow import IncrementalTriangles

    # two triangles sharing edge (1,2): {0,1,2} and {1,2,3}, plus a
    # pendant 3-4; symmetric base
    und = [(0, 1), (1, 2), (0, 2), (1, 3), (2, 3), (3, 4)]
    base = _edges(
        spark, [(u, v, 1) for (a, b) in und for (u, v) in ((a, b), (b, a))]
    )
    alg = IncrementalTriangles()
    wf = ActionStreamWorkflow(base, algs=[alg])
    batches = [
        # pure delete: removing shared edge (1,2) kills BOTH triangles
        [(0, -2, -3, 1)],
        # mixed: delete (0,2) [kills nothing now], re-add (1,2)
        # [rebuilds {1,2,3} only, since (0,2) is gone], and a
        # remove-then-reinsert of (3,4) in one batch (net no-op pair)
        [(1, -1, -3, 1), (2, 1, 2, 1), (3, -4, -5, 1), (4, 3, 4, 1)],
        # delete two edges of one triangle in the same batch (the
        # inclusion-exclusion case: triangle {1,2,3} counted once)
        [(5, -2, -4, 1), (6, -3, -4, 1)],
    ]
    for i, rows in enumerate(batches):
        wf.run(_actions(spark, rows), batch_size=10)
        got = {r.id: r.ntri for r in wf.store.get("clustering").collect()}
        want = {
            r.id: r.ntri for r in triangles_per_vertex(wf.edges).collect()
        }
        assert got == want, f"batch {i}: {got} != {want}"


def test_streaming_prequential_matches_batch(spark, tmp_path):
    """Every hour the stream closes scores identically to the batch
    prequential query; only each type's final (still-open) hour and
    variance-degenerate rows are absent."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.queries import all_queries
    import graphdb_testing_spark.queries_relational  # noqa: F401
    from graphdb_testing_spark.streaming.workflow import (
        streaming_prequential_anomalies,
    )

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "preq_stream"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/events.parquet").sort_by([("ts", "ascending")])
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))
    q = streaming_prequential_anomalies(
        spark, str(stream_dir), query_name="t_preq", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.event_type, r.hour_epoch): (r.cnt, r.n_prior, r.z_milli)
        for r in spark.sql("select * from t_preq").collect()
    }
    assert got, "stream emitted nothing"
    batch_rows = all_queries()["prequential_anomalies"](spark, sf).collect()
    batch = {
        (r.event_type, r.hour_epoch): (r.cnt, r.n_prior, r.z_milli)
        for r in batch_rows
    }
    last_hour = {}
    for r in batch_rows:
        last_hour[r.event_type] = max(last_hour.get(r.event_type, 0), r.hour_epoch)
    # every streamed score matches batch exactly
    for k, v in got.items():
        assert batch[k] == v, k
    # nothing is missing except final open hours
    missing = set(batch) - set(got)
    assert all(h == last_hour[t] for (t, h) in missing)


def test_streaming_funnel_matches_batch_state_machine(spark, tmp_path):
    """Funnel completions streamed across two micro-batches equal a
    batch replay of the same greedy state machine per user."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.streaming.workflow import streaming_funnel

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "funnel_stream"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/events.parquet").sort_by([("ts", "ascending")])
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))
    q = streaming_funnel(
        spark, str(stream_dir), query_name="t_funnel", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.completed_at_us)
        for r in spark.sql("select * from t_funnel").collect()
    }
    # batch replay of the same greedy machine
    from graphdb_testing_spark.datasets import load_table

    rows = (
        load_table(spark, sf, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "event_type", "event_id", F.unix_micros("ts").alias("t"))
        .collect()
    )
    per_user = {}
    for r in sorted(rows, key=lambda r: (r.user_id, r.t, r.event_id)):
        per_user.setdefault(r.user_id, []).append(r)
    stages = {"view": 0, "click": 1, "purchase": 2}
    want = set()
    for uid, evs in per_user.items():
        ix, last = -1, -(1 << 62)
        for r in evs:
            nxt = ix + 1
            if stages[r.event_type] == nxt and r.t > last:
                ix, last = nxt, r.t
                if ix == 2:
                    want.add((uid, r.t))
                    break
    assert got == want and len(want) > 0


def test_streaming_pattern_match_matches_batch(spark, tmp_path):
    """CEP detector streamed across two micro-batches equals the
    batch window-census of the same pattern."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.queries_temporal import q_pattern_match_census
    from graphdb_testing_spark.streaming.workflow import streaming_pattern_match

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "pattern_stream"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/events.parquet").sort_by([("ts", "ascending")])
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))
    q = streaming_pattern_match(
        spark, str(stream_dir), query_name="t_pattern", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.user_id, r.start_us, r.end_us)
        for r in spark.sql("select * from t_pattern").collect()
    }
    want = {
        (r.user_id, r.start_us, r.end_us)
        for r in q_pattern_match_census(spark, sf).collect()
    }
    assert got == want and len(want) > 0


def test_streaming_cms_counters_equal_batch(spark, tmp_path):
    """Counter-wise addition across micro-batches == one-shot batch
    sketch: the completed streamed counter table equals
    cms_counters exactly."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.functions.sketches import cms_counters
    from graphdb_testing_spark.streaming.workflow import streaming_cms

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "cms_stream"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/events.parquet")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))
    q = streaming_cms(
        spark, str(stream_dir), query_name="t_cms", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.r, r.idx): r.cnt for r in spark.table("t_cms").collect()
    }
    ev = load_table(spark, sf, "events")
    batch = {
        (r.r, r.idx): r.cnt
        for r in cms_counters(ev, "user_id", depth=4, width=512).collect()
    }
    assert got == batch


def test_stream_static_enrichment_equals_batch(spark, tmp_path):
    import os
    import time

    import pyarrow.parquet as pq
    import pyspark.sql.functions as SF

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.streaming.workflow import streaming_enriched_revenue

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "enrich_stream"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/events.parquet")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))

    q = streaming_enriched_revenue(
        spark, str(stream_dir), sf, query_name="t_enrich", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        r.c_nationkey: (r.n_events, r.value_milli)
        for r in spark.table("t_enrich").collect()
    }
    ev = load_table(spark, sf, "events")
    cust = load_table(spark, sf, "customer").select(
        SF.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    batch = {
        r.c_nationkey: (r.n_events, r.value_milli)
        for r in ev.join(cust, "user_id")
        .groupBy("c_nationkey")
        .agg(
            SF.count("*").alias("n_events"),
            SF.sum(SF.floor(SF.col("value") * 1000).cast("long")).alias("value_milli"),
        )
        .collect()
    }
    assert got == batch and len(got) > 0


def test_streaming_kmeans_single_batch_equals_lloyd_update(spark, tmp_path):
    """One-file stream == one batch Lloyd assign+update with the same
    deterministic seeding (k smallest vec_ids), bit-exact in the
    integer milli-centroid space."""
    import numpy as np
    import pyarrow.parquet as pq

    from graphdb_testing_spark.streaming.workflow import streaming_kmeans

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "km_stream"
    d.mkdir()
    t = pq.read_table(f"{sf}/embeddings.parquet")
    pq.write_table(t, f"{d}/all.parquet")

    q = streaming_kmeans(spark, str(d), k=4, dim=64, query_name="t_km")
    q.awaitTermination()
    rows = spark.table("t_km").collect()
    got = {r.cluster_id: list(r.centroid) for r in rows if r.n_seen == t.num_rows}

    X = np.floor(
        np.stack([np.asarray(v, dtype=np.float64) for v in
                  t.column("embedding").to_pylist()]) * 1024
    ).astype(np.int64)
    order = np.argsort(np.asarray(t.column("vec_id").to_pylist()))
    X = X[order]
    cents = 1000 * X[:4]
    d2 = ((1000 * X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    assign = d2.argmin(axis=1)
    want = {}
    for c in range(4):
        pts = X[assign == c]
        want[c] = (
            ((1000 * pts.sum(axis=0)) // len(pts)).tolist() if len(pts) else cents[c].tolist()
        )
    assert got == want


def test_streaming_kmeans_defers_seeding_on_undersized_first_batch(spark, tmp_path):
    """A first micro-batch with fewer than k rows must NOT seed
    centroids (ADVICE r2: it used to IndexError / corrupt the state
    reshape).  Rows are buffered in state until k accumulate; the
    final centroids equal the single-batch run over the same sorted
    rows, because the seed is the k smallest vec_ids either way.

    The undersized first file deliberately holds the LARGEST vec_ids
    (ADVICE r3): the buffered rows must re-sort against the later
    batch's smaller ids, so a seed that depended on arrival order
    would fail this parity."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.streaming.workflow import streaming_kmeans

    sf = "/root/testdata/sf0.001"
    src = pq.read_table(f"{sf}/embeddings.parquet").sort_by("vec_id")
    k, total = 4, src.num_rows

    # split: first file has the LAST k-2 rows (largest vec_ids, < k
    # of them), the rest — including every seed id — arrives second
    d1 = tmp_path / "km_small_first"
    d1.mkdir()
    pq.write_table(src.slice(total - (k - 2)), f"{d1}/part-0.parquet")
    pq.write_table(src.slice(0, total - (k - 2)), f"{d1}/part-1.parquet")
    now = time.time()
    os.utime(f"{d1}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{d1}/part-1.parquet", (now, now))
    q = streaming_kmeans(
        spark, str(d1), k=k, dim=64, query_name="t_km_defer",
        max_files_per_trigger=1,
    )
    q.awaitTermination()
    rows = spark.table("t_km_defer").collect()
    got = {r.cluster_id: list(r.centroid) for r in rows if r.n_seen == total}
    assert got, "no emission covering all rows — seeding never completed"

    # reference: one-shot stream over the identical row set
    d2 = tmp_path / "km_oneshot"
    d2.mkdir()
    pq.write_table(src, f"{d2}/all.parquet")
    q2 = streaming_kmeans(spark, str(d2), k=k, dim=64, query_name="t_km_ref")
    q2.awaitTermination()
    ref = {
        r.cluster_id: list(r.centroid)
        for r in spark.table("t_km_ref").collect()
        if r.n_seen == total
    }
    # the deferred run seeds from the k smallest ids (buffered ∪ batch)
    # then updates over ALL rows in that seeding batch — identical to
    # the one-shot mini-batch, so centroids match exactly
    assert got == ref


def test_streaming_ewma_matches_batch_fold(spark, tmp_path):
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.queries import all_queries
    import graphdb_testing_spark.queries_temporal  # noqa: F401 (registers)
    from graphdb_testing_spark.streaming.workflow import streaming_ewma

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "ewma_stream"
    stream_dir.mkdir()
    # ewma's bit-exact parity contract needs micro-batches in per-key
    # event-time order — sort by ts before splitting (ADVICE r2: don't
    # rely on the fixture file happening to be ts-ordered)
    t = pq.read_table(f"{sf}/events.parquet").sort_by("ts")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    now = time.time()
    os.utime(f"{stream_dir}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{stream_dir}/part-1.parquet", (now, now))
    q = streaming_ewma(
        spark, str(stream_dir), query_name="t_ewma", max_files_per_trigger=1
    )
    q.awaitTermination()
    rows = spark.sql(
        "select user_id, ewma_micro from (select *, row_number() over"
        " (partition by user_id order by n_events desc) rn from t_ewma)"
        " where rn = 1"
    ).collect()
    got = {r.user_id: r.ewma_micro for r in rows}
    batch = {
        r["user_id"]: r["ewma_micro"]
        for r in all_queries()["ewma_user_values"](spark, sf).collect()
    }
    assert got == batch


def test_streaming_minhash_pairs_matches_batch(spark, tmp_path):
    """Replay the sf0.001 documents in three micro-batches: the
    distinct streamed (a_id, b_id, n_agree) set must equal the batch
    twin signature_agreement_pairs exactly — the keyed band-bucket
    state is arrival-order complete (index + earlier-in-batch)."""
    import pyarrow.parquet as pq

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.functions.dedup import signature_agreement_pairs
    from graphdb_testing_spark.streaming.workflow import streaming_minhash_pairs

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "mh_stream"
    d.mkdir()
    t = pq.read_table(f"{sf}/documents.parquet")
    n = t.num_rows
    for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n)]):
        pq.write_table(t.slice(lo, hi - lo), f"{d}/part-{i}.parquet")

    q = streaming_minhash_pairs(
        spark, str(d), query_name="t_mh_pairs", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {
        (r.a_id, r.b_id, r.n_agree)
        for r in spark.sql("select distinct * from t_mh_pairs").collect()
    }
    want = {
        (r.a_id, r.b_id, r.n_agree)
        for r in signature_agreement_pairs(
            load_table(spark, sf, "documents"), min_agree=8
        ).collect()
    }
    assert got == want
    assert want  # the sf0.001 corpus does contain near-dups


def test_minhash_signature_rows_equals_groupby(spark):
    """The row-level higher-order-function signature must equal the
    explode+groupBy signature component-for-component (min over the
    shingle multiset == min over the distinct set)."""
    from pyspark.sql import functions as F

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.functions import dedup

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rowsig = dedup.minhash_signature_rows(docs)
    agg = dedup.minhash_signatures(dedup.char_shingles(docs)).select(
        "doc_id", F.array(*[F.col(f"mh_{s}") for s in range(16)]).alias("sig2")
    )
    j = rowsig.join(agg, "doc_id")
    assert j.count() == docs.filter(F.length("text") >= 8).count()
    assert j.filter(F.col("sig") != F.col("sig2")).count() == 0


def test_streaming_dedup_decisions_matches_batch(spark, tmp_path):
    """Replay a duplicated corpus in id-ordered micro-batches: the
    streamed decision manifest must match the batch exact_duplicates
    closure — same canonical per content, keep only for the first
    copy, and n_prior_copies counts arrivals before each row."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.functions.dedup import exact_duplicates
    from graphdb_testing_spark.streaming.workflow import streaming_dedup_decisions

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "dd_stream"
    d.mkdir()
    t = pq.read_table(f"{sf}/documents.parquet")
    n = t.num_rows
    # duplicate the corpus with fresh ids so every content has 2 copies,
    # split into id-ordered micro-batches (originals, then copies)
    import pyarrow as pa

    dup = t.set_column(
        t.schema.get_field_index("doc_id"),
        "doc_id",
        pa.array([v.as_py() + n for v in t.column("doc_id")], type=pa.int64()),
    )
    pq.write_table(t, f"{d}/part-0.parquet")
    pq.write_table(dup, f"{d}/part-1.parquet")
    # FileStreamSource orders by mtime (ms granularity): pin distinct
    # mtimes so the id-ordered replay assumption can never tie-break
    now = time.time()
    os.utime(f"{d}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{d}/part-1.parquet", (now, now))

    q = streaming_dedup_decisions(
        spark, str(d), query_name="t_dd", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {r.doc_id: r for r in spark.sql("select * from t_dd").collect()}
    assert len(got) == 2 * n

    batch = spark.read.parquet(str(d))
    want = {r.doc_id: r.canonical_id for r in exact_duplicates(batch).collect()}
    for doc_id, r in got.items():
        assert r.canonical_id == want[doc_id]
        assert r.keep == (1 if doc_id == r.canonical_id else 0)
    # each original arrives first (0 prior), each copy second (1 prior)
    assert all(got[i].n_prior_copies == 0 for i in range(n))
    assert all(got[i + n].n_prior_copies == 1 for i in range(n))


def test_streaming_ingest_decisions_matches_batch(spark, tmp_path):
    """The streaming ingestion gate must agree with the batch stages:
    quality failures match the batch Gopher gate, and among survivors
    the dup/keep decisions match the batch exact-duplicates closure."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphdb_testing_spark.functions.dedup import exact_duplicates
    from graphdb_testing_spark.functions.textstats import gopher_quality
    from graphdb_testing_spark.streaming.workflow import streaming_ingest_decisions

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "ig_stream"
    d.mkdir()
    t = pq.read_table(f"{sf}/documents.parquet")
    n = t.num_rows
    dup = t.set_column(
        t.schema.get_field_index("doc_id"),
        "doc_id",
        pa.array([v.as_py() + n for v in t.column("doc_id")], type=pa.int64()),
    )
    pq.write_table(t, f"{d}/part-0.parquet")
    pq.write_table(dup, f"{d}/part-1.parquet")
    now = time.time()
    os.utime(f"{d}/part-0.parquet", (now - 10, now - 10))
    os.utime(f"{d}/part-1.parquet", (now, now))

    q = streaming_ingest_decisions(
        spark, str(d), min_rules=6, query_name="t_ig", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {r.doc_id: r for r in spark.sql("select * from t_ig").collect()}
    assert len(got) == 2 * n

    batch = spark.read.parquet(str(d))
    gq = {
        r.doc_id: r.n_rules_passed for r in gopher_quality(batch).collect()
    }
    fails = {i for i, v in gq.items() if v < 6}
    assert fails and len(fails) < 2 * n  # the gate is discriminative
    assert {i for i, r in got.items() if r.decision == "quality_fail"} == fails

    survivors = batch.filter(~batch.doc_id.isin(list(fails)))
    canon = {r.doc_id: r.canonical_id for r in exact_duplicates(survivors).collect()}
    for doc_id, r in got.items():
        if r.decision == "quality_fail":
            continue
        assert r.canonical_id == canon[doc_id]
        assert r.decision == ("keep" if doc_id == canon[doc_id] else "dup")


def test_streaming_dedup_ttl_evicts_idle_state(spark, tmp_path):
    """State lifecycle (round-7): with a tiny processing-time TTL, a
    fingerprint idle for one batch is evicted, so a later copy of the
    same content is re-admitted as novel; with TTL off (the default)
    the same replay marks it a duplicate — the documented
    exactness-for-bounded-state trade."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphdb_testing_spark.streaming.workflow import (
        state_telemetry,
        streaming_dedup_decisions,
    )

    def mk_doc(doc_id, text):
        return pa.table(
            {
                "doc_id": pa.array([doc_id], pa.int64()),
                "text": pa.array([text]),
                "lang": pa.array(["en"]),
                "source": pa.array(["t"]),
                "n_chars": pa.array([len(text)], pa.int64()),
            }
        )

    def write_stream(d):
        # b0: content A; b1: unrelated B (A idle); b2: A again
        os.makedirs(d)
        now = time.time()
        for i, tbl in enumerate(
            [mk_doc(0, "same content"), mk_doc(1, "other"), mk_doc(2, "same content")]
        ):
            f = f"{d}/part-{i}.parquet"
            pq.write_table(tbl, f)
            os.utime(f, (now - 10 + i, now - 10 + i))

    # TTL off: the batch-exact behavior — doc 2 is a duplicate of doc 0
    d1 = str(tmp_path / "no_ttl")
    write_stream(d1)
    q = streaming_dedup_decisions(
        spark, d1, query_name="t_ttl_off", max_files_per_trigger=1
    )
    q.awaitTermination()
    got = {r.doc_id: r for r in spark.sql("select * from t_ttl_off").collect()}
    assert got[2].keep == 0 and got[2].canonical_id == 0

    # TTL 1ms: doc 0's fingerprint expires during batch 1 (it has no
    # data there), so doc 2 arrives to empty state and is kept.
    # NOTE: with a processing-time TTL an availableNow run keeps
    # scheduling state-cleanup batches after the data is exhausted
    # (Spark's "no new data but cleaning up state" loop), so the
    # harness polls the sink and stops the query — awaitTermination
    # would block forever.  A real ingest runs forever anyway.
    d2 = str(tmp_path / "ttl")
    write_stream(d2)
    q = streaming_dedup_decisions(
        spark, d2, query_name="t_ttl_on", max_files_per_trigger=1, ttl_ms=1
    )
    _await_sink_rows(spark, q, "t_ttl_on", 3)
    got = {r.doc_id: r for r in spark.sql("select * from t_ttl_on").collect()}
    assert got[0].keep == 1
    assert got[2].keep == 1 and got[2].canonical_id == 2  # re-admitted
    # telemetry: per-batch state churn is observable
    tel = state_telemetry(q)
    assert tel and any((t["updated"] or 0) > 0 for t in tel)


def _await_sink_rows(spark, q, table, n, timeout_s=180, distinct=False):
    """Poll a memory-sink table until it holds >= n (optionally
    distinct) rows, then stop the query (TTL queries never
    self-terminate under availableNow: Spark keeps running
    state-cleanup batches)."""
    import time

    sel = "select count(*) from " + (
        f"(select distinct * from {table})" if distinct else table
    )
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if spark.sql(sel).collect()[0][0] >= n:
            q.stop()
            return
        if not q.isActive:
            return
        time.sleep(1)
    q.stop()
    raise AssertionError(f"{table} never reached {n} rows in {timeout_s}s")


def test_streaming_ingest_has_single_stateful_operator(spark, tmp_path):
    """The ingestion gate must carry ONE stateful operator (the
    fingerprint dedup state): the quality branch is stateless — no
    stream-stream self-join buffering the corpus in join state."""
    import os
    import time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.streaming.workflow import (
        state_telemetry,
        streaming_ingest_decisions,
    )

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "ig_plan"
    d.mkdir()
    t = pq.read_table(f"{sf}/documents.parquet")
    pq.write_table(t, f"{d}/part-0.parquet")
    now = time.time()
    os.utime(f"{d}/part-0.parquet", (now - 5, now - 5))

    q = streaming_ingest_decisions(spark, str(d), query_name="t_ig_plan")
    q.awaitTermination()
    tel = state_telemetry(q)
    ops = {x["operator"] for x in tel}
    assert len(ops) == 1, f"expected one stateful operator, saw {ops}"
    assert not any("join" in (o or "").lower() for o in ops)
    assert spark.sql("select count(*) from t_ig_plan").collect()[0][0] == t.num_rows


def test_streaming_minhash_ttl_off_parity_preserved(spark, tmp_path):
    """ttl_ms=None (default) leaves streaming_minhash_pairs exactly on
    its batch-twin contract; a huge TTL (never expires within the run)
    also must not change the pair set — the knob only acts at expiry."""
    import pyarrow.parquet as pq

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.functions.dedup import signature_agreement_pairs
    from graphdb_testing_spark.streaming.workflow import streaming_minhash_pairs

    sf = "/root/testdata/sf0.001"
    d = tmp_path / "mh_ttl"
    d.mkdir()
    t = pq.read_table(f"{sf}/documents.parquet")
    n = t.num_rows
    import os
    import time

    now = time.time()
    for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
        f = f"{d}/part-{i}.parquet"
        pq.write_table(t.slice(lo, hi - lo), f)
        os.utime(f, (now - 10 + i, now - 10 + i))

    want = {
        (r.a_id, r.b_id, r.n_agree)
        for r in signature_agreement_pairs(
            load_table(spark, sf, "documents"), min_agree=8
        ).collect()
    }
    q = streaming_minhash_pairs(
        spark,
        str(d),
        query_name="t_mh_ttl",
        max_files_per_trigger=1,
        ttl_ms=3_600_000,  # an hour: never expires inside this run
    )
    _await_sink_rows(spark, q, "t_mh_ttl", len(want), distinct=True)
    got = {
        (r.a_id, r.b_id, r.n_agree)
        for r in spark.sql("select distinct * from t_mh_ttl").collect()
    }
    assert got == want and want


def test_streaming_retention_matches_batch(spark, tmp_path):
    """Near-dup retention gate replay parity: final labels equal a
    batch recompute of the signature-agreement manifest; batch-0
    decisions equal the batch twin run on the prefix alone."""
    import os as _os
    import time as _time

    import pyarrow.parquet as pq

    from graphdb_testing_spark.datasets import load_table
    from graphdb_testing_spark.functions import dedup as ddp
    from graphdb_testing_spark.operators.components import connected_components
    from graphdb_testing_spark.streaming.workflow import (
        streaming_retention_decisions,
    )

    sf = "/root/testdata/sf0.001"
    stream_dir = tmp_path / "ret_stream"
    stream_dir.mkdir()
    t = pq.read_table(f"{sf}/documents.parquet")
    half = t.num_rows // 2
    pq.write_table(t.slice(0, half), f"{stream_dir}/part-0.parquet")
    pq.write_table(t.slice(half), f"{stream_dir}/part-1.parquet")
    _now = _time.time()
    _os.utime(f"{stream_dir}/part-0.parquet", (_now - 10, _now - 10))
    _os.utime(f"{stream_dir}/part-1.parquet", (_now, _now))

    res = streaming_retention_decisions(
        spark, str(stream_dir), min_agree=8, max_files_per_trigger=1,
    )
    rows = res["decisions"].collect()
    assert len(rows) == t.num_rows
    assert len({r.doc_id for r in rows}) == t.num_rows  # one decision per doc

    def batch_manifest(docs_df):
        pairs = ddp.signature_agreement_pairs(docs_df, min_agree=8).select(
            "a_id", "b_id"
        )
        sym = pairs.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        ).unionAll(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        cc = connected_components(sym)
        return {
            r.doc_id: r.label
            for r in docs_df.select("doc_id")
            .join(cc, docs_df.doc_id == cc.id, "left")
            .select("doc_id", F.coalesce("label", F.col("doc_id")).alias("label"))
            .collect()
        }

    docs = load_table(spark, sf, "documents")
    # final labels == batch recompute over the whole corpus
    want = batch_manifest(docs)
    got = {r.id: r.label for r in res["labels"].collect()}
    assert got == want
    # prefix parity: batch-0 decisions == batch twin on part-0 docs only
    prefix_ids = {r["doc_id"] for r in t.slice(0, half).to_pylist()}
    want_prefix = batch_manifest(docs.filter(F.col("doc_id").isin(prefix_ids)))
    b0 = [r for r in rows if r.batch_id == 0]
    assert {r.doc_id for r in b0} == prefix_ids
    for r in b0:
        assert r.cluster_id == want_prefix[r.doc_id], r
        assert r.keep == (1 if r.doc_id == want_prefix[r.doc_id] else 0)
    # batch-1 decisions see the full corpus: clusters match final labels
    for r in rows:
        if r.batch_id == 1:
            assert r.cluster_id == want[r.doc_id], r
            assert r.keep == (1 if r.doc_id == want[r.doc_id] else 0)
    # keep flags are point-in-time (see streaming_retention_decisions
    # docstring): in general a later-arriving smaller-id duplicate can
    # add a second keep=1 row to a cluster.  HERE ids arrive in
    # increasing order (parquet slices of an id-ordered table), so the
    # guarantee tightens to exactly one keeper per FINAL cluster —
    # assert that stronger form, plus keeper == the cluster's min id.
    arrival = [r["doc_id"] for r in t.to_pylist()]
    assert arrival == sorted(arrival)  # precondition of the 1:1 claim
    keepers = [r.doc_id for r in rows if r.keep == 1]
    assert len(keepers) == len(set(keepers))
    keeper_final_clusters = [want[d] for d in keepers]
    assert len(keeper_final_clusters) == len(set(keeper_final_clusters))
    assert set(keeper_final_clusters) == set(want.values())
    assert all(d == want[d] for d in keepers)  # keeper IS the min id


def test_streaming_retention_cross_batch_duplicate(spark, tmp_path):
    """A duplicate arriving AFTER its canonical must be dropped at
    arrival; short docs (no signature) stay kept singletons."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from graphdb_testing_spark.streaming.workflow import (
        streaming_retention_decisions,
    )

    long_a = "the quick brown fox jumps over the lazy dog " * 4
    long_b = "completely different content about spark engines " * 4
    cols = ["doc_id", "text", "lang", "source", "n_chars"]

    def tbl(rows):
        return pa.table(
            {c: [r[i] for r in rows] for i, c in enumerate(cols)},
            schema=pa.schema(
                [("doc_id", pa.int64()), ("text", pa.string()),
                 ("lang", pa.string()), ("source", pa.string()),
                 ("n_chars", pa.int64())]
            ),
        )

    d = tmp_path / "xb_stream"
    d.mkdir()
    pq.write_table(
        tbl([(10, long_a, "en", "s", len(long_a)),
             (11, long_b, "en", "s", len(long_b)),
             (12, "tiny", "en", "s", 4)]),
        f"{d}/part-0.parquet",
    )
    pq.write_table(
        tbl([(20, long_a, "en", "s", len(long_a)),   # dup of 10
             (21, "shrt", "en", "s", 4)]),
        f"{d}/part-1.parquet",
    )
    _now = _time.time()
    _os.utime(f"{d}/part-0.parquet", (_now - 10, _now - 10))
    _os.utime(f"{d}/part-1.parquet", (_now, _now))
    res = streaming_retention_decisions(spark, str(d), min_agree=8,
                                        max_files_per_trigger=1)
    dec = {r.doc_id: r for r in res["decisions"].collect()}
    assert set(dec) == {10, 11, 12, 20, 21}
    assert dec[10].keep == 1 and dec[10].cluster_id == 10
    assert dec[20].keep == 0 and dec[20].cluster_id == 10  # late duplicate
    assert dec[20].cluster_size_so_far == 2
    # unique and sub-k docs keep themselves
    for i in (11, 12, 21):
        assert dec[i].keep == 1 and dec[i].cluster_id == i


# ---------------------------------------------------------------------------
# round-8: state lifecycle for the two remaining NoTimeout stateful ops
# (VERDICT r7 task 4 — sessions + debounce get the dedup trio's
# ttl_ms + state_telemetry pattern)
# ---------------------------------------------------------------------------


def _mk_event_stream(d, batches):
    """Write one parquet file per batch of (event_id, user_id,
    event_type, ts_us) rows, mtimes pinned strictly increasing so the
    file source's batch order is deterministic."""
    import os as _os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    _os.makedirs(d, exist_ok=True)
    now = _time.time()
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[3] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[1] for r in rows], pa.int64()),
                "event_type": pa.array([r[2] for r in rows]),
                "value": pa.array([1.0] * len(rows)),
                "props": pa.array(["{}"] * len(rows)),
            }
        )
        f = f"{d}/part-{i}.parquet"
        pq.write_table(tbl, f)
        _os.utime(f, (now - 10 + i, now - 10 + i))


def test_streaming_sessions_ttl_flushes_idle_open_session(spark, tmp_path):
    """With a tiny processing-time TTL an idle user's open session is
    FLUSHED as closed (early decision, no data loss) and the state
    evicted; with TTL off the same replay keeps every session open
    forever (batch-exact).  Also: telemetry shows the churn."""
    from graphdb_testing_spark.streaming.workflow import (
        state_telemetry,
        streaming_sessions,
    )

    T0 = 1_600_000_000_000_000  # us
    batches = [
        [(100, 1, "click", T0)],
        [(200, 2, "click", T0 + 3_600_000_000)],
        # user 1 again, 10 min later in event time (inside the 30-min
        # gap: would CONTINUE the session if state survived)
        [(300, 1, "click", T0 + 600_000_000)],
    ]

    # TTL off: all sessions stay open -> nothing is ever emitted
    d1 = str(tmp_path / "sess_no_ttl")
    _mk_event_stream(d1, batches)
    q = streaming_sessions(
        spark, d1, query_name="t_sess_ttl_off", max_files_per_trigger=1
    )
    q.awaitTermination()
    assert spark.sql("select * from t_sess_ttl_off").count() == 0

    # TTL 1ms: every open session is flushed by the next batch's
    # state-cleanup pass, so the sink converges to three closed
    # sessions: user 1's first event, user 2's, user 1's second
    # (fresh state after eviction -> session_seq restarts at 0)
    d2 = str(tmp_path / "sess_ttl")
    _mk_event_stream(d2, batches)
    q = streaming_sessions(
        spark, d2, query_name="t_sess_ttl_on",
        max_files_per_trigger=1, ttl_ms=1,
    )
    _await_sink_rows(spark, q, "t_sess_ttl_on", 3)
    rows = spark.sql("select * from t_sess_ttl_on").collect()
    got = {(r.user_id, r.start_us): (r.n_events, r.end_us) for r in rows}
    assert got == {
        (1, T0): (1, T0),
        (2, T0 + 3_600_000_000): (1, T0 + 3_600_000_000),
        (1, T0 + 600_000_000): (1, T0 + 600_000_000),
    }
    tel = state_telemetry(q)
    assert tel and any((t["removed"] or 0) > 0 for t in tel)


def test_streaming_sessions_ttl_off_parity_preserved(spark, tmp_path):
    """A TTL large enough never to fire inside the run leaves the
    emitted closed-session set exactly the TTL-off result."""
    from graphdb_testing_spark.streaming.workflow import streaming_sessions

    T0 = 1_600_000_000_000_000
    batches = [
        [(100, 1, "click", T0)],
        # 2h later: exceeds the 30-min gap -> closes session 0
        [(200, 1, "click", T0 + 7_200_000_000)],
    ]
    d1 = str(tmp_path / "sess_p_off")
    _mk_event_stream(d1, batches)
    q = streaming_sessions(
        spark, d1, query_name="t_sess_p_off", max_files_per_trigger=1
    )
    q.awaitTermination()
    want = {
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
        for r in spark.sql("select * from t_sess_p_off").collect()
    }
    assert want == {(1, 1, 1, T0, T0)}  # session_seq is 1-based here

    d2 = str(tmp_path / "sess_p_on")
    _mk_event_stream(d2, batches)
    q = streaming_sessions(
        spark, d2, query_name="t_sess_p_on",
        max_files_per_trigger=1, ttl_ms=3_600_000,
    )
    _await_sink_rows(spark, q, "t_sess_p_on", 1)
    got = {
        (r.user_id, r.session_seq, r.n_events, r.start_us, r.end_us)
        for r in spark.sql("select * from t_sess_p_on").collect()
    }
    assert got == want


def test_streaming_debounce_ttl_evicts_idle_state(spark, tmp_path):
    """With a tiny TTL the last-seen mark of an idle key is evicted,
    so a later same-key event inside the debounce gap is re-admitted;
    with TTL off (or a TTL that never fires) it is dropped —
    batch-exact."""
    from graphdb_testing_spark.streaming.workflow import (
        state_telemetry,
        streaming_debounce,
    )

    T0 = 1_600_000_000_000_000
    batches = [
        [(100, 1, "click", T0)],
        [(200, 2, "click", T0 + 5_000_000)],
        # user 1 again 30s later: inside the 60s debounce gap
        [(300, 1, "click", T0 + 30_000_000)],
    ]

    # TTL off: event 300 debounced
    d1 = str(tmp_path / "deb_no_ttl")
    _mk_event_stream(d1, batches)
    q = streaming_debounce(
        spark, d1, query_name="t_deb_ttl_off", max_files_per_trigger=1
    )
    q.awaitTermination()
    assert {
        r.event_id for r in spark.sql("select * from t_deb_ttl_off").collect()
    } == {100, 200}

    # 1h TTL (never fires in-run): identical to TTL off
    d2 = str(tmp_path / "deb_ttl_long")
    _mk_event_stream(d2, batches)
    q = streaming_debounce(
        spark, d2, query_name="t_deb_ttl_long",
        max_files_per_trigger=1, ttl_ms=3_600_000,
    )
    _await_sink_rows(spark, q, "t_deb_ttl_long", 2)
    assert {
        r.event_id for r in spark.sql("select * from t_deb_ttl_long").collect()
    } == {100, 200}

    # TTL 1ms: user 1's mark expires during batch 1 -> event 300 kept
    d3 = str(tmp_path / "deb_ttl")
    _mk_event_stream(d3, batches)
    q = streaming_debounce(
        spark, d3, query_name="t_deb_ttl_on",
        max_files_per_trigger=1, ttl_ms=1,
    )
    _await_sink_rows(spark, q, "t_deb_ttl_on", 3)
    assert {
        r.event_id for r in spark.sql("select * from t_deb_ttl_on").collect()
    } == {100, 200, 300}
    tel = state_telemetry(q)
    assert tel and any((t["removed"] or 0) > 0 for t in tel)
