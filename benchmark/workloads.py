"""The benchmark's workloads.

Each workload generates its inputs from the seed (untimed), sets up a
session, then repeats a fixed sequence of operations -- one closed-loop
client, each call waiting for the previous one -- until ``--seconds``
of passes have been measured, at least one.  A workload with a warm-up
pass runs it first, untimed, so JIT compilation and code generation
settle; the suite has none and measures its first pass, as a batch job
in a fresh JVM pays it (a warm-up pass would push its runs past the
benchmark's time budget).  Every operation's output is checked, outside
the timers; a raised error or a failed check counts as a failed
operation.

Pass and set-up times are wall time less the hypervisor's steal in
that interval (per processor): on a shared host steal moved pass times
by up to 30% between otherwise identical runs.  The CPU time of the
benchmark's processes is measured beside it.
"""

from __future__ import annotations

import contextlib
import shutil
import statistics
import sys
from typing import NamedTuple

import numpy as np
import pandas as pd

import checks
import inputs
from spans import FIELDS, Tracer, clock, per_call_means

# every function the per-layer metrics cover, by layer
SESSION_FN = "session.get_spark"
LAYER_FNS = [
    SESSION_FN,
    "datasets.part_supplier_graph",
    "datasets.user_graph",
    "operators.components.connected_components",
    "operators.bfs.bfs",
    "operators.pagerank.pagerank",
    "operators.triangles.triangles_per_vertex",
    "operators.updates.apply_actions",
    "operators.updates.init_edge_store",
    "operators.updates.apply_actions_auto",
    "operators.updates.read_edge_store",
    "functions.dedup.minhash_near_duplicates",
    "queries.q1_pricing_summary",
    "queries.asof_latest_purchase",
    "queries.curation_decision",
    "queries.minhash_recall",
]
CC, BFS, PR = LAYER_FNS[3:6]
AUTO = "operators.updates.apply_actions_auto"
GUARDED = (CC, BFS, PR)

#: a guarded kernel's single-task path runs a fixed handful of jobs
#: (size count, input checkpoint, the one-task fixpoint, the caller's
#: materialising action); the distributed path runs jobs per round
SINGLE_TASK_MAX_JOBS = 6

_UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "exec_cpu_s": "s",
    "shuffle_mb": "MB", "spill_mb": "MB", "driver_gap_s": "s",
    "pruned_batches": "count", "rewrite_batches": "count", "touched_frac": "frac",
    "pruned_p50_s": "s", "rewrite_p50_s": "s", "single_task_calls": "count",
    "trace_overhead_frac": "frac", "graph_kernels_s": "s",
    "pipeline_queries_s": "s", "update_actions_per_s": "1/s",
}


def layer_unit(metric: str) -> str:
    return _UNITS[metric.rsplit(".", 1)[-1]]


def per_layer_names() -> list[str]:
    names = [f"{fn}.{f}" for fn in LAYER_FNS for f in FIELDS]
    names += [f"{AUTO}.{m}" for m in
              ("pruned_batches", "rewrite_batches", "touched_frac",
               "pruned_p50_s", "rewrite_p50_s")]
    names += [f"{fn.rsplit('.', 1)[0]}.single_task_calls" for fn in GUARDED]
    names += ["graph_kernels_s", "pipeline_queries_s", "update_actions_per_s",
              "trace_overhead_frac"]
    return names


def materialise(df):
    """Cache a result and compute every column of it (a bare count
    would let Catalyst prune unreferenced columns)."""
    df = df.persist()
    df.count()
    return df


def patch_guard(name: str, value: int) -> list[str]:
    """Set every loaded program module's ``name`` constant to ``value``;
    returns the patched modules.  Used to put a workload's input on the
    far side of a size guard without a graph large enough to cross it."""
    hit = []
    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("graphdb_testing_spark") and hasattr(mod, name):
            setattr(mod, name, value)
            hit.append(mod_name)
    if not hit:
        raise RuntimeError(f"no program module defines the guard {name}")
    return hit


class Workload:
    WARMUP = True  # one untimed pass before measuring
    rows = 0  # largest input relation (known before generating), for the shuffle-partition rule

    def __init__(self, seed: int, tiny: bool):
        self.seed = seed
        self.tiny = tiny
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.meta: dict = {}

    # -- per-operation bookkeeping ----------------------------------------

    @contextlib.contextmanager
    def untimed(self):
        """Leave the enclosed work (checks, input preparation, clean-up)
        out of the current pass's times."""
        start = clock()
        try:
            yield
        finally:
            self.untimed_s = [u + b - a for u, a, b in zip(self.untimed_s, start, clock())]

    def op(self, tracer: Tracer, label: str, fn_name: str, fn, check=None):
        """Run one timed operation, then (untimed) its check."""
        self.attempted += 1
        try:
            out, rec = tracer.call(fn_name, fn)
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.failures.append(f"{label}: raised {type(e).__name__}: {str(e)[:200]}")
            return None, None
        self.samples.setdefault(label, []).append(rec.wall_s)
        if check is not None:
            with self.untimed():
                try:
                    reason = check(out, rec)
                except Exception as e:  # noqa: BLE001
                    reason = f"check raised {type(e).__name__}: {str(e)[:200]}"
            if reason:
                self.failures.append(f"{label}: {reason}")
        return out, rec

    def record(self, label: str, reason: str | None) -> None:
        """Count one check made outside :meth:`op`."""
        self.attempted += 1
        if reason:
            self.failures.append(f"{label}: {reason}")

    # -- the measuring loop ---------------------------------------------

    def timed_pass(self, spark, tracer: Tracer) -> Pass:
        """One pass, less its untimed parts."""
        self.untimed_s = [0.0, 0.0, 0.0]
        start = clock()
        self.one_pass(spark, tracer)
        return Pass(*(b - a - u for a, b, u in zip(start, clock(), self.untimed_s)))

    def run(self, spark, tracer: Tracer, seconds: float, trace: bool) -> dict:
        if self.WARMUP or trace:  # plain and traced passes must both be warm
            tracer.enabled = False
            self.meta["warmup"] = self.timed_pass(spark, tracer)
            self.samples.clear()
        plain: list[Pass] = []
        traced: list[Pass] = []
        first_call = len(tracer.calls)
        while sum(p.wall_s for p in plain) < seconds or not plain:
            tracer.enabled = False
            plain.append(self.timed_pass(spark, tracer))
            if trace:
                tracer.enabled = True
                traced.append(self.timed_pass(spark, tracer))
        self.finish(spark)
        self.meta["passes"] = {"plain": plain, "traced": traced}
        self.meta["ops"] = {k: summarize(v) for k, v in self.samples.items()}
        if not trace:
            return {"pass_s": statistics.median(p.run_s for p in plain),
                    "pass_cpu_s": statistics.median(p.cpu_s for p in plain)}
        calls = tracer.calls
        out = {name: 0.0 for name in per_layer_names()}
        out.update(per_call_means(calls, LAYER_FNS))
        measured = [c for c in calls[first_call:] if c.traced]
        for fn in GUARDED:
            out[f"{fn.rsplit('.', 1)[0]}.single_task_calls"] = float(
                sum(c.jobs <= SINGLE_TASK_MAX_JOBS for c in measured if c.fn == fn)
            )
        out.update(self.layer_extras(measured, len(traced)))
        out["trace_overhead_frac"] = (statistics.median(p.run_s for p in traced)
                                      / statistics.median(p.run_s for p in plain) - 1.0)
        return out

    def layer_extras(self, calls, n_passes: int) -> dict:
        return {}

    def one_pass(self, spark, tracer: Tracer) -> None:
        raise NotImplementedError

    def finish(self, spark) -> None:
        """End-of-run checks."""


class Pass(NamedTuple):
    wall_s: float
    steal_s: float  # of wall_s, what the hypervisor took from each processor
    cpu_s: float  # CPU time of the Python driver, the JVM and its workers

    @property
    def run_s(self) -> float:
        """Wall time this virtual machine actually ran."""
        return self.wall_s - self.steal_s


def summarize(samples: list[float]) -> dict:
    """Median, sample count, and the highest percentile that still has
    at least ten samples beyond it (omitted when the sample is small)."""
    xs = sorted(samples)
    out = {"median": statistics.median(xs), "n": len(xs)}
    for p in (99.9, 99, 90, 50):
        if len(xs) * (100 - p) / 100 >= 10:
            out[f"p{p:g}"] = xs[min(len(xs) - 1, int(len(xs) * p / 100))]
            break
    return out


def _path_check(want_single: bool):
    def check(_out, rec):
        single = rec.jobs <= SINGLE_TASK_MAX_JOBS
        if single != want_single:
            took = "single-task" if single else "distributed"
            return f"took the {took} path ({rec.jobs} jobs)"
        return None

    return check


def _both(*fns):
    def check(out, rec):
        for f in fns:
            reason = f(out, rec)
            if reason:
                return reason
        return None

    return check


# ---------------------------------------------------------------------------
# suite-sf0.001: the ten bench kernels plus minhash_recall over small tables
# ---------------------------------------------------------------------------


class Suite(Workload):
    """Passes over the repo's ten headline kernels plus the registered
    ``minhash_recall`` query, on TPC-H-ish tables at scale factor
    0.001.  Every guarded kernel is far below its size guard, so it
    takes its single-task path, and per-job driver overhead dominates."""

    WARMUP = False

    def __init__(self, seed: int, tiny: bool):
        super().__init__(seed, tiny)
        self.sf = 0.001
        self.n_docs = 100 if tiny else 200
        self.rows = int(6_000_000 * self.sf)

    def generate(self) -> None:
        self.dir = inputs.suite_tables(self.sf, self.n_docs, self.seed)
        self._expect()

    def _expect(self) -> None:
        """NumPy/pandas expectations for the graph views and kernels."""
        import pyarrow.parquet as pq

        li = pq.read_table(f"{self.dir}/lineitem.parquet", columns=["l_partkey", "l_suppkey"])
        pairs = np.unique(np.stack([li.column(0).to_numpy(),
                                    li.column(1).to_numpy() + (1 << 40)], axis=1), axis=0)
        self.ps_src = np.concatenate([pairs[:, 0], pairs[:, 1]])
        self.ps_dst = np.concatenate([pairs[:, 1], pairs[:, 0]])
        self.ps_cc = checks.cc_labels(self.ps_src, self.ps_dst)
        self.root = int(self.ps_src.min())
        self.ps_bfs = checks.bfs_dist(self.ps_src, self.ps_dst, self.root)

        ev = pq.read_table(f"{self.dir}/events.parquet").to_pandas()
        ev["hour"] = ev["ts"].dt.floor("h")
        ev = ev[["user_id", "event_type", "hour"]]
        j = ev.merge(ev, on=["event_type", "hour"])
        j = j[j.user_id_x < j.user_id_y]
        ug = j.groupby(["user_id_x", "user_id_y"]).size().reset_index(name="wgt")
        ug.columns = ["src", "dst", "wgt"]
        self.ug = pd.concat([ug, ug.rename(columns={"src": "dst", "dst": "src"})],
                            ignore_index=True)
        self.ug_tri = checks.triangles(self.ug.src.to_numpy(), self.ug.dst.to_numpy())
        self.docs = pq.read_table(f"{self.dir}/documents.parquet",
                                  columns=["doc_id", "text"]).to_pandas()

        from graphdb_testing_spark import queries  # registers q1, apply_actions
        from graphdb_testing_spark import queries_curation, queries_pipeline, queries_temporal  # noqa: F401

        sql = queries.all_oracles()
        tables = ["lineitem", "events", "documents"]
        self.oracle = {
            name: checks.duckdb_oracle(self.dir, tables, sql[name])
            for name in ("apply_actions", "q1_pricing_summary", "asof_latest_purchase",
                         "curation_decision", "minhash_recall")
        }

    def setup(self, spark, tracer: Tracer) -> None:
        from graphdb_testing_spark import datasets

        self.ug_edges, _ = tracer.call(
            "datasets.user_graph",
            lambda: materialise(datasets.user_graph(spark, self.dir).edges.localCheckpoint()),
        )
        self.record("user_graph", checks.same_rows(self.ug_edges.toPandas(), self.ug))
        self.acts = materialise(datasets.actions_stream(spark, self.dir).localCheckpoint())
        self.docs_df = datasets.load_table(spark, self.dir, "documents")

    def one_pass(self, spark, tracer: Tracer) -> None:
        from graphdb_testing_spark import datasets
        from graphdb_testing_spark.functions.dedup import minhash_near_duplicates
        from graphdb_testing_spark.operators.bfs import bfs
        from graphdb_testing_spark.operators.components import connected_components
        from graphdb_testing_spark.operators.pagerank import pagerank
        from graphdb_testing_spark.operators.triangles import triangles_per_vertex
        from graphdb_testing_spark.operators.updates import apply_actions
        from graphdb_testing_spark.queries import all_queries

        Q = all_queries()
        single = _path_check(True)
        kept = []

        def pandas_of(df):
            kept.append(df)
            return df.toPandas()

        def build():
            g = datasets.part_supplier_graph(spark, self.dir).canonical()
            g.num_edges()
            return g

        def check_build(g, _rec):
            ne, nv = g.num_edges(), g.num_vertices()
            want = (self.ps_src.size, np.unique(self.ps_src).size)
            return None if (ne, nv) == want else f"(ne, nv) = {(ne, nv)}, expected {want}"

        g, _ = self.op(tracer, "build", "datasets.part_supplier_graph", build, check_build)
        edges = g.edges if g is not None else None
        self.op(tracer, "sv", CC, lambda: materialise(connected_components(edges)),
                _both(single, lambda o, r: checks.same_rows(pandas_of(o), self.ps_cc)))
        self.op(tracer, "sssp", BFS, lambda: materialise(bfs(edges, self.root)),
                _both(single, lambda o, r: checks.same_rows(pandas_of(o), self.ps_bfs)))
        self.op(tracer, "pr", PR, lambda: materialise(pagerank(edges)),
                _both(single, lambda o, r: checks.pagerank_converged(
                    pandas_of(o), self.ps_src, self.ps_dst)))
        self.op(tracer, "update", "operators.updates.apply_actions",
                lambda: materialise(apply_actions(self.ug_edges, self.acts)),
                lambda o, r: checks.same_rows(pandas_of(o), self.oracle["apply_actions"]))
        self.op(tracer, "tri", "operators.triangles.triangles_per_vertex",
                lambda: materialise(triangles_per_vertex(self.ug_edges)),
                lambda o, r: checks.same_rows(pandas_of(o), self.ug_tri))
        self._query(spark, tracer, Q, "q1", "q1_pricing_summary", pandas_of)
        # k=8 shingles, Jaccard >= 0.5: the program's defaults
        self.op(tracer, "dedup", "functions.dedup.minhash_near_duplicates",
                lambda: materialise(minhash_near_duplicates(self.docs_df)),
                lambda o, r: checks.near_dup_pairs(pandas_of(o), self.docs, 8, 0.5))
        for label, name in (("asof", "asof_latest_purchase"),
                            ("curation", "curation_decision"),
                            ("minhash_recall", "minhash_recall")):
            self._query(spark, tracer, Q, label, name, pandas_of)
        with self.untimed():
            for df in kept:
                df.unpersist()
            if g is not None:
                g.unpersist()

    def _query(self, spark, tracer, Q, label, name, pandas_of):
        self.op(tracer, label, f"queries.{name}",
                lambda: materialise(Q[name](spark, self.dir)),
                lambda o, r: checks.same_rows(pandas_of(o), self.oracle[name], tol=1e-9))

    def layer_extras(self, calls, n_passes: int) -> dict:
        graph_fns = {"datasets.part_supplier_graph", CC, BFS, PR,
                     "operators.updates.apply_actions",
                     "operators.triangles.triangles_per_vertex"}
        g = sum(c.wall_s for c in calls if c.fn in graph_fns)
        q = sum(c.wall_s for c in calls if c.fn.startswith(("queries.", "functions.")))
        return {"graph_kernels_s": g / n_passes, "pipeline_queries_s": q / n_passes}


# ---------------------------------------------------------------------------
# R-MAT workloads
# ---------------------------------------------------------------------------


class Rmat(Workload):
    SCALE = 15  # ~480k directed edges: two ~250k-row tasks per loop stage
    EDGE_FACTOR = 8

    def __init__(self, seed: int, tiny: bool):
        super().__init__(seed, tiny)
        self.scale = 10 if tiny else self.SCALE
        # directed edges before symmetric duplicates and self-loops go
        self.rows = 2 * (1 << self.scale) * self.EDGE_FACTOR

    def generate(self) -> None:
        self.g = inputs.rmat_graph(self.scale, self.EDGE_FACTOR, self.seed)
        self.meta["graph"] = {"scale": self.scale, "edge_factor": self.EDGE_FACTOR,
                              "ne": self.g.ne}


class Fixpoint(Rmat):
    """Connected components, BFS from vertex 0 and fixed-round PageRank
    on a seeded R-MAT graph, with the kernels' single-task size guard
    set to half the edge count, so every call takes the distributed
    per-round join/shuffle loop (as a graph twice the guard would)."""

    PR_ROUNDS = 3

    def generate(self) -> None:
        super().generate()
        src, dst = self.g.src, self.g.dst
        self.want_cc = checks.cc_labels(src, dst)
        self.want_bfs = checks.bfs_dist(src, dst, 0)
        self.want_pr = checks.pagerank_fixed(src, dst, self.PR_ROUNDS)
        self.meta["graph"].update(components=int(self.want_cc["label"].nunique()),
                                  bfs_depth=int(self.want_bfs["dist"].max()))

    def setup(self, spark, tracer: Tracer) -> None:
        import graphdb_testing_spark.operators.bfs  # noqa: F401 - guards to patch
        import graphdb_testing_spark.operators.components  # noqa: F401
        import graphdb_testing_spark.operators.pagerank  # noqa: F401

        self.edges = materialise(spark.read.parquet(self.g.path))
        self.meta["guard"] = {"LOCAL_NE_MAX": self.g.ne // 2,
                              "modules": patch_guard("LOCAL_NE_MAX", self.g.ne // 2)}

    def one_pass(self, spark, tracer: Tracer) -> None:
        from graphdb_testing_spark.operators.bfs import bfs
        from graphdb_testing_spark.operators.components import connected_components
        from graphdb_testing_spark.operators.pagerank import pagerank

        dist = _path_check(False)
        kept = []

        def pandas_of(df):
            kept.append(df)
            return df.toPandas()

        self.op(tracer, "cc", CC, lambda: materialise(connected_components(self.edges)),
                _both(dist, lambda o, r: checks.same_rows(pandas_of(o), self.want_cc)))
        self.op(tracer, "bfs", BFS, lambda: materialise(bfs(self.edges, 0)),
                _both(dist, lambda o, r: checks.same_rows(pandas_of(o), self.want_bfs)))
        self.op(tracer, "pagerank", PR,
                lambda: materialise(pagerank(self.edges, num_iter=self.PR_ROUNDS)),
                _both(dist, lambda o, r: self._pr_ok(pandas_of(o))))
        with self.untimed():
            for df in kept:
                df.unpersist()

    def _pr_ok(self, got) -> str | None:
        if abs(got["pr"].sum() - 1.0) > 1e-9:
            return f"mass {got['pr'].sum():.12f} != 1"
        return checks.keyed_close(got, self.want_pr, "id", "pr", 1e-9)


class Trickle(Rmat):
    """A seeded R-MAT graph committed as a B=64 partitioned edge store,
    then a closed-loop stream: three 5-action batches (routed to the
    partition-pruned merge) then one 50-action batch (routed to the
    full rewrite), then a full aggregate read of the store, repeated.
    The picker's table-size floor is set to half the store, as for a
    store twice that floor."""

    N_PARTS = 64
    CYCLE = (5, 5, 5, 50)
    EXPECT = ("pruned", "pruned", "pruned", "rewrite")
    MAX_CYCLES = 200

    def generate(self) -> None:
        super().generate()
        self.batches = inputs.rmat_actions(
            self.scale, list(self.CYCLE) * self.MAX_CYCLES, self.seed)
        self.next_batch = 0
        self.strategies: list[str] = []
        # expected store content, replayed in plain Python alongside
        self.state = dict(zip(zip(self.g.src.tolist(), self.g.dst.tolist()),
                              self.g.wgt.tolist()))

    def setup(self, spark, tracer: Tracer) -> None:
        from graphdb_testing_spark.operators.updates import init_edge_store

        self.store = f"{inputs.HERE}/.work/store"
        shutil.rmtree(self.store, ignore_errors=True)
        self.base = spark.read.parquet(self.g.path)
        b, _ = tracer.call("operators.updates.init_edge_store", init_edge_store,
                           self.base, self.store, n_parts=self.N_PARTS)
        self.record("init_edge_store", None if b == self.N_PARTS else
                    f"{b} partitions, expected {self.N_PARTS}")
        self.meta["guard"] = {"_PRUNE_MIN_TABLE_ROWS": self.g.ne // 2,
                              "modules": patch_guard("_PRUNE_MIN_TABLE_ROWS", self.g.ne // 2)}

    def one_pass(self, spark, tracer: Tracer) -> None:
        from pyspark.sql import functions as F

        from graphdb_testing_spark.operators.updates import apply_actions_auto, read_edge_store

        cycle = []
        with self.untimed():
            for _ in self.CYCLE:
                b = self.batches[self.next_batch]
                self.next_batch += 1
                pdf = pd.DataFrame(b, columns=["seq", "src", "dst", "weight"])
                cycle.append((b, materialise(spark.createDataFrame(pdf).localCheckpoint())))
                _replay(self.state, b)
            want_agg = (len(self.state), sum(self.state.values()))
        for (b, acts), want in zip(cycle, self.EXPECT):
            stats: dict = {}
            out, rec = self.op(
                tracer, f"batch_{want}", AUTO,
                lambda: apply_actions_auto(spark, acts, store_path=self.store, stats=stats),
                lambda o, r, want=want: None if o[1] == want else
                f"picker chose {o[1]}, expected {want} ({len(b)} actions)")
            if out is not None:
                self.strategies.append(out[1])
                rec.info = {"strategy": out[1],
                            "touched": stats["pruned"]["touched"] / self.N_PARTS
                            if "pruned" in stats else 1.0,
                            "actions": len(b)}
        self.op(tracer, "store_read", "operators.updates.read_edge_store",
                lambda: read_edge_store(spark, self.store)
                .agg(F.count("*"), F.sum("wgt")).collect()[0],
                lambda o, r: None if (o[0], o[1]) == want_agg else
                f"(rows, total weight) = {(o[0], o[1])}, expected {want_agg}")
        with self.untimed():
            for _, acts in cycle:
                acts.unpersist()

    def finish(self, spark) -> None:
        """The store must equal one bulk merge of every action sent,
        compared as a multiset of rows; both picker regimes must run."""
        from graphdb_testing_spark.operators.updates import apply_actions, read_edge_store

        missing = {"pruned", "rewrite"} - set(self.strategies)
        self.record("picker regimes", f"stream never used {sorted(missing)}" if missing else None)
        sent = np.concatenate(self.batches[: self.next_batch])
        acts = spark.createDataFrame(pd.DataFrame(sent, columns=["seq", "src", "dst", "weight"]))
        want = apply_actions(self.base, acts).toPandas()
        got = read_edge_store(spark, self.store).toPandas()
        self.record("store vs bulk apply_actions", checks.same_rows(got, want[["src", "dst", "wgt"]]))
        self.meta["strategies"] = {s: self.strategies.count(s) for s in set(self.strategies)}

    def layer_extras(self, calls, n_passes: int) -> dict:
        batches = [c for c in calls if c.fn == AUTO and c.info]
        pruned = [c.wall_s for c in batches if c.info["strategy"] == "pruned"]
        rewrite = [c.wall_s for c in batches if c.info["strategy"] == "rewrite"]
        busy = sum(c.wall_s for c in batches)
        return {
            f"{AUTO}.pruned_batches": float(len(pruned)),
            f"{AUTO}.rewrite_batches": float(len(rewrite)),
            f"{AUTO}.touched_frac": statistics.mean(c.info["touched"] for c in batches),
            f"{AUTO}.pruned_p50_s": statistics.median(pruned) if pruned else 0.0,
            f"{AUTO}.rewrite_p50_s": statistics.median(rewrite) if rewrite else 0.0,
            "update_actions_per_s": sum(c.info["actions"] for c in batches) / busy,
        }


def _replay(state: dict, batch: np.ndarray) -> None:
    """Merge one action batch into ``state`` with the reference's
    sequential semantics: per directed key, a deletion drops the edge
    and earlier inserts, later inserts add weight."""
    fold: dict = {}
    for _seq, s, d, w in batch.tolist():
        dele = s < 0
        if dele:
            s, d = -s - 1, -d - 1
        if s == d:
            continue
        for key in ((s, d), (d, s)):
            f = fold.setdefault(key, [False, 0])
            if dele:
                f[0], f[1] = True, 0
            else:
                f[1] += w
    for key, (had_delete, ins) in fold.items():
        new = ins if had_delete else state.get(key, 0) + ins
        if new > 0:
            state[key] = new
        else:
            state.pop(key, None)


WORKLOADS = {
    "suite-sf0.001": Suite,
    "rmat15-fixpoint": Fixpoint,
    "rmat15-trickle": Trickle,
}
