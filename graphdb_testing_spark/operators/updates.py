"""Batch edge updates — the reference's "transactional" surface.

Reference semantics (SURVEY.md §2.2):

* insert is an **upsert**: existing edge ⇒ weight increment (+
  ``time_recent`` update), absent ⇒ create
  (``stinger_incr_edge_pair``, ``include/stinger.h:57-65``,
  ``include/core/stinger-workflow.h:46-52``);
* delete removes the edge (``stinger_remove_edge_pair``,
  ``stinger.h:67-71``; ``DELETE FROM edges WHERE src=? AND dst=?``,
  ``tests/sqlite/test.c:355-358``);
* every action applies in **both directions** and self-loops are
  skipped (``tests/stinger/main.c:176-189``);
* deletions are complement-encoded: action ``(i,j)`` with ``i<0``
  means delete ``(~i, ~j)`` (``rmatter.c:349-369``; decode at
  ``tests/sqlite/test.c:352-354``).

Spark-first design: a batch of actions folds to one delta row per
``(src, dst)`` key — for each key, the post-batch state depends only
on the last deletion's position and the inserts after it, so the
sequential replay collapses to a window + aggregate, and the merge
into the edge table is a single ``full_outer`` join.  No per-action
driver loop; the merge is one shuffle on the edge key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def decode_actions(actions: DataFrame) -> DataFrame:
    """Decode complement-encoded actions.

    In: ``(seq, src, dst, weight, ...)`` with raw (possibly negative)
    ids.  Out: ``(seq, src, dst, weight, is_delete)`` with
    non-negative ids (``~x == -x-1``).
    """
    is_del = F.col("src") < 0
    return actions.select(
        "seq",
        F.when(is_del, -F.col("src") - 1).otherwise(F.col("src")).alias("src"),
        F.when(is_del, -F.col("dst") - 1).otherwise(F.col("dst")).alias("dst"),
        F.col("weight").cast("long").alias("weight"),
        is_del.alias("is_delete"),
    )


def both_directions(decoded: DataFrame) -> DataFrame:
    """Apply each action in both directions, skipping self-loops."""
    rev = decoded.select(
        "seq",
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        "weight",
        "is_delete",
    )
    return decoded.unionAll(rev).filter(F.col("src") != F.col("dst"))


def batch_delta(decoded_bidir: DataFrame) -> DataFrame:
    """Fold a batch of per-direction actions to one row per edge key.

    Output: ``(src, dst, last_del BOOLEAN-as-present, ins_w)`` where
    ``ins_w`` = total inserted weight after the last deletion (NULL if
    none), ``had_delete`` whether any deletion hit the key.  This is
    the exact sequential-replay fixpoint of upsert/delete per key.
    """
    w = Window.partitionBy("src", "dst")
    with_del = decoded_bidir.withColumn(
        "last_del", F.max(F.when(F.col("is_delete"), F.col("seq"))).over(w)
    )
    return with_del.groupBy("src", "dst").agg(
        F.sum(
            F.when(
                (~F.col("is_delete"))
                & (F.col("seq") > F.coalesce(F.col("last_del"), F.lit(-(2**62)))),
                F.col("weight"),
            )
        ).alias("ins_w"),
        F.max("last_del").isNotNull().alias("had_delete"),
    )


def _merged_wgt() -> "F.Column":
    """Post-merge weight of one (base ⟕/⟗ delta) row — the shared
    upsert/delete fixpoint expression of both merge strategies."""
    return (
        F.when(
            F.col("had_delete").isNull() | ~F.col("had_delete"),
            F.coalesce("wgt", F.lit(0)) + F.coalesce("ins_w", F.lit(0)),
        )
        .otherwise(F.col("ins_w"))  # NULL ⇒ deleted, filtered by caller
        .alias("wgt")
    )


def apply_actions(
    edges: DataFrame, actions: DataFrame, broadcast_delta: bool = False
) -> DataFrame:
    """Merge a batch of complement-encoded actions into the edge table.

    Equivalent to replaying the actions in ``seq`` order with the
    reference's ``incr_edge_pair`` / ``remove_edge_pair`` semantics
    (M13 update benchmark, ``tests/stinger/main.c:165-204``).

    Two physical strategies, identical results:

    * default — one ``full_outer`` join: both sides shuffle+sort on
      the edge key.  Right when the delta is comparable to the table.
    * ``broadcast_delta=True`` — the big side is NEVER shuffled: the
      delta (one row per touched key, tiny next to a 100 TB table)
      broadcasts into (1) ``edges ⟕ delta`` for existing keys and a
      semi-join keylist, then (2) ``delta ▷ matched`` (broadcast anti)
      yields brand-new keys.  Two broadcast scans of the edge table
      replace its shuffle+sort — the same reason the delta side of
      every lakehouse MERGE is broadcast.  Requires the folded delta
      to fit in a broadcast (fine for any sane batch; the reference's
      1M-action batch folds to ~2M keys ≈ tens of MB).
    """
    delta = batch_delta(both_directions(decode_actions(actions)))
    base = edges.select("src", "dst", "wgt")
    if not broadcast_delta:
        merged = base.join(delta, ["src", "dst"], "full_outer")
        return merged.select("src", "dst", _merged_wgt()).filter(
            F.col("wgt").isNotNull() & (F.col("wgt") > 0)
        )

    delta = delta.localCheckpoint(eager=True)  # broadcast 3×, fold once
    existing = (
        base.join(F.broadcast(delta), ["src", "dst"], "left")
        .select("src", "dst", _merged_wgt())
        .filter(F.col("wgt").isNotNull() & (F.col("wgt") > 0))
    )
    matched = base.join(
        F.broadcast(delta.select("src", "dst")), ["src", "dst"], "left_semi"
    ).select("src", "dst")
    # a key absent from the table nets to ins_w whether or not a
    # delete hit it (there was nothing to delete)
    created = (
        delta.join(F.broadcast(matched), ["src", "dst"], "left_anti")
        .select("src", "dst", F.col("ins_w").alias("wgt"))
        .filter(F.col("wgt").isNotNull() & (F.col("wgt") > 0))
    )
    return existing.unionAll(created)


def apply_actions_timed(edges: DataFrame | None, actions: DataFrame) -> DataFrame:
    """Merge actions while maintaining per-edge ``time_first`` /
    ``time_recent`` — the reference's edge-timestamp metadata (M6):
    ``timeFirst`` set at creation, ``timeRecent`` bumped by every
    upsert (``include/core/stinger-internal.h:52-58``,
    ``stinger-workflow.h:46-52``).  A deletion ends the edge's life;
    re-insertion restarts ``time_first`` at the first post-delete
    insert.

    ``actions`` must carry a ``ts`` timestamp column; timestamps are
    kept as epoch microseconds (LONG) so time-range scans (F5/F6
    ``MODIFIED_AFTER``/``CREATED_BEFORE``) are plain pushdown-friendly
    predicates.  ``edges=None`` starts from an empty graph.
    """
    ts_by_seq = actions.select("seq", F.unix_micros("ts").alias("us"))
    bidir = both_directions(decode_actions(actions)).join(ts_by_seq, "seq")
    w = Window.partitionBy("src", "dst")
    keyed = bidir.withColumn(
        "last_del", F.max(F.when(F.col("is_delete"), F.col("seq"))).over(w)
    )
    live = (~F.col("is_delete")) & (
        F.col("seq") > F.coalesce(F.col("last_del"), F.lit(-(2**62)))
    )
    folded = keyed.groupBy("src", "dst").agg(
        F.sum(F.when(live, F.col("weight"))).alias("ins_w"),
        F.min(F.when(live, F.col("us"))).alias("t_first_new"),
        F.max(F.when(live, F.col("us"))).alias("t_recent_new"),
        F.max("last_del").isNotNull().alias("had_delete"),
    )
    if edges is None:
        return folded.filter(
            F.col("ins_w").isNotNull() & (F.col("ins_w") > 0)
        ).select(
            "src",
            "dst",
            F.col("ins_w").alias("wgt"),
            F.col("t_first_new").alias("time_first"),
            F.col("t_recent_new").alias("time_recent"),
        )
    old = edges.select("src", "dst", "wgt", "time_first", "time_recent")
    merged = old.join(folded, ["src", "dst"], "full_outer")
    survived_old = F.col("had_delete").isNull() | ~F.col("had_delete")
    return (
        merged.select(
            "src",
            "dst",
            F.when(
                survived_old,
                F.coalesce("wgt", F.lit(0)) + F.coalesce("ins_w", F.lit(0)),
            )
            .otherwise(F.col("ins_w"))
            .alias("wgt"),
            F.when(survived_old, F.coalesce("time_first", "t_first_new"))
            .otherwise(F.col("t_first_new"))
            .alias("time_first"),
            F.when(survived_old, F.greatest("time_recent", "t_recent_new"))
            .otherwise(F.col("t_recent_new"))
            .alias("time_recent"),
        )
        .filter(F.col("wgt").isNotNull() & (F.col("wgt") > 0))
    )


def modified_after(edges_timed: DataFrame, ts_micros: int) -> DataFrame:
    """F6 ``MODIFIED_AFTER`` filter (``include/stinger.h:312-315``):
    edges touched at/after the cutoff.  A plain predicate — pushes
    down to the parquet scan when the timed edge table is stored."""
    return edges_timed.filter(F.col("time_recent") >= ts_micros)


def created_before(edges_timed: DataFrame, ts_micros: int) -> DataFrame:
    """F6 ``CREATED_BEFORE`` filter."""
    return edges_timed.filter(F.col("time_first") < ts_micros)


# ---------------------------------------------------------------------------
# M1-M5 primitives as batch operations
# ---------------------------------------------------------------------------


def insert_edges(edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """``stinger_insert_edge`` batch analog: set weight, create if
    absent (``include/stinger.h:47-55``).  Last write wins within the
    batch is not needed — new_edges is deduped on the key first."""
    ne = new_edges.select("src", "dst", F.col("wgt").alias("new_wgt")).dropDuplicates(
        ["src", "dst"]
    )
    return (
        edges.join(ne, ["src", "dst"], "full_outer")
        .select("src", "dst", F.coalesce("new_wgt", "wgt").alias("wgt"))
    )


def increment_edges(edges: DataFrame, deltas: DataFrame) -> DataFrame:
    """``stinger_incr_edge`` batch analog: weight += delta, create if
    absent (``include/stinger.h:57-65``)."""
    d = deltas.groupBy("src", "dst").agg(F.sum("wgt").alias("d_wgt"))
    return (
        edges.join(d, ["src", "dst"], "full_outer")
        .select(
            "src",
            "dst",
            (F.coalesce("wgt", F.lit(0)) + F.coalesce("d_wgt", F.lit(0))).alias("wgt"),
        )
    )


def remove_edges(edges: DataFrame, keys: DataFrame) -> DataFrame:
    """``stinger_remove_edge`` batch analog via anti-join
    (``include/stinger.h:67-71``)."""
    return edges.join(keys.select("src", "dst"), ["src", "dst"], "left_anti")


def insert_if_absent(edges: DataFrame, new_edges: DataFrame) -> DataFrame:
    """SQLite ``INSERT OR IGNORE`` analog (``tests/sqlite/test.c:125``):
    keep existing rows, add only unseen keys."""
    fresh = (
        new_edges.dropDuplicates(["src", "dst"])
        .join(edges.select("src", "dst"), ["src", "dst"], "left_anti")
    )
    return edges.unionByName(fresh.select(*edges.columns))


def merge_rollup(
    old: DataFrame,
    delta_events: DataFrame,
    keys: tuple[str, ...] = ("event_type", "hour_epoch"),
) -> DataFrame:
    """Incremental view maintenance for the hourly rollup: fold a
    batch of new events into an existing ``(keys..., n, sum_value)``
    aggregate WITHOUT rescanning history — the partial-aggregate
    merge law (COUNT and DECIMAL SUM are associative/commutative, so
    ``merge(agg(A), agg(B)) == agg(A ∪ B)`` exactly; the parity test
    asserts bit-equality).  At 100 TB this is the difference between
    reprocessing a day and reprocessing a table."""
    delta = (
        delta_events.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).cast("long").alias("hour_epoch"),
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_value"),
        )
    )
    return (
        old.select(*keys, "n", F.col("sum_value").cast("decimal(18,6)").alias("sum_value"))
        .unionAll(delta)
        .groupBy(*keys)
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("sum_value").cast("decimal(18,6)").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# partition-pruned stored merge: rewrite only touched partitions
# ---------------------------------------------------------------------------
#
# apply_actions() produces the merged table as a DataFrame — the right
# semantics, but persisting it rewrites the WHOLE edge table per
# batch.  At SCALE 24 that is 265M rows rewritten for a 1M-action
# batch (measured: the update kernel is rewrite-bound, 9.3e3 e/s).
# On a 100 TB table it is a non-starter.  The scale path is the
# lakehouse merge pattern: store the edge table hash-partitioned into
# a fixed number of directory partitions, compute which partitions the
# batch's keys land in, read ONLY those (partition pruning), merge,
# and overwrite ONLY those (dynamic partition overwrite).  A batch
# touching k of B partitions costs O(k/B · |E|) instead of O(|E|) —
# the same contract as STINGER's in-place edge-block update
# (``include/core/stinger-internal.h``: only the touched vertex's
# block chain is written), re-expressed as immutable-file storage.


def _store_pt(n_parts: int) -> "F.Column":
    """The store's partition key: stable hash of the directed edge key.

    Must be identical at init and merge time — both sides derive it
    from the same expression, so delta rows land in (and prune to)
    exactly the partitions their base rows live in.
    """
    return F.pmod(F.xxhash64("src", "dst"), F.lit(n_parts)).alias("pt")


#: partition-count sizing rule, measured not asserted: the SCALE-24
#: A/B (265M edges) ran its crossover map at B=1024 ≈ 259k rows per
#: partition (`PRUNED_AB_L24_r06.json`), a few hundred MB of parquet
#: at 100 TB row widths — big enough to amortize per-file costs,
#: small enough that a trickle batch's touched set stays a sliver.
_STORE_TARGET_ROWS_PER_PART = 262_144
_STORE_MIN_PARTS = 16
_STORE_MAX_PARTS = 1 << 20


def derive_n_parts(table_rows: int) -> int:
    """Derive the store's hash-partition count B from the table size:
    ``table_rows / 262144`` rounded UP to a power of two, clamped to
    [16, 2^20].  Powers of two keep ``pmod(xxhash64, B)`` uniform and
    make re-partitioning splits clean; the 262k-row target reproduces
    the measured SCALE-24 configuration (265M rows → 1024 parts).
    """
    import math

    if table_rows <= 0:
        return _STORE_MIN_PARTS
    raw = table_rows / _STORE_TARGET_ROWS_PER_PART
    n = 1 << max(0, math.ceil(math.log2(raw))) if raw > 1 else 1
    return max(_STORE_MIN_PARTS, min(_STORE_MAX_PARTS, n))


# -- generation-committed layout (crash-safe swap) --------------------
#
#   path/_commits/<N>   commit record, created EXCLUSIVELY (never
#                       mutated): one JSON line {"gen": N, "n_parts": B}
#   path/gen-<N>/pt=*/  generation N's hash-partitioned parquet data
#
# Readers resolve the MAX committed N; a rewrite writes gen-(N+1)
# completely, then creates _commits/(N+1) — one atomic metadata op on
# any Hadoop FileSystem — then GCs older generations.  A crash at ANY
# point leaves the store readable at the last committed generation
# (an uncommitted gen dir is invisible garbage, collected by the next
# successful commit).  This replaces the round-6 delete-then-rename
# swap, whose crash window lost the table (VERDICT round 6, finding 1)
# — the commit-pointer pattern every production lakehouse uses.
# Single-writer discipline is assumed (as in the reference's
# workflow loop: one mutator, many readers).


def _hadoop_fs(spark, path: str):
    """(FileSystem, Path-class) for ``path`` via the JVM gateway —
    works on any configured Hadoop FS, not just local disk."""
    jvm = spark._jvm
    pcls = jvm.org.apache.hadoop.fs.Path
    fs = pcls(path).getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, pcls


def store_meta(spark, path: str) -> dict | None:
    """Resolve the store's latest committed generation.

    Returns ``{"gen": N, "n_parts": B, "data_dir": path/gen-N}`` or
    ``None`` when ``path`` has no commit records (uninitialized, or a
    pre-generation flat layout)."""
    import json

    fs, pcls = _hadoop_fs(spark, path)
    cdir = pcls(f"{path}/_commits")
    if not fs.exists(cdir):
        return None
    best = None
    for st in fs.listStatus(cdir):
        try:
            n = int(st.getPath().getName())
        except ValueError:
            continue
        if best is None or n > best:
            best = n
    if best is None:
        return None
    stream = fs.open(pcls(f"{path}/_commits/{best}"))
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()
    rec = json.loads(raw)
    return {
        "gen": best,
        "n_parts": int(rec["n_parts"]),
        "data_dir": f"{path}/gen-{best:06d}",
    }


def _commit_store(spark, path: str, gen: int, n_parts: int) -> None:
    """Atomically publish generation ``gen``: exclusive-create the
    commit record (fails rather than clobbers on a gen collision) and
    hsync it so the pointer is durable before the caller GCs."""
    import json

    fs, pcls = _hadoop_fs(spark, path)
    out = fs.create(pcls(f"{path}/_commits/{gen}"), False)
    try:
        out.write(bytearray(json.dumps({"gen": gen, "n_parts": n_parts}).encode()))
        out.hsync()
    finally:
        out.close()


def _gc_store(spark, path: str, keep_gen: int) -> None:
    """Drop every generation except ``keep_gen``: stale commit records
    first, then data dirs (so a crash mid-GC can never leave a commit
    record pointing at a deleted generation)."""
    fs, pcls = _hadoop_fs(spark, path)
    cdir = pcls(f"{path}/_commits")
    if fs.exists(cdir):
        for st in fs.listStatus(cdir):
            try:
                n = int(st.getPath().getName())
            except ValueError:
                continue
            if n < keep_gen:
                fs.delete(st.getPath(), False)
    for st in fs.listStatus(pcls(path)):
        name = st.getPath().getName()
        if not name.startswith("gen-"):
            continue
        try:
            n = int(name[4:])
        except ValueError:
            continue
        if n != keep_gen:  # also sweeps uncommitted rewrite garbage
            fs.delete(st.getPath(), True)


def _write_generation(
    edges: DataFrame, path: str, n_parts: int
) -> tuple[int, str]:
    """Write ``edges`` as the store's next (uncommitted) generation;
    returns ``(gen, gen_dir)``.  Invisible to readers until
    :func:`_commit_store` publishes it."""
    spark = edges.sparkSession
    meta = store_meta(spark, path)
    gen = (meta["gen"] + 1) if meta else 1
    gen_dir = f"{path}/gen-{gen:06d}"
    (
        edges.select("src", "dst", "wgt", _store_pt(n_parts))
        .write.mode("overwrite")
        .partitionBy("pt")
        .parquet(gen_dir)
    )
    return gen, gen_dir


def init_edge_store(
    edges: DataFrame,
    path: str,
    n_parts: int | None = None,
    table_rows: int | None = None,
) -> int:
    """Materialize an edge table as a generation-committed,
    hash-partitioned parquet store; returns the partition count used.

    ``n_parts`` fixes the pruning granularity; ``None`` (the default)
    derives it from the table size via :func:`derive_n_parts` (pass
    ``table_rows`` to skip the count).  The chosen B is recorded in
    the commit record, so merges never have to be told — and can never
    be told wrong."""
    spark = edges.sparkSession
    if n_parts is None:
        n_parts = derive_n_parts(
            table_rows if table_rows is not None else edges.count()
        )
    gen, _ = _write_generation(edges, path, n_parts)
    _commit_store(spark, path, gen, n_parts)
    _gc_store(spark, path, gen)
    return n_parts


#: store schema is fixed, so reads never infer — an emptied store
#: (every partition annihilated) still reads as a valid empty table
_STORE_SCHEMA = "src bigint, dst bigint, wgt bigint, pt bigint"


def read_edge_store(spark, path: str, recover: bool = False) -> DataFrame:
    """Read the full logical edge table back from a partitioned store,
    resolved through the commit pointer (a pre-generation flat layout
    is read as-is).

    A trickle undo journal on disk means either (a) the last merge
    crashed mid-overwrite — the table is torn and must be rolled back
    — or (b) a merge is LIVE right now in another process.  The two
    are indistinguishable from the filesystem alone, and rolling back
    a live merge would delete partitions the writer is concurrently
    rewriting, corrupting the store.  A plain read therefore FAILS
    LOUDLY on a journal instead of destructively auto-recovering;
    pass ``recover=True`` to opt into sqlite's hot-journal-on-open
    rollback once you know no writer is running.  The writer path
    (:func:`apply_actions_pruned`) still auto-recovers, which is safe
    under the store's single-writer discipline."""
    meta = store_meta(spark, path)
    data_dir = meta["data_dir"] if meta else path
    if recover:
        recover_trickle(spark, data_dir)
    else:
        fs, pcls = _hadoop_fs(spark, data_dir)
        _, jrec = _journal_paths(data_dir)
        if fs.exists(pcls(jrec)):
            raise RuntimeError(
                f"trickle journal present at {data_dir}/{_TRICKLE_JOURNAL}: "
                "either a merge crashed (re-open with recover=True, or run "
                "recover_trickle()) or a merge is live in another process "
                "(wait for it; recovering now would corrupt the store)"
            )
    return (
        spark.read.schema(_STORE_SCHEMA)
        .parquet(data_dir)
        .select("src", "dst", "wgt")
    )


# -- trickle undo journal (crash-safe in-place partition overwrite) ---
#
#   data_dir/.trickle-journal/pt=<p>/*   pre-batch copies of every
#                                        touched partition's files
#   data_dir/.trickle-journal/record.json  {"touched": [...]} — written
#                                        LAST, so its presence means
#                                        the copies above are complete
#
# The bulk-rewrite path gets atomicity from the generation-pointer
# swap; the trickle path deliberately overwrites partitions IN PLACE
# inside the live generation (copying the untouched 1-touch_frac of
# the table into a new generation would cost the O(|E|) the pruning
# exists to avoid).  That leaves a crash window: Spark's dynamic
# partition overwrite commits per job, and the annihilated-partition
# sweep runs after it, so a kill can leave SOME touched partitions
# merged and others stale — a torn table the action log alone cannot
# repair, because the merge is an upsert (replaying onto an
# already-merged partition double-counts weights).  The undo journal
# closes it with rollback-journal semantics (the same contract the
# reference's sqlite backend leans on around tests/sqlite/test.c:341):
# copy the touched partitions aside, write the record, mutate, delete
# the record.  Recovery (``recover_trickle``) restores the pre-batch
# copies by COPY (not move), deleting the record only once every
# partition is back — so a crash during recovery itself just re-runs
# it; after rollback the action batch replays cleanly.  The journal
# is dotfile-named, so Spark's file index never reads it as data.
# Journal cost: one extra copy of the touched sliver (k/B of the
# table), the same order as the merge's own read — and nothing on
# the untouched remainder.

_TRICKLE_JOURNAL = ".trickle-journal"


def _journal_paths(data_dir: str):
    jdir = f"{data_dir}/{_TRICKLE_JOURNAL}"
    return jdir, f"{jdir}/record.json"


def _snapshot_partition_localfs(src_dir: str, dst_dir: str) -> bool:
    """Hard-link every file of ``src_dir`` into ``dst_dir`` (local FS
    only).  Returns False — with any partial dst cleaned up — when the
    layout or the FS can't do it, so the caller falls back to a byte
    copy.  Safe because store parquet files are IMMUTABLE: the
    overwrite path replaces them by delete+create (never truncates in
    place), so a surviving link preserves the pre-batch bytes."""
    import os as _os
    import shutil as _shutil

    try:
        entries = _os.listdir(src_dir)
        if any(
            not _os.path.isfile(_os.path.join(src_dir, n)) for n in entries
        ):
            return False  # unexpected nesting: take the copy path
        _os.makedirs(dst_dir, exist_ok=True)
        for n in entries:
            _os.link(_os.path.join(src_dir, n), _os.path.join(dst_dir, n))
        return True
    except OSError:
        _shutil.rmtree(dst_dir, ignore_errors=True)
        return False


def _write_trickle_journal(spark, data_dir: str, touched: list[int]) -> None:
    """Snapshot the current files of every touched partition into the
    journal, then publish the record (files first, record last: the
    record's existence certifies the snapshots are complete).

    Round-11 (guide §6 I/O, round-10 verdict item 5): on a local
    filesystem the snapshot is a HARD LINK per file instead of a byte
    copy — the journal pass over the k/B sliver becomes metadata-only.
    Non-local schemes (hdfs://, s3a://...) and any link failure fall
    back to the original ``FileUtil.copy``.  Locality is the scheme of
    the resolved filesystem, not of ``data_dir``: a scheme-less path
    under a non-local ``fs.defaultFS`` lives on that filesystem, and
    linking a same-named local directory would journal the wrong
    bytes.  Crash-safety is unchanged: links are published before the
    record, recovery restores by copy (a link carries the pre-batch
    bytes because store files are immutable and replaced by
    delete+create, never appended)."""
    import json as _json

    fs, pcls = _hadoop_fs(spark, data_dir)
    jdir, jrec = _journal_paths(data_dir)
    # a stale journal here means the previous merge crashed and the
    # caller didn't recover — refuse rather than overlay two batches
    if fs.exists(pcls(jrec)):
        raise RuntimeError(
            f"unrecovered trickle journal at {jdir}; run recover_trickle()"
        )
    if fs.exists(pcls(jdir)):  # torn journal from an earlier crash
        fs.delete(pcls(jdir), True)
    futil = spark._jvm.org.apache.hadoop.fs.FileUtil
    conf = spark._jsc.hadoopConfiguration()
    is_local = fs.getUri().getScheme() == "file"
    local_root = data_dir[len("file:"):] if data_dir.startswith("file:") else data_dir
    jdir_local = jdir[len("file:"):] if jdir.startswith("file:") else jdir
    existing = []
    for p in touched:
        src = pcls(f"{data_dir}/pt={p}")
        if fs.exists(src):
            if not (
                is_local
                and _snapshot_partition_localfs(
                    f"{local_root}/pt={p}", f"{jdir_local}/pt={p}"
                )
            ):
                futil.copy(fs, src, fs, pcls(f"{jdir}/pt={p}"), False, conf)
            existing.append(p)
    out = fs.create(pcls(jrec), False)  # exclusive: never clobbers
    try:
        out.write(bytearray(
            _json.dumps({"touched": touched, "had_dir": existing}).encode()
        ))
        out.hsync()
    finally:
        out.close()


def _clear_trickle_journal(spark, data_dir: str) -> None:
    fs, pcls = _hadoop_fs(spark, data_dir)
    jdir, jrec = _journal_paths(data_dir)
    # record first: once it is gone the journal is inert garbage
    if fs.exists(pcls(jrec)):
        fs.delete(pcls(jrec), False)
    if fs.exists(pcls(jdir)):
        fs.delete(pcls(jdir), True)


def recover_trickle(spark, data_dir: str) -> bool:
    """Roll back a crashed trickle merge: restore every journaled
    partition to its pre-batch content and clear the journal.

    Returns ``True`` if a rollback happened.  Idempotent — restores by
    copy and deletes the record only after every partition is back, so
    a crash DURING recovery re-runs cleanly.  A journal directory with
    no record (crash while journaling, before any mutation) is swept
    without touching data.  After a rollback the interrupted action
    batch replays cleanly from the action log (the source of truth).
    """
    import json as _json

    fs, pcls = _hadoop_fs(spark, data_dir)
    jdir, jrec = _journal_paths(data_dir)
    if not fs.exists(pcls(jrec)):
        if fs.exists(pcls(jdir)):
            fs.delete(pcls(jdir), True)  # torn journal, data untouched
        return False
    stream = fs.open(pcls(jrec))
    try:
        rec = _json.loads(
            spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        )
    finally:
        stream.close()
    futil = spark._jvm.org.apache.hadoop.fs.FileUtil
    conf = spark._jsc.hadoopConfiguration()
    had_dir = set(rec.get("had_dir", rec["touched"]))
    for p in rec["touched"]:
        live = pcls(f"{data_dir}/pt={p}")
        if fs.exists(live):
            fs.delete(live, True)
        if p in had_dir:
            futil.copy(fs, pcls(f"{jdir}/pt={p}"), fs, live, False, conf)
    _clear_trickle_journal(spark, data_dir)
    return True


def apply_actions_pruned(
    spark,
    path: str,
    actions: DataFrame,
    n_parts: int | None = None,
) -> dict:
    """Merge an action batch into a stored edge table in place,
    rewriting only the partitions the batch touches.

    Semantics are exactly :func:`apply_actions` (sequential-replay
    upsert/delete fixpoint, M13); only the storage strategy differs.
    Returns ``{"touched": k, "n_parts": B, "stage_s": {...}}`` for
    observability — the pruning ratio k/B is the cost model, and
    ``stage_s`` breaks the wall clock into recover / delta-fold /
    base-read / journal-copy / overwrite-write / annihilate-cleanup so
    a small-batch fixed cost can be attributed to the stage that
    carries it instead of guessed at.

    Scale shape: the delta is tiny relative to the table, so the
    touched-partition list is a bounded ``collect`` (≤ ``n_parts``
    ints); the base read prunes to touched partitions at the parquet
    source (directory partition pruning — verify with
    ``PartitionFilters`` in the scan node); the write uses dynamic
    partition overwrite so untouched partition directories are never
    opened.  A touched partition whose merge result is empty (every
    key annihilated) is NOT rewritten by dynamic overwrite — its stale
    directory is dropped explicitly through the Hadoop FileSystem API
    (works on any cluster FS, not just local disk).

    The partition count is read from the store's commit record
    (``n_parts`` may be passed only to assert it).  The touched
    partitions are overwritten IN PLACE within the live generation —
    that is the pruning trade (copying untouched partitions into a new
    generation would cost the O(|E|) the pruning exists to avoid).
    Crash safety comes from the trickle UNDO JOURNAL: the touched
    partitions are copied aside before the overwrite (cost: one extra
    pass over the k/B sliver, nothing on the rest), and a kill at any
    point — mid-journal, between partition overwrites, before the
    annihilation sweep, during cleanup — is rolled back to the
    pre-batch state by :func:`recover_trickle` (auto-invoked here, on
    the writer path only — readers must opt in via
    ``read_edge_store(..., recover=True)``), after which the batch
    replays cleanly
    from the action log.  Replay WITHOUT rollback would double-count
    (the merge is an upsert), which is why the journal exists.  The
    bulk-rewrite path (:func:`apply_actions_auto`) gets the same
    guarantee from the generation-pointer swap instead, where a
    whole-table write is already being paid.
    """
    meta = store_meta(spark, path)
    if meta is not None:
        if n_parts is not None and n_parts != meta["n_parts"]:
            raise ValueError(
                f"store at {path} is committed with n_parts="
                f"{meta['n_parts']}, caller passed {n_parts}"
            )
        n_parts = meta["n_parts"]
        data_dir = meta["data_dir"]
    else:  # pre-generation flat layout: caller must know B
        if n_parts is None:
            raise ValueError(
                "flat (uncommitted) store layout requires explicit n_parts"
            )
        data_dir = path
    import time as _time

    stage_s: dict[str, float] = {}
    _t0 = _time.time()

    def _stamp(stage: str) -> None:
        nonlocal _t0
        now = _time.time()
        stage_s[stage] = round(now - _t0, 3)
        _t0 = now

    recover_trickle(spark, data_dir)  # roll back any crashed predecessor
    _stamp("recover")
    delta = batch_delta(both_directions(decode_actions(actions))).withColumn(
        "pt", _store_pt(n_parts)
    )
    delta = delta.localCheckpoint(eager=True)  # reuse: touched scan + merge
    touched = sorted(r["pt"] for r in delta.select("pt").distinct().collect())
    _stamp("delta_fold")
    if not touched:
        delta.unpersist()
        return {"touched": 0, "n_parts": n_parts, "stage_s": stage_s}

    # localCheckpoint the pruned base subset: (a) Spark refuses to
    # overwrite a path its write plan still reads from, so the lineage
    # must be cut; (b) the subset is exactly the data being rewritten,
    # k/B of the table, so the materialization is proportional to the
    # batch's footprint, not to |E|.
    base = (
        spark.read.schema(_STORE_SCHEMA)
        .parquet(data_dir)
        .filter(F.col("pt").isin(touched))
        .localCheckpoint(eager=True)
    )
    _stamp("base_read")
    merged = base.select("src", "dst", "wgt").join(
        delta.drop("pt"), ["src", "dst"], "full_outer"
    )
    out = (
        merged.select(
            "src",
            "dst",
            F.when(
                F.col("had_delete").isNull() | ~F.col("had_delete"),
                F.coalesce("wgt", F.lit(0)) + F.coalesce("ins_w", F.lit(0)),
            )
            .otherwise(F.col("ins_w"))
            .alias("wgt"),
        )
        .filter(F.col("wgt").isNotNull() & (F.col("wgt") > 0))
        .select("src", "dst", "wgt", _store_pt(n_parts))
    )

    # pre-write file-listing snapshot of the touched partition dirs:
    # dynamic overwrite replaces the files of every partition the
    # output CONTAINS, but a touched partition whose merge result is
    # empty (every key annihilated) is absent from the output, so its
    # stale directory survives the write untouched.  Comparing the
    # (job-UUID-named, hence write-unique) file sets before/after
    # identifies those without a second data pass — the manifest-diff
    # trick, metadata-only on any cluster FS.
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def _ls(pt: int) -> frozenset:
        hp = jvm.org.apache.hadoop.fs.Path(f"{data_dir}/pt={pt}")
        fs = hp.getFileSystem(conf)
        if not fs.exists(hp):
            return frozenset()
        return frozenset(
            st.getPath().getName() for st in fs.listStatus(hp)
        )

    before = {p: _ls(p) for p in touched}

    # undo journal BEFORE any mutation — a kill anywhere below rolls
    # back to this point and the batch replays from the action log
    _write_trickle_journal(spark, data_dir, touched)
    _stamp("journal_copy")

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        out.write.mode("overwrite").partitionBy("pt").parquet(data_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    _stamp("overwrite_write")

    for p in touched:
        if before[p] and _ls(p) == before[p]:  # untouched by the write ⇒ annihilated
            hp = jvm.org.apache.hadoop.fs.Path(f"{data_dir}/pt={p}")
            hp.getFileSystem(conf).delete(hp, True)
    _clear_trickle_journal(spark, data_dir)  # batch durable: journal inert
    delta.unpersist()
    base.unpersist()
    _stamp("annihilate_cleanup")
    return {"touched": len(touched), "n_parts": n_parts, "stage_s": stage_s}


# ---------------------------------------------------------------------------
# merge-regime auto-picker (round-6: the measured cost model as code)
# ---------------------------------------------------------------------------

#: below this table size the fixed job costs dominate every strategy
#: and one straight rewrite always won on the clock (measured round 5:
#: the 590k-row sf0.1 store lost with pruning even at 10 actions,
#: while the 65.7M-row SCALE-22 store won 3.4-6.3x — BENCHMARKS.md
#: "partition-pruned stored merge")
_PRUNE_MIN_TABLE_ROWS = 10_000_000

#: pruning pays only while the batch touches a small fraction of the
#: store's partitions.  Measured bracket on the 65.7M-row store:
#: 7.8% touched -> pruned wins 3.4x; 39% touched -> rewrite wins 4x.
#: 0.15 splits the bracket; the decision is insensitive inside it
#: because both regimes' wins are multiples, not percents.
_PRUNE_MAX_TOUCH_FRACTION = 0.15

#: ceiling for broadcasting the folded delta: ~25 bytes/key puts 4M
#: directed keys around 100 MB — comfortably inside executor memory,
#: far past any trickle batch (the reference's 1M-action bulk batch
#: folds to ~2M directed keys)
_BROADCAST_MAX_KEYS = 4_000_000


def merge_strategy(
    batch_keys: int,
    n_parts: int,
    table_rows: int,
    network_bound: bool = False,
) -> str:
    """Pick the measured-best physical strategy for merging an action
    batch into an edge table: ``"pruned"`` | ``"broadcast_delta"`` |
    ``"rewrite"``.

    Encodes the round-5 A/B cost model (BENCHMARKS.md "partition-
    pruned stored merge" crossover table) so callers get the measured
    decision instead of re-deriving it:

    * **trickle batch against a big stored table** → ``"pruned"``:
      read + rewrite only the touched hash partitions
      (:func:`apply_actions_pruned`), O(touched/B · |E|) instead of
      O(|E|).  Chosen when the expected touched-partition fraction
      (occupancy: ``B·(1-(1-1/B)^(2k))/B`` for ``k`` action keys,
      each action hitting 2 directed keys) stays under 15% — measured
      win 3.4-6.3x at 7.8% touched, measured loss 4x at 39%; on the
      4x-bigger SCALE-24 store the trickle win grows to 13.5x at 2%
      touched while the bulk loss holds at 8.1x (86% touched, where
      the occupancy formula predicted 879/1024 and 883 were measured
      — `PRUNED_AB_L24_r06.json`).
    * **bulk batch** → ``"rewrite"``: one ``full_outer`` merge +
      full write (:func:`apply_actions`), measured 11x faster than
      per-partition writes once most partitions are touched anyway.
    * **network-bound cluster, delta fits a broadcast** →
      ``"broadcast_delta"`` (:func:`apply_actions` with
      ``broadcast_delta=True``): the table is never shuffled — two
      broadcast scans replace its shuffle+sort.  On local[32] the
      shuffle is free so this was measured and *rejected* as the
      default; it inverts exactly when shuffle bytes cross a real
      network (the documented inversion, BENCHMARKS.md round 4).
    * **small table** (< 10M rows) → ``"rewrite"`` always: fixed job
      costs dominate and the toy-table A/B showed pruning losing at
      every batch size.

    ``batch_keys`` = number of (undirected) action keys in the batch
    (``actions.count()`` is a fine upper bound); ``n_parts`` = the
    store's hash-partition count B; ``table_rows`` = |E| of the stored
    table.  Pure arithmetic — costs nothing, safe on the driver.
    """
    if table_rows < _PRUNE_MIN_TABLE_ROWS:
        return "rewrite"
    directed = 2 * batch_keys
    # expected occupancy of B bins after 2k hashed throws
    exp_touched = n_parts * (1.0 - (1.0 - 1.0 / n_parts) ** directed)
    if exp_touched / n_parts <= _PRUNE_MAX_TOUCH_FRACTION:
        return "pruned"
    if network_bound and directed <= _BROADCAST_MAX_KEYS:
        return "broadcast_delta"
    return "rewrite"


def apply_actions_auto(
    spark,
    actions: DataFrame,
    edges: DataFrame | None = None,
    store_path: str | None = None,
    n_parts: int | None = None,
    table_rows: int | None = None,
    network_bound: bool = False,
    force: str | None = None,
    stats: dict | None = None,
) -> tuple[DataFrame, str]:
    """Merge ``actions`` via whichever physical path
    :func:`merge_strategy` picks; returns ``(merged_edges, strategy)``.

    Pass a dict as ``stats`` to receive per-merge observability
    without changing the return shape: the pruned path deposits its
    ``{"touched", "n_parts", "stage_s"}`` record under
    ``stats["pruned"]``.

    Pass ``store_path`` for a table maintained as an
    :func:`init_edge_store` layout (enables the pruned path; the store
    is updated in place and the returned DataFrame reads it back), or
    ``edges`` for an in-memory table (pruning unavailable — the picker
    then chooses between rewrite and broadcast-delta).  All three
    paths produce identical results (parity-tested in
    ``tests/test_pruned_merge.py``); only the physical cost differs.
    ``force`` overrides the picker with a specific strategy name —
    an escape hatch for workloads whose costs the model does not see
    (and the hook the parity tests drive all three paths through).

    ``n_parts`` is resolved, in order, from the store's commit record,
    the explicit argument, or :func:`derive_n_parts` of the table size
    — so a committed store can never be merged with the wrong B.
    """
    if (edges is None) == (store_path is None):
        raise ValueError("pass exactly one of edges / store_path")
    meta = store_meta(spark, store_path) if store_path is not None else None
    if meta is not None:
        if n_parts is not None and n_parts != meta["n_parts"]:
            raise ValueError(
                f"store at {store_path} is committed with n_parts="
                f"{meta['n_parts']}, caller passed {n_parts}"
            )
        n_parts = meta["n_parts"]
    # the picker IS the writer entry point, so it reads under the same
    # single-writer discipline apply_actions_pruned assumes: a hot
    # trickle journal here means the last merge crashed, and re-running
    # the merge must heal the store, not raise (recover=True replays
    # sqlite's hot-journal-on-open rollback before reading the base)
    base = (
        edges
        if edges is not None
        else read_edge_store(spark, store_path, recover=True)
    )
    if table_rows is None:
        table_rows = base.count()
    if n_parts is None:
        n_parts = derive_n_parts(table_rows)
    batch_keys = actions.count()
    strategy = force or merge_strategy(
        batch_keys, n_parts, table_rows, network_bound
    )
    if strategy not in ("pruned", "broadcast_delta", "rewrite"):
        raise ValueError(f"unknown merge strategy {strategy!r}")
    if strategy == "pruned" and store_path is None:
        strategy = "broadcast_delta" if network_bound else "rewrite"
    if strategy == "pruned":
        pruned = apply_actions_pruned(
            spark, store_path, actions, n_parts=n_parts
        )
        if stats is not None:
            stats["pruned"] = pruned
        return read_edge_store(spark, store_path), strategy
    merged = apply_actions(
        base, actions, broadcast_delta=(strategy == "broadcast_delta")
    )
    if store_path is not None:
        # a non-pruned strategy against a stored table is a rewrite:
        # stream the merged result into the store's NEXT generation
        # directory, then publish it with one atomic commit-record
        # create and GC the old generation — crash-safe at every step
        # (a crash before the commit leaves the old generation live
        # and the half-written gen dir as invisible garbage).  Never
        # localCheckpoint/cache the merged table — that would
        # materialize O(|E|) on the executors just to break the
        # read-your-own-write cycle the sibling generation dir already
        # avoids (the write reads gen-N while producing gen-N+1).
        gen, _ = _write_generation(merged, store_path, n_parts)
        _commit_store(spark, store_path, gen, n_parts)
        _gc_store(spark, store_path, gen)
        return read_edge_store(spark, store_path), strategy
    return merged, strategy
