"""Canonical datasets: driver testdata tables + derived graph views.

The driver materializes a TPC-H-ish star schema + ``events`` stream +
``documents``/``embeddings`` tables (``TESTDATA.md``).  The reference
engine's native shape is an undirected weighted edge list with an
update stream (SURVEY.md §1.1-1.2); this module derives that shape
deterministically from the driver tables so every graph query has a
DuckDB-checkable oracle (``FIXTURES.md`` §2).

Each view here has a matching SQL fragment in
:mod:`graphdb_testing_spark.oracles` — the two must stay in lockstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .graph import Graph

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: vertex-id namespace offset for suppliers in the part–supplier graph.
#: A high bit (2^40) rather than a decimal constant: partkey max is
#: 200k·sf, so a 1e6 offset would collide with partkeys at TPC-H
#: sf >= 5 and silently merge part/supplier vertices.  2^40 is beyond
#: any TPC-H key range yet far below int64 overflow even after
#: symmetrize/hash arithmetic.
SUPPLIER_OFFSET = 1 << 40


#: timestamp columns whose parquet encoding has varied across driver
#: testdata generations, normalized to TIMESTAMP_LTZ (UTC session) on
#: load:
#:
#: * TIMESTAMP(NANOS) — Spark's vectorized reader rejects nanos, so
#:   they surface as raw int64 under
#:   ``spark.sql.legacy.parquet.nanosAsLong`` and are converted via
#:   integer ``div 1000`` (double division would lose precision at
#:   1e18 ns); DuckDB truncates ns→µs the same way.
#: * TIMESTAMP(MICROS) with isAdjustedToUTC=false — surfaces as
#:   TIMESTAMP_NTZ; cast to TIMESTAMP_LTZ is value-preserving because
#:   the session timezone is pinned UTC, and LTZ is what
#:   ``unix_micros``/window functions expect.
TIMESTAMP_NANO_COLS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def ensure_utc(spark: SparkSession) -> None:
    """Pin session timezone + nanos handling so timestamp semantics
    match the DuckDB oracle (DuckDB TIMESTAMP is UTC-naive µs)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_utc(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    for c in TIMESTAMP_NANO_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# derived graphs (FIXTURES.md §2)
# ---------------------------------------------------------------------------


def part_supplier_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Bipartite part–supplier co-occurrence graph.

    Vertices: partkeys (namespace 0) and ``suppkey + 2^40``
    (namespace 1).  Symmetric, dedup'd, weight = co-occurrence count —
    mirrors the generator's weight-as-multiplicity canonical form
    (reference ``rmatter/src/rmatter.c:270-291``).  Matches
    ``FIXTURES.md`` §2.1 / :data:`oracles.EDGES_CTE`.
    """
    li = load_table(spark, sf_dir, "lineitem")
    directed = li.groupBy(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + SUPPLIER_OFFSET).alias("dst"),
    ).agg(F.count("*").alias("wgt"))
    sym = directed.unionAll(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "wgt")
    )
    return Graph(edges=sym)


def user_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Event co-participation graph over users.

    Users are connected when they produced the same ``event_type``
    within the same hour; weight = number of such co-occurrences.
    Matches ``FIXTURES.md`` §2.2 / :data:`oracles.USER_EDGES_CTE`.
    Non-bipartite and dense → the fixture for triangles / clustering
    coefficients / k-core.
    """
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    a = ev.alias("a")
    b = ev.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("src"),
            F.col("b.user_id").alias("dst"),
        )
        .agg(F.count("*").alias("wgt"))
    )
    sym = pairs.unionAll(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "wgt")
    )
    return Graph(edges=sym)


def typed_user_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """User co-participation graph with a typed edge relation.

    Same construction as :func:`user_graph`, but each co-occurrence
    keeps the event type that produced it: ``etype`` = 0-based dense
    rank of ``event_type`` (alphabetical — deterministic on both
    engines, mirroring the reference's small-int edge-type ids,
    ``tests/stinger/include/stinger-defs.h:25``).  Edges are
    per-(src, dst, etype) — the same vertex pair may carry several
    typed edges, exactly the reference's typed adjacency.  Matches
    :data:`oracles.TYPED_EDGES_CTE`.
    """
    ensure_utc(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    from pyspark.sql import Window

    # handful of event types → the global-order window is a no-op
    # partition at any scale (the dim is tiny; the join broadcasts)
    tmap = (
        ev.select(F.col("event_type").alias("t_event_type"))
        .distinct()
        .withColumn(
            "etype",
            (F.dense_rank().over(Window.orderBy("t_event_type")) - 1).cast("long"),
        )
    )
    a = ev.alias("a")
    b = ev.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .join(F.broadcast(tmap), F.col("a.event_type") == F.col("t_event_type"))
        .groupBy(
            F.col("a.user_id").alias("src"),
            F.col("b.user_id").alias("dst"),
            "etype",
        )
        .agg(F.count("*").alias("wgt"))
    )
    sym = pairs.unionAll(
        pairs.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "etype", "wgt"
        )
    )
    return Graph(edges=sym.select("src", "dst", "wgt", "etype"))


def typed_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(id, vtype)`` — vertex types for the user graph.

    The reference stores a small-int type per VERTEX next to the
    per-edge type (``tests/stinger/include/stinger.h:143-149``) and
    filters algorithms to "active" vtypes (A9's typed component
    count, ``tests/stinger/src/alg/static_components.c:106-264``).
    Here ``vtype`` = dense rank of the user's DOMINANT event type
    (most frequent, ties to the alphabetically first) — deterministic
    on both engines.  Matches :data:`oracles.TYPED_VERTICES_CTE`.

    Scale shape: one groupBy on (user, type), a PARTITIONED window
    per user (never global), and a broadcast join against the tiny
    type dim.
    """
    ensure_utc(spark)
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    wdom = Window.partitionBy("user_id").orderBy(
        F.desc("n"), F.asc("event_type")
    )
    dom = (
        counts.withColumn("rn", F.row_number().over(wdom))
        .filter(F.col("rn") == 1)
        .select(F.col("user_id").alias("id"), "event_type")
    )
    tmap = (
        ev.select("event_type")
        .distinct()
        .withColumn(
            "vtype",
            (F.dense_rank().over(Window.orderBy("event_type")) - 1).cast(
                "long"
            ),
        )
    )
    return dom.join(F.broadcast(tmap), "event_type").select("id", "vtype")


def directed_user_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed orientation of the user co-participation graph.

    Each undirected co-occurrence pair ``(u < v)`` becomes exactly one
    directed edge, oriented by the portable hash draw
    ``hash_mod("dir", [u, v], 2)`` (:mod:`hashutil`) — a deterministic
    pseudo-random orientation, so a connected co-occurrence core
    yields non-trivial SCCs while DAG fringes stay singletons.
    Matches :data:`oracles.DIRECTED_EDGES_CTE`.

    Schema: ``(src LONG, dst LONG)``, distinct.
    """
    ensure_utc(spark)
    from .hashutil import hash_mod

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    )
    a = ev.alias("a")
    b = ev.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(F.col("a.user_id").alias("u"), F.col("b.user_id").alias("v"))
        .distinct()
    )
    flip = hash_mod("dir", [F.col("u"), F.col("v")], F.lit(2)) == 1
    return pairs.select(
        F.when(flip, F.col("v")).otherwise(F.col("u")).alias("src"),
        F.when(flip, F.col("u")).otherwise(F.col("v")).alias("dst"),
    )


def actions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic update stream derived from ``events``.

    Mirrors the reference actions file (``rmatter.c:349-369``):
    ~1/16 deletions, deletion encoded as the bitwise complement
    ``~x == -(x+1)`` of both endpoints (decode rule documented at
    ``tests/stinger/include/core/stinger-workflow.h:53-70``).
    Matches ``FIXTURES.md`` §2.3 / :data:`oracles.ACTIONS_CTE`.

    Schema: ``(seq LONG, src LONG, dst LONG, weight LONG, ts TIMESTAMP)``
    — ``src``/``dst`` still complement-encoded; decode with
    :func:`graphdb_testing_spark.operators.updates.decode_actions`.
    """
    ev = load_table(spark, sf_dir, "events")
    is_del = F.col("event_id") % 16 == 0
    return ev.select(
        F.col("event_id").alias("seq"),
        F.when(is_del, -(F.col("user_id") + 1)).otherwise(F.col("user_id")).alias("src"),
        F.when(is_del, -((F.col("event_id") % 997) + 1))
        .otherwise(F.col("event_id") % 997)
        .alias("dst"),
        F.lit(1).cast("long").alias("weight"),
        F.col("ts"),
    )
