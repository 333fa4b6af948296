"""Temporal-join + windowed-analytics queries and DuckDB oracles.

Covers the operators a training-data pipeline layers on top of the
reference's time-filtered scans (``include/stinger.h:312-315``):
point-in-time (as-of) join, interval/range join, multi-granularity
rollups, and per-group top-k.  Registered into the shared registry on
import, like :mod:`queries_pipeline`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import datasets
from .functions import dedup
from .operators.components import connected_components
from .operators.temporal import asof_join, range_join
from .queries import register

# ---------------------------------------------------------------------------
# as-of (point-in-time) join: latest strictly-prior purchase per event
# ---------------------------------------------------------------------------


@register(
    "asof_latest_purchase",
    """
SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
       p.event_id AS last_purchase_id, p.value AS last_purchase_value
FROM events e
LEFT JOIN LATERAL (
  SELECT p.event_id, p.value FROM events p
  WHERE p.user_id = e.user_id AND p.event_type = 'purchase'
    AND (p.ts < e.ts OR (p.ts = e.ts AND p.event_id < e.event_id))
  ORDER BY p.ts DESC, p.event_id DESC LIMIT 1
) p ON true
""",
)
def q_asof_latest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every event, the user's most recent strictly-prior purchase
    (ties broken by event id) — the point-in-time feature-join shape.
    One shuffle on ``user_id``; the oracle's LATERAL probe is the
    O(n·m) formulation of the same semantics."""
    ev = datasets.load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("last_purchase_id"),
        F.col("value").alias("last_purchase_value"),
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        purchases,
        on=["user_id"],
        left_time="ts",
        right_time="ts",
        value_cols=["last_purchase_id", "last_purchase_value"],
        tiebreak=("event_id", "last_purchase_id"),
        strict=True,
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "last_purchase_id",
        "last_purchase_value",
    )


# ---------------------------------------------------------------------------
# interval/range join: activity within 10 minutes after a same-user error
# ---------------------------------------------------------------------------


@register(
    "error_followup_events",
    """
SELECT er.event_id AS error_id, er.user_id,
       COUNT(e.event_id) AS n_follow,
       CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events er
LEFT JOIN events e
  ON e.user_id = er.user_id AND e.event_type <> 'error'
 AND e.ts >= er.ts AND e.ts <= er.ts + INTERVAL 10 MINUTE
WHERE er.event_type = 'error'
GROUP BY 1, 2
""",
)
def q_error_followup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per error event: count + value of the same user's non-error
    events in the closed 10-minute window after it.  Implemented with
    the bucketed :func:`range_join` (equi-join on (user, bucket), then
    the exact containment filter) — no nested-loop join at any scale."""
    ev = datasets.load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("err_ts"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("win_end"),
    )
    pts = ev.filter(F.col("event_type") != "error").select(
        "user_id", "ts", "value", F.col("event_id").alias("pt_id")
    )
    matches = range_join(
        pts,
        errors,
        on=["user_id"],
        point_time="ts",
        start="err_ts",
        end="win_end",
        bucket_us=600_000_000,
    )
    agg = matches.groupBy("error_id").agg(
        F.count("*").alias("n_follow"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )
    return (
        errors.select("error_id", "user_id")
        .join(agg, "error_id", "left")
        .select(
            "error_id",
            "user_id",
            F.coalesce("n_follow", F.lit(0)).alias("n_follow"),
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# near-dup GROUP resolution: LSH pairs → connected components → canonical id
# ---------------------------------------------------------------------------

_NEAR_DUP_THRESHOLD = 0.5


def _near_dup_groups_oracle() -> str:
    from .queries_pipeline import _minhash_oracle

    return f"""
WITH RECURSIVE cand AS (
{_minhash_oracle()}
),
pairs AS (SELECT a_id, b_id FROM cand WHERE jaccard >= {_NEAR_DUP_THRESHOLD}),
pedges AS (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL
  SELECT b_id, a_id FROM pairs
),
reach(id, label) AS (
  SELECT src, src FROM pedges
  UNION
  SELECT e.dst, r.label FROM pedges e JOIN reach r ON e.src = r.id
),
labels AS (SELECT id, MIN(label) AS label FROM reach GROUP BY id)
SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS group_id
FROM documents d LEFT JOIN labels l ON l.id = d.doc_id
"""


@register("near_dup_groups", _near_dup_groups_oracle())
def q_near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup group assignment: MinHash-LSH candidates →
    exact-Jaccard ≥ 0.5 → connected components over the near-dup pair
    graph → every document labeled with its group's min doc_id
    (singletons label themselves).  Composes the pipeline half
    (:mod:`functions.dedup`) with the graph half
    (:func:`operators.components.connected_components`) — the shape of
    fleet-scale corpus dedup."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(docs, threshold=_NEAR_DUP_THRESHOLD)
    edges = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionAll(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    labels = connected_components(edges)
    out = (
        docs.select("doc_id")
        .join(labels, docs.doc_id == labels.id, "left")
        .select(
            "doc_id", F.coalesce("label", F.col("doc_id")).alias("group_id")
        )
    )
    labels.unpersist()
    return out


# ---------------------------------------------------------------------------
# dedup decision: near-dup groups + quality → keep the best document
# ---------------------------------------------------------------------------


def _keep_best_oracle() -> str:
    from .queries_graphops import _QUALITY_ORACLE

    return f"""
WITH g AS (
{_near_dup_groups_oracle()}
),
q AS (
{_QUALITY_ORACLE}
),
ranked AS (
  SELECT g.doc_id, g.group_id, q.quality,
         FIRST_VALUE(g.doc_id) OVER (PARTITION BY g.group_id
                                     ORDER BY q.quality DESC, g.doc_id)
           AS keep_id
  FROM g JOIN q USING (doc_id)
)
SELECT doc_id, group_id, quality, keep_id,
       CAST(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM ranked
"""


@register("dedup_keep_best", _keep_best_oracle())
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-dedup decision: near-dup groups (LSH → CC) joined
    with heuristic quality scores; each group keeps its highest-quality
    document (ties → smallest doc_id).  ``kept = 1`` rows are the
    surviving corpus."""
    from .functions import textstats

    docs = datasets.load_table(spark, sf_dir, "documents")
    groups = q_near_dup_groups(spark, sf_dir)
    quality = textstats.quality_score(docs)
    joined = groups.join(quality, "doc_id")
    w = Window.partitionBy("group_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return (
        joined.withColumn("keep_id", F.first("doc_id").over(w))
        .select(
            "doc_id",
            "group_id",
            "quality",
            "keep_id",
            (F.col("doc_id") == F.col("keep_id")).cast("long").alias("kept"),
        )
    )


# ---------------------------------------------------------------------------
# multi-granularity rollup (hypertable-style day/type cube slice)
# ---------------------------------------------------------------------------


@register(
    "events_rollup",
    """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       event_type,
       CAST(GROUPING(date_trunc('day', ts)) * 2 + GROUPING(event_type) AS BIGINT)
         AS gid,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events
GROUP BY ROLLUP (date_trunc('day', ts), event_type)
""",
)
def q_events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (day, event_type) → day → grand total in
    one pass — Spark's ROLLUP grouping sets are map-side-combined like
    any hash aggregate, so the three granularities cost one shuffle."""
    ev = datasets.load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    return (
        ev.rollup(day.alias("day"), F.col("event_type"))
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.col("day").cast("long").alias("day_epoch"),
            "event_type",
            "gid",
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# per-group top-k (window ranking)
# ---------------------------------------------------------------------------


@register(
    "top_orders_per_priority",
    """
SELECT o_orderpriority, rk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
           AS rk
  FROM orders
)
WHERE rk <= 3
""",
)
def q_top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by total price within each priority class —
    the canonical per-group top-k; Spark pushes the rank filter into
    a partial ``WindowGroupLimit`` before the shuffle."""
    orders = datasets.load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# SCD type-2 dimension building (state-change history intervals)
# ---------------------------------------------------------------------------

_SENTINEL_US = 9223372036854775807  # open interval: "until further notice"

_SCD2_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_type AS state, epoch_us(ts) AS ts_us,
         LAG(event_type) OVER w AS prev_state
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
changes AS (
  SELECT user_id, state, ts_us
  FROM ordered WHERE prev_state IS NULL OR prev_state <> state
)
SELECT user_id, state,
       ts_us AS valid_from_us,
       COALESCE(LEAD(ts_us) OVER w2, {_SENTINEL_US}) AS valid_to_us,
       CAST(LEAD(ts_us) OVER w2 IS NULL AS BIGINT) AS is_current
FROM changes
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, state)
"""


@register("user_state_history", _SCD2_ORACLE)
def q_user_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) history: collapse each
    user's event stream into state-change validity intervals
    ``[valid_from, valid_to)`` with an open-ended current row — the
    standard lag-filter-lead gaps-and-islands plan.  Both windows
    share the ``user_id`` partition key, so the whole query is ONE
    hash shuffle; at 100 TB the state table partitions by user and
    never materializes the un-collapsed stream."""
    ev = datasets.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.unix_micros("ts").alias("ts_us"),
        F.lag("event_type").over(w).alias("prev_state"),
    )
    changes = ordered.filter(
        F.col("prev_state").isNull() | (F.col("prev_state") != F.col("state"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "state")
    lead_us = F.lead("ts_us").over(w2)
    return changes.select(
        "user_id",
        "state",
        F.col("ts_us").alias("valid_from_us"),
        F.coalesce(lead_us, F.lit(_SENTINEL_US)).alias("valid_to_us"),
        lead_us.isNull().cast("long").alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Markov transition matrix over per-user event sequences
# ---------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type AS next_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
pairs AS (
  SELECT prev_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
)
SELECT prev_type, next_type, n,
       CAST((1000 * n) // SUM(n) OVER (PARTITION BY prev_type) AS BIGINT)
         AS prob_milli
FROM pairs
"""


@register("event_transitions", _TRANSITIONS_ORACLE)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + probabilities between
    consecutive event types per user — the sequence-mining building
    block (next-event prediction, funnel discovery).  One window
    shuffle on ``user_id``, one aggregation on the (tiny) type-pair
    key, integer milli-probabilities so the oracle is float-free."""
    ev = datasets.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    pairs = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return (
        pairs.withColumn("total", F.sum("n").over(wp))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("(1000 * n) div total").cast("long").alias("prob_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Temporal motifs: time-respecting 2-paths within a delta window
# ---------------------------------------------------------------------------

_DELTA_US = 30 * 60 * 1_000_000  # 30 minutes

_T2P_ORACLE = f"""
WITH inter AS (
  SELECT a.user_id AS src, b.user_id AS dst, epoch_us(b.ts) AS t
  FROM events a JOIN events b
    ON a.event_type = b.event_type
   AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
   AND a.user_id <> b.user_id
   AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
),
paths AS (
  SELECT i1.dst AS mid
  FROM inter i1 JOIN inter i2
    ON i2.src = i1.dst
   AND i2.t > i1.t
   AND i2.t - i1.t <= {_DELTA_US}
)
SELECT mid AS user_id, CAST(COUNT(*) AS BIGINT) AS n_2paths
FROM paths GROUP BY mid
"""


@register("temporal_2paths", _T2P_ORACLE)
def q_temporal_2paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting 2-path motif count per middle vertex: u→v
    followed by v→w within 30 minutes (Paranjape/Benson/Leskovec,
    "Motifs in temporal networks", WSDM'17 — the δ-temporal M_2
    family).  Interactions are time-ordered co-occurrences; the motif
    join is vertex-keyed with a range predicate — at 100 TB, bucket
    the time axis (operators/temporal.range_join) so the inequality
    never degrades to a nested-loop join; at this fixture's density
    the equi-key join carries it."""
    ev = datasets.load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.col("ts"),
        F.unix_micros("ts").alias("t_us"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    inter = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.hour") == F.col("b.hour"))
        & (F.col("a.user_id") != F.col("b.user_id"))
        & (
            (F.col("a.ts") < F.col("b.ts"))
            | ((F.col("a.ts") == F.col("b.ts")) & (F.col("a.event_id") < F.col("b.event_id")))
        ),
    ).select(
        F.col("a.user_id").alias("src"),
        F.col("b.user_id").alias("dst"),
        F.col("b.t_us").alias("t"),
    ).localCheckpoint()
    i1 = inter.alias("i1")
    i2 = inter.alias("i2")
    return (
        i1.join(
            i2,
            (F.col("i2.src") == F.col("i1.dst"))
            & (F.col("i2.t") > F.col("i1.t"))
            & (F.col("i2.t") - F.col("i1.t") <= F.lit(_DELTA_US)),
        )
        .groupBy(F.col("i1.dst").alias("user_id"))
        .agg(F.count("*").cast("long").alias("n_2paths"))
    )


# ---------------------------------------------------------------------------
# Market-basket pairs: event-type co-occurrence support + lift
# ---------------------------------------------------------------------------

_BASKET_ORACLE = """
WITH baskets AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d, event_type
  FROM events
),
nb AS (SELECT CAST(COUNT(DISTINCT (user_id, d)) AS BIGINT) AS n FROM baskets),
supp AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS s
  FROM baskets GROUP BY event_type
),
pair_supp AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(COUNT(*) AS BIGINT) AS support
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.d = b.d AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.support,
       CAST((1000 * p.support * nb.n) // (sa.s * sb.s) AS BIGINT) AS lift_milli
FROM pair_supp p
JOIN supp sa ON sa.event_type = p.type_a
JOIN supp sb ON sb.event_type = p.type_b
CROSS JOIN nb
"""


@register("frequent_type_pairs", _BASKET_ORACLE)
def q_frequent_type_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule co-occurrence: baskets = (user, day) sets of
    event types; per pair, support and integer milli-lift
    ``1000·supp(ab)·N / (supp(a)·supp(b))`` — the Apriori first level
    re-expressed as two hash aggregations and a basket-keyed
    self-join.  Supports/lifts are exact integers, so the oracle is
    float-free; at 100 TB the pair space is |types|² (tiny) while the
    shuffles stay keyed on baskets."""
    ev = datasets.load_table(spark, sf_dir, "events")
    baskets = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("d"), "event_type"
    ).distinct().localCheckpoint()
    nb = baskets.select("user_id", "d").distinct().count()
    supp = baskets.groupBy("event_type").agg(F.count("*").cast("long").alias("s"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair_supp = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.d") == F.col("b.d"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("long").alias("support"))
    )
    sa = supp.select(F.col("event_type").alias("type_a"), F.col("s").alias("sa"))
    sb = supp.select(F.col("event_type").alias("type_b"), F.col("s").alias("sb"))
    return (
        pair_supp.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "support",
            F.expr(f"(1000 * support * {nb}) div (sa * sb)")
            .cast("long")
            .alias("lift_milli"),
        )
    )


# ---------------------------------------------------------------------------
# time-weighted average value per user (TWAP)
# ---------------------------------------------------------------------------

_TWAP_ORACLE = """
WITH seq AS (
  SELECT user_id, CAST(value AS DECIMAL(18,6)) AS v, epoch_us(ts) AS t,
         LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS t_next
  FROM events
),
spans AS (
  SELECT user_id, v, CAST(t_next - t AS BIGINT) AS dur
  FROM seq WHERE t_next IS NOT NULL
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(dur) AS BIGINT) AS total_us,
       ROUND(CAST(SUM(v * dur) AS DOUBLE) / CAST(SUM(dur) AS DOUBLE), 6)
         AS twap
FROM spans GROUP BY user_id
HAVING SUM(dur) > 0
"""


@register("time_weighted_value", _TWAP_ORACLE)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation holds until the
    next one, weight = holding duration in µs.  ``Σ v·dur`` stays
    DECIMAL (exact, order-independent) with integer durations, so the
    one final double division is bit-deterministic — the metering /
    billing aggregation shape.  One user-keyed window + one
    aggregation."""
    ev = datasets.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("value").cast("decimal(18,6)").alias("v"),
        F.unix_micros("ts").alias("t"),
        F.lead(F.unix_micros("ts")).over(w).alias("t_next"),
    )
    spans = seq.filter(F.col("t_next").isNotNull()).select(
        "user_id", "v", (F.col("t_next") - F.col("t")).cast("long").alias("dur")
    )
    return (
        spans.groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum("dur").cast("long").alias("total_us"),
            F.sum(F.col("v") * F.col("dur")).alias("sv"),
        )
        .filter(F.col("total_us") > 0)
        .select(
            "user_id",
            "n_spans",
            "total_us",
            F.round(
                F.col("sv").cast("double") / F.col("total_us").cast("double"), 6
            ).alias("twap"),
        )
    )


# ---------------------------------------------------------------------------
# first-touch attribution: purchases credited to the earliest click
# in the prior 7 days
# ---------------------------------------------------------------------------

_ATTRIB_ORACLE = """
WITH purchases AS (
  SELECT event_id AS p_id, user_id, ts AS p_ts, CAST(value AS DECIMAL(18,6)) AS v
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT event_id AS c_id, user_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
),
touch AS (
  SELECT p.p_id, p.v, c.c_id, c.c_ts,
         ROW_NUMBER() OVER (PARTITION BY p.p_id ORDER BY c.c_ts, c.c_id) AS rn
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.c_ts <= p.p_ts AND p.p_ts <= c.c_ts + INTERVAL 7 DAY
)
SELECT CAST(epoch(date_trunc('day', c_ts)) AS BIGINT) AS click_day_epoch,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       CAST(SUM(v) AS DOUBLE) AS attributed_revenue
FROM touch WHERE rn = 1
GROUP BY 1
"""


@register("first_touch_attribution", _ATTRIB_ORACLE)
def q_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing first-touch attribution: each purchase's value is
    credited to the user's EARLIEST click in the preceding 7 days;
    revenue rolls up by click day.  The candidate join is the bucketed
    :func:`operators.temporal.range_join` (equi-join on
    (user, time-bucket) — no nested-loop plan), then one per-purchase
    first-touch window; money stays DECIMAL."""
    from .operators.temporal import range_join

    ev = datasets.load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("value").cast("decimal(18,6)").alias("v"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
        (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("win_end"),
    )
    touch = range_join(
        purchases.withColumnRenamed("p_ts", "ts"),
        clicks,
        on=["user_id"],
        point_time="ts",
        start="c_ts",
        end="win_end",
        bucket_us=7 * 86400 * 1_000_000,
    )
    w = Window.partitionBy("p_id").orderBy("c_ts", "c_id")
    first = touch.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return first.groupBy(
        F.date_trunc("day", F.col("c_ts")).cast("long").alias("click_day_epoch")
    ).agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum("v").cast("double").alias("attributed_revenue"),
    )


# ---------------------------------------------------------------------------
# time-respecting earliest arrival (temporal reachability)
# ---------------------------------------------------------------------------

_EA_SENTINEL = 9223372036854775807


def _earliest_arrival_oracle(rounds: int = 6) -> str:
    inter = """
tinter AS MATERIALIZED (
  SELECT a.user_id AS src, b.user_id AS dst, epoch_us(b.ts) AS t
  FROM events a JOIN events b
    ON a.event_type = b.event_type
   AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
   AND a.user_id <> b.user_id
   AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
),
src0 AS (SELECT MIN(src) AS s, MIN(epoch_us(ts)) AS t0
         FROM tinter, (SELECT MIN(ts) AS ts FROM events))"""
    ctes = [
        inter.strip(),
        "a0 AS (SELECT s AS id, t0 - 1 AS arr FROM src0)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""a{i} AS MATERIALIZED (
  SELECT id, MIN(arr) AS arr FROM (
    SELECT id, arr FROM a{p}
    UNION ALL
    SELECT e.dst AS id, e.t AS arr
    FROM tinter e JOIN a{p} s ON s.id = e.src
    WHERE s.arr <= e.t
  ) GROUP BY id)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT id, CAST(arr AS BIGINT) AS arrival_us FROM a{rounds}"
    )


@register("earliest_arrival_6round", _earliest_arrival_oracle(6))
def q_earliest_arrival_6round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting earliest arrival from the min-id user: a
    temporal path may only traverse interactions in non-decreasing
    time (Wu et al., "Path problems in temporal graphs", VLDB'14) —
    information/contagion spread, NOT plain reachability.  State is
    (vertex, min arrival µs); each round relaxes interactions whose
    start is after the current arrival — the SSSP plan with a time
    guard.  6 rounds ≥ the fixture's temporal diameter."""
    ev = datasets.load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        "ts",
        F.unix_micros("ts").alias("t_us"),
    )
    a = ev.alias("a")
    b = ev.alias("b")
    tinter = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.user_id") != F.col("b.user_id"))
            & (
                (F.col("a.ts") < F.col("b.ts"))
                | ((F.col("a.ts") == F.col("b.ts")) & (F.col("a.event_id") < F.col("b.event_id")))
            ),
        )
        .select(
            F.col("a.user_id").alias("src"),
            F.col("b.user_id").alias("dst"),
            F.col("b.t_us").alias("t"),
        )
        .localCheckpoint()
    )
    source = int(tinter.agg(F.min("src")).collect()[0][0])
    t0 = int(ev.agg(F.min("t_us")).collect()[0][0])
    spark_st = spark.createDataFrame(
        [(source, t0 - 1)], "id long, arr long"
    ).localCheckpoint()
    st = spark_st
    for _ in range(6):
        relaxed = (
            tinter.join(
                st.select(F.col("id").alias("src"), "arr"), "src"
            )
            .filter(F.col("arr") <= F.col("t"))
            .select(F.col("dst").alias("id"), F.col("t").alias("arr"))
        )
        st = (
            st.unionAll(relaxed)
            .groupBy("id")
            .agg(F.min("arr").alias("arr"))
            .localCheckpoint()
        )
    return st.select("id", F.col("arr").alias("arrival_us"))


# ---------------------------------------------------------------------------
# behavioral similarity: edit distance on event-type initial sequences
# ---------------------------------------------------------------------------

_BEHAVIOR_ORACLE = """
WITH seqs AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS sig
  FROM events GROUP BY user_id
),
sig20 AS (
  SELECT user_id, substr(sig, 1, 20) AS s FROM seqs
)
SELECT a.user_id AS a_id, b.user_id AS b_id,
       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM sig20 a JOIN sig20 b
  ON LENGTH(a.s) = LENGTH(b.s) AND a.user_id < b.user_id
WHERE levenshtein(a.s, b.s) <= 9
"""


@register("behavior_edit_pairs", _BEHAVIOR_ORACLE)
def q_behavior_edit_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral twins: users whose first-20-event type signatures
    are within edit distance 9 — sequence clustering for cohort
    discovery / bot-ring detection, blocked on signature length so
    the verify join never goes all-pairs.  The signature build is one
    ordered string_agg per user; distances are the same unit-cost DP
    on both engines."""
    ev = datasets.load_table(spark, sf_dir, "events")
    sigs = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                "substr(array_join(transform("
                "array_sort(collect_list(struct(ts, event_id, "
                "substr(event_type, 1, 1) as c))), s -> s.c), ''), 1, 20)"
            ).alias("s")
        )
    )
    a = sigs.alias("a")
    b = sigs.alias("b")
    return (
        a.join(
            b,
            (F.length(F.col("a.s")) == F.length(F.col("b.s")))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .select(
            F.col("a.user_id").alias("a_id"),
            F.col("b.user_id").alias("b_id"),
            F.levenshtein(F.col("a.s"), F.col("b.s")).cast("long").alias("dist"),
        )
        .filter(F.col("dist") <= 9)
    )


# ---------------------------------------------------------------------------
# sequential association rules: A then B within one day
# ---------------------------------------------------------------------------

_SEQRULES_ORACLE = """
WITH ab AS (
  SELECT DISTINCT a.user_id, a.event_type AS type_a, b.event_type AS type_b
  FROM events a JOIN events b
    ON b.user_id = a.user_id
   AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 DAY
   AND b.event_type <> a.event_type
),
supp_a AS (
  SELECT event_type AS type_a, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS na
  FROM events GROUP BY 1
),
rules AS (
  SELECT type_a, type_b, CAST(COUNT(*) AS BIGINT) AS support
  FROM ab GROUP BY 1, 2
)
SELECT r.type_a, r.type_b, r.support,
       CAST((1000 * r.support) // s.na AS BIGINT) AS confidence_milli
FROM rules r JOIN supp_a s USING (type_a)
"""


@register("sequential_rules", _SEQRULES_ORACLE)
def q_sequential_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential association rules A→B: users who did B within a day
    AFTER A (distinct users = support; confidence = support over A's
    audience) — the directional counterpart of the unordered basket
    pairs, mined with the bucketed range-join so the time predicate
    stays an equi-join at scale."""
    from .operators.temporal import range_join

    ev = datasets.load_table(spark, sf_dir, "events")
    pts = ev.select("user_id", "ts", F.col("event_type").alias("type_b"))
    ivs = ev.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("ts").alias("a_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("win_end"),
    )
    joined = range_join(
        pts,
        ivs,
        on=["user_id"],
        point_time="ts",
        start="a_ts",
        end="win_end",
        bucket_us=86400 * 1_000_000,
    ).filter((F.col("ts") > F.col("a_ts")) & (F.col("type_b") != F.col("type_a")))
    ab = joined.select("user_id", "type_a", "type_b").distinct()
    supp_a = ev.groupBy(F.col("event_type").alias("type_a")).agg(
        F.countDistinct("user_id").cast("long").alias("na")
    )
    rules = ab.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("support")
    )
    return rules.join(F.broadcast(supp_a), "type_a").select(
        "type_a",
        "type_b",
        "support",
        F.expr("(1000 * support) div na").cast("long").alias("confidence_milli"),
    )


# ---------------------------------------------------------------------------
# inter-event gap spectrum (burstiness profile)
# ---------------------------------------------------------------------------

_GAPS_ORACLE = """
WITH gaps AS (
  SELECT user_id,
         (epoch_us(ts) - LAG(epoch_us(ts))
            OVER (PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
           AS gap_s
  FROM events
)
SELECT CAST(LENGTH(bin(gap_s + 1)) AS BIGINT) AS bucket_log2,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_s) AS BIGINT) AS min_s,
       CAST(MAX(gap_s) AS BIGINT) AS max_s
FROM gaps WHERE gap_s IS NOT NULL
GROUP BY 1
"""


@register("interevent_gaps", _GAPS_ORACLE)
def q_interevent_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap spectrum: per-user consecutive-event gaps in
    whole seconds, binned by integer bit length (the portable log2
    histogram) — the burstiness profile separating human sessions
    from machine cadence; one user-keyed window + one aggregation."""
    ev = datasets.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        F.expr(
            "(unix_micros(ts) - lag(unix_micros(ts)) over"
            " (partition by user_id order by ts, event_id)) div 1000000"
        ).alias("gap_s")
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy(
        F.length(F.bin(F.col("gap_s") + 1)).cast("long").alias("bucket_log2")
    ).agg(
        F.count("*").cast("long").alias("n_gaps"),
        F.min("gap_s").cast("long").alias("min_s"),
        F.max("gap_s").cast("long").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# Watermark lateness audit (out-of-orderness spectrum per event type)
# ---------------------------------------------------------------------------

_LATENESS_ORACLE = """
WITH arr AS (
  SELECT event_type,
         GREATEST(0, MAX(epoch_us(ts)) OVER (
             PARTITION BY event_type ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           // 1000000 - epoch_us(ts) // 1000000) AS late_s
  FROM events
)
SELECT event_type,
       CAST(CASE WHEN late_s = 0 THEN 0
                 ELSE LENGTH(bin(late_s)) END AS BIGINT) AS bucket_log2,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s
FROM arr GROUP BY 1, 2
"""


@register("watermark_lateness", _LATENESS_ORACLE)
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness spectrum: per event as it *arrives* (arrival
    order = event_id), how far behind the running event-time high-water
    mark it is, log2-binned per type — exactly the statistic that
    sizes a Structured Streaming ``withWatermark`` delay (the p-max
    bucket says how much state a late-data-tolerant window must
    hold).  One keyed running-max window + one aggregation."""
    ev = datasets.load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    arr = ev.select(
        "event_type",
        F.greatest(
            F.lit(0),
            (F.max(F.expr("unix_micros(ts)")).over(w) / 1_000_000).cast("long")
            - F.expr("unix_micros(ts) div 1000000"),
        ).alias("late_s"),
    )
    return arr.groupBy(
        "event_type",
        F.when(F.col("late_s") == 0, F.lit(0))
        .otherwise(F.length(F.bin(F.col("late_s"))))
        .cast("long")
        .alias("bucket_log2"),
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.max("late_s").cast("long").alias("max_late_s"),
    )


# ---------------------------------------------------------------------------
# CEP pattern census: view (no error) purchase within 1h
# ---------------------------------------------------------------------------

_PATTERN_ORACLE = """
WITH pe AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type IN ('view', 'purchase', 'error')
),
seq AS (
  SELECT user_id, event_type, ts_us,
         MAX(CASE WHEN event_type = 'view' THEN ts_us END) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view,
         MAX(CASE WHEN event_type = 'error' THEN ts_us END) OVER (
           PARTITION BY user_id ORDER BY ts_us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_error
  FROM pe
)
SELECT user_id, CAST(last_view AS BIGINT) AS start_us,
       CAST(ts_us AS BIGINT) AS end_us
FROM seq
WHERE event_type = 'purchase' AND last_view IS NOT NULL
  AND ts_us - last_view <= 3600000000
  AND (last_error IS NULL OR last_error < last_view)
"""


@register("pattern_match_census", _PATTERN_ORACLE)
def q_pattern_match_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch census of the ``view (no error) purchase within 1h`` CEP
    pattern — one row per qualifying purchase with its matched view.
    The retrospective twin of
    :func:`~graphdb_testing_spark.streaming.workflow.streaming_pattern_match`
    (same latest-start / guard-kill semantics, same (ts, event_id)
    tie order); two keyed running-max windows + a filter, no joins."""
    from pyspark.sql import Window as W

    ev = datasets.load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "purchase", "error")
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
    ).select(
        "user_id",
        "event_type",
        "ts_us",
        F.max(
            F.when(F.col("event_type") == "view", F.col("ts_us"))
        ).over(w).alias("last_view"),
        F.max(
            F.when(F.col("event_type") == "error", F.col("ts_us"))
        ).over(w).alias("last_error"),
    )
    return seq.filter(
        (F.col("event_type") == "purchase")
        & F.col("last_view").isNotNull()
        & (F.col("ts_us") - F.col("last_view") <= 3_600_000_000)
        & (F.col("last_error").isNull() | (F.col("last_error") < F.col("last_view")))
    ).select(
        "user_id",
        F.col("last_view").cast("long").alias("start_us"),
        F.col("ts_us").cast("long").alias("end_us"),
    )


# ---------------------------------------------------------------------------
# Per-user EWMA of event values (ordered fold, bit-identical floats)
# ---------------------------------------------------------------------------

_EWMA_ORACLE = """
WITH eord AS (
  SELECT user_id,
         list(CAST(value AS DOUBLE) ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(len(vs) AS BIGINT) AS n_events,
       CAST(FLOOR(1e6 * list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
                                    (acc, v) -> acc / 2 + v)) AS BIGINT)
         AS ewma_micro
FROM eord
"""


@register("ewma_user_values", _EWMA_ORACLE)
def q_ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted value (half-life decay,
    ``acc/2 + v`` per event in time order).  Dividing by two is exact
    in binary floating point and the fold runs in the same
    (ts, event_id) order on both engines, so the result is
    bit-identical without integerizing the values themselves.

    Scale: one shuffle groups each user's events; the fold state is a
    scalar.  Group size is bounded by per-user activity (the
    sessionization bound documented in ``streaming/workflow.py``); a
    true streaming deployment keeps the same scalar as per-key state
    — the batch fold IS the replay of that state machine."""
    ev = datasets.load_table(spark, sf_dir, "events")
    grp = ev.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id, "
            "cast(value as double) as v))), s -> s.v)"
        ).alias("vs")
    )
    return grp.select(
        "user_id",
        F.size("vs").cast("long").alias("n_events"),
        F.floor(
            F.lit(1e6)
            * F.expr(
                "aggregate(vs, cast(0.0 as double), (acc, v) -> acc / 2 + v)"
            )
        )
        .cast("long")
        .alias("ewma_micro"),
    )


# ---------------------------------------------------------------------------
# Integer 2-state Viterbi burst detection (Kleinberg-style, exact)
# ---------------------------------------------------------------------------

from .functions.sketches import _bit_len, _bit_len_sql  # noqa: E402

_VIT_SWITCH = 6
_VIT_CALM_BASE = 12

_VITERBI_ORACLE = f"""
WITH vevt AS (
  SELECT user_id, ts, event_id,
         CAST(epoch_us(ts) // 1000000 AS BIGINT) AS ts_s
  FROM events
),
vgap AS (
  SELECT user_id, ts, event_id,
         ts_s - LAG(ts_s) OVER (PARTITION BY user_id ORDER BY ts_s, event_id)
           AS gap_s
  FROM vevt
),
vbuck AS (
  SELECT user_id, ts, event_id,
         CAST({_bit_len_sql("gap_s")} AS BIGINT) AS b
  FROM vgap WHERE gap_s IS NOT NULL
),
vseq AS (
  SELECT user_id, list(b ORDER BY ts, event_id) AS bs
  FROM vbuck GROUP BY user_id
),
vrun AS (
  SELECT user_id, CAST(len(bs) AS BIGINT) AS n_gaps,
         list_reduce(list_prepend([CAST(0 AS BIGINT), CAST({_VIT_SWITCH} AS BIGINT)],
                                  list_transform(bs, x -> [x])),
           (acc, g) -> [least(acc[1], acc[2] + {_VIT_SWITCH})
                          + greatest({_VIT_CALM_BASE} - g[1], 0),
                        least(acc[2], acc[1] + {_VIT_SWITCH}) + g[1]]) AS vc
  FROM vseq
)
SELECT CAST(user_id AS BIGINT) AS user_id, n_gaps,
       vc[1] AS calm_cost, vc[2] AS burst_cost,
       CAST(CASE WHEN vc[2] < vc[1] THEN 1 ELSE 0 END AS BIGINT) AS end_state
FROM vrun
"""


@register("burst_viterbi", _VITERBI_ORACLE)
def q_burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-state burst detection (Kleinberg, KDD'02, integerized):
    inter-event gaps bucket by exact bit length, a calm state charges
    ``max(12 − b, 0)`` (short gaps look bursty), a burst state charges
    ``b`` (long gaps end bursts), switching costs 6, and the Viterbi
    minimization runs as an ORDERED integer fold over each user's gap
    sequence — associativity-free sequence DP made engine-exact the
    same way as ``ewma_user_values``.  Output: terminal costs of both
    states and the cheaper end state per user."""
    ev = datasets.load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        (F.unix_micros("ts") / F.lit(1000000)).cast("long").alias("ts_s"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_s", "event_id")
    gap = ev.withColumn("gap_s", F.col("ts_s") - F.lag("ts_s").over(w)).filter(
        F.col("gap_s").isNotNull()
    )
    buck = gap.select(
        "user_id", "ts", "event_id", _bit_len(F.col("gap_s")).cast("long").alias("b")
    )
    seq = buck.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.expr(
            "transform(sort_array(collect_list(struct(ts, event_id, b))), s -> s.b)"
        ).alias("bs")
    )
    fold = (
        f"aggregate(bs, array(cast(0 as bigint), cast({_VIT_SWITCH} as bigint)),"
        f" (acc, g) -> array("
        f"least(acc[0], acc[1] + {_VIT_SWITCH})"
        f" + greatest({_VIT_CALM_BASE} - g, 0),"
        f" least(acc[1], acc[0] + {_VIT_SWITCH}) + g))"
    )
    return seq.select(
        "user_id",
        F.size("bs").cast("long").alias("n_gaps"),
        F.expr(fold).alias("vc"),
    ).select(
        "user_id",
        "n_gaps",
        F.expr("vc[0]").alias("calm_cost"),
        F.expr("vc[1]").alias("burst_cost"),
        F.expr("cast(IF(vc[1] < vc[0], 1, 0) as bigint)").alias("end_state"),
    )


# ---------------------------------------------------------------------------
# Run-length structure of per-user event-type sequences
# ---------------------------------------------------------------------------

_RLE_ORACLE = """
WITH rseq AS (
  SELECT user_id, event_type,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_start
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
rrun AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(is_start) AS BIGINT) AS n_runs
  FROM rseq GROUP BY user_id
),
rlen AS (
  SELECT user_id, MAX(run_len) AS longest_run FROM (
    SELECT user_id, run_id, COUNT(*) AS run_len FROM (
      SELECT user_id,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS run_id
      FROM (
        SELECT user_id, ts, event_id,
               CASE WHEN LAG(event_type) OVER
                      (PARTITION BY user_id ORDER BY ts, event_id)
                      IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS is_start
        FROM events))
    GROUP BY user_id, run_id)
  GROUP BY user_id
)
SELECT CAST(r.user_id AS BIGINT) AS user_id, r.n_events, r.n_runs,
       CAST(l.longest_run AS BIGINT) AS longest_run
FROM rrun r JOIN rlen l USING (user_id)
"""


@register("event_run_lengths", _RLE_ORACLE)
def q_event_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length structure of each user's event-type sequence
    (events, runs, longest run) — the repetition/compressibility audit
    for behavioral logs (n_runs ≪ n_events = bot-like repetition,
    the RLE twin of the text ``repetition_scores``).  Gaps-and-islands
    with two windows, both keyed on user."""
    ev = datasets.load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        (
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type"))
        ).cast("long").alias("is_start"),
    )
    runs = seq.withColumn(
        "run_id", F.sum("is_start").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_run = runs.groupBy("user_id", "run_id").agg(F.count("*").alias("run_len"))
    return (
        seq.groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("is_start").cast("long").alias("n_runs"),
        )
        .join(
            per_run.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
                F.max("run_len").cast("long").alias("longest_run")
            ),
            "user_id",
        )
    )


# ---------------------------------------------------------------------------
# Activity survival curve steps (integer at-risk/churn table)
# ---------------------------------------------------------------------------

_SURV_ORACLE = """
WITH slife AS (
  SELECT user_id,
         CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 86400000000 AS BIGINT)
           AS life_days
  FROM events GROUP BY user_id
),
sn AS (SELECT COUNT(*) AS n_users FROM slife),
ssteps AS (
  SELECT life_days AS day, CAST(COUNT(*) AS BIGINT) AS n_ended
  FROM slife GROUP BY life_days
),
scum AS (
  SELECT day, n_ended,
         sn.n_users - COALESCE(SUM(n_ended) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_at_risk
  FROM ssteps CROSS JOIN sn
)
SELECT CAST(day AS BIGINT) AS day, n_ended, CAST(n_at_risk AS BIGINT) AS n_at_risk
FROM scum
"""


@register("activity_survival_steps", _SURV_ORACLE)
def q_activity_survival_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier step table for user activity lifetime (days from
    first to last event): per distinct lifetime, how many users ended
    there and how many were still at risk — the INTEGER sufficient
    statistics of the survival curve (Ŝ multiplies (1−d/n) downstream;
    emitting the steps keeps the result exact and mergeable, the
    ``lineitem_correlations`` contract).  Small ordered step table →
    one bounded window."""
    ev = datasets.load_table(spark, sf_dir, "events")
    life = ev.groupBy("user_id").agg(
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(86400000000)
        )
        .cast("long")
        .alias("life_days")
    )
    n_users = life.count()
    steps = life.groupBy(F.col("life_days").alias("day")).agg(
        F.count("*").cast("long").alias("n_ended")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return steps.select(
        F.col("day").cast("long").alias("day"),
        "n_ended",
        (F.lit(n_users) - F.coalesce(F.sum("n_ended").over(w), F.lit(0)))
        .cast("long")
        .alias("n_at_risk"),
    )


# ---------------------------------------------------------------------------
# Session handoff matrix (session-exit type -> next-session entry type)
# ---------------------------------------------------------------------------

_HANDOFF_ORACLE = """
WITH hev AS (
  SELECT user_id, event_type, event_id,
         CAST(epoch_us(ts) AS BIGINT) AS us
  FROM events
),
hnew AS (
  SELECT user_id, event_type, event_id, us,
         CASE WHEN us - LAG(us) OVER w > 1800000000 OR
                   LAG(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
  FROM hev
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
hsess AS (
  SELECT user_id, event_type, event_id, us,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                           ROWS UNBOUNDED PRECEDING) AS sess_no
  FROM hnew
),
hrk AS (
  SELECT user_id, sess_no, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id, sess_no
                            ORDER BY us, event_id) AS rf,
         ROW_NUMBER() OVER (PARTITION BY user_id, sess_no
                            ORDER BY us DESC, event_id DESC) AS rl
  FROM hsess
),
hends AS (
  SELECT user_id, sess_no,
         MAX(CASE WHEN rf = 1 THEN event_type END) AS first_type,
         MAX(CASE WHEN rl = 1 THEN event_type END) AS last_type
  FROM hrk GROUP BY user_id, sess_no
),
hpairs AS (
  SELECT last_type AS exit_type,
         LEAD(first_type) OVER (PARTITION BY user_id ORDER BY sess_no)
           AS entry_type
  FROM hends
)
SELECT exit_type, entry_type, CAST(COUNT(*) AS BIGINT) AS n
FROM hpairs WHERE entry_type IS NOT NULL
GROUP BY exit_type, entry_type
"""


@register("session_handoff_matrix", _HANDOFF_ORACLE)
def q_session_handoff_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-session behavior: how users LEAVE one session (its last
    event type) versus how they RE-ENTER the next (its first) — the
    retention/habit matrix one level above the within-session
    ``event_transitions``.  Sessionization is the 30-minute
    gaps-and-islands of ``user_sessions``; per-session endpoints are
    ``min_by``/``max_by`` on the (time, event_id) key; one lead over
    the per-user session sequence."""
    ev = datasets.load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", F.unix_micros("ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    sess = ev.withColumn(
        "is_new",
        (
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1800000000)
        ).cast("long"),
    ).withColumn(
        "sess_no", F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    wf = Window.partitionBy("user_id", "sess_no").orderBy("us", "event_id")
    wl = Window.partitionBy("user_id", "sess_no").orderBy(
        F.desc("us"), F.desc("event_id")
    )
    ends = (
        sess.withColumn("rf", F.row_number().over(wf))
        .withColumn("rl", F.row_number().over(wl))
        .groupBy("user_id", "sess_no")
        .agg(
            F.max(F.when(F.col("rf") == 1, F.col("event_type"))).alias("first_type"),
            F.max(F.when(F.col("rl") == 1, F.col("event_type"))).alias("last_type"),
        )
    )
    ws = Window.partitionBy("user_id").orderBy("sess_no")
    pairs = ends.select(
        F.col("last_type").alias("exit_type"),
        F.lead("first_type").over(ws).alias("entry_type"),
    ).filter(F.col("entry_type").isNotNull())
    return pairs.groupBy("exit_type", "entry_type").agg(
        F.count("*").cast("long").alias("n")
    )
