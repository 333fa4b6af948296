"""Data-pipeline queries (dedup / similarity / text) + DuckDB oracles.

Registered into the same registry as :mod:`queries` (importing this
module populates it).  Hashing lockstep: Spark
``conv(substr(md5(x),1,8),16,10)`` ≡ DuckDB
``('0x' || substr(md5(x),1,8))::BIGINT``; cosine agreement between the
Spark fold and DuckDB ``list_cosine_similarity(::DOUBLE[])`` verified
exact at 6 decimals over all sf0.001 pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import datasets, oracles
from .functions import dedup, simsearch, textstats
from .queries import register

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact_groups",
    """
SELECT doc_id, md5(text) AS fingerprint,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
FROM documents
""",
)
def q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs)


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup candidates with exact-Jaccard verification
# ---------------------------------------------------------------------------


def _minhash_ctes(
    k: int = 8, num_hashes: int = 16, bands: int = 4, src: str = "documents"
) -> str:
    """Shared CTE chain ``sh → hv → sig → bands → cand → sizes →
    inter`` (distinct shingles through exact pair intersection) —
    composed by the candidate-pair, retention-manifest, and composed-
    pipeline oracles so they stay in hashing lockstep.  ``src`` is the
    document relation (a table or an upstream CTE with ``doc_id,
    text``)."""
    rows = num_hashes // bands
    mh_cols = ",\n         ".join(
        f"MIN(CASE WHEN seed = {s} THEN hv END) AS mh_{s}" for s in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"mh_{b * rows + r}" for r in range(rows))
        + ")) AS bkey FROM sig"
        for b in range(bands)
    )
    return f"""sh AS (
  SELECT DISTINCT doc_id, substr(text, i, {k}) AS sh
  FROM {src}, UNNEST(generate_series(1, len(text) - {k - 1})) AS t(i)
  WHERE len(text) >= {k}
),
hv AS (
  SELECT doc_id, s.seed,
         ('0x' || substr(md5(s.seed::VARCHAR || '|' || sh), 1, 8))::BIGINT AS hv
  FROM sh, (SELECT UNNEST(generate_series(0, {num_hashes - 1})) AS seed) s
),
sig AS (
  SELECT doc_id,
         {mh_cols}
  FROM hv GROUP BY doc_id
),
bands AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a_id, c.b_id, CAST(COUNT(*) AS BIGINT) AS inter
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a_id
  JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
  GROUP BY c.a_id, c.b_id
)"""


def _minhash_oracle(k: int = 8, num_hashes: int = 16, bands: int = 4) -> str:
    return f"""
WITH {_minhash_ctes(k, num_hashes, bands)}
SELECT c.a_id, c.b_id, COALESCE(i.inter, 0) AS inter,
       za.sz AS a_size, zb.sz AS b_size,
       ROUND(COALESCE(i.inter, 0) / (1e0 * (za.sz + zb.sz - COALESCE(i.inter, 0))), 6)
         AS jaccard
FROM cand c
LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
JOIN sizes za ON za.doc_id = c.a_id
JOIN sizes zb ON zb.doc_id = c.b_id
"""


@register("minhash_lsh_candidates", _minhash_oracle())
def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16)+LSH(4 bands) candidate pairs with exact shingle
    Jaccard — the full near-dup pipeline minus the final threshold.

    Round-10: composed as ``minhash_near_duplicates(threshold=0.0)``
    — identical pairs and values (jaccard ≥ 0 always holds, signature
    mins are duplicate-blind, verification re-shingles candidate docs
    only), but the corpus-wide distinct-shingle materialization is
    gone (the same restructure the bench dedup kernel measured
    13.1 → 5.6 s)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.minhash_near_duplicates(docs, threshold=0.0)


# ---------------------------------------------------------------------------
# near-dup retention manifest: LSH pairs -> Jaccard verify ->
# connected components -> one canonical document per cluster
# ---------------------------------------------------------------------------

#: Duplicate clusters via the bounded min-label + pointer-jump CTE
#: chain (``oracles.cc_bounded_ctes``) over the Jaccard>=0.8 verified
#: pair graph; the trailing UNION ALL surfaces the convergence poison
#: row (id < 0, impossible as a doc_id) so an under-provisioned round
#: count fails the comparison loudly instead of silently dropping it
#: in the LEFT JOIN.  Shared by both keep-policy oracles and the
#: composed-pipeline report (which passes a filtered ``src``).
def _retention_cc_ctes(src: str = "documents") -> str:
    return f"""{_minhash_ctes(src=src)},
jac AS (
  SELECT c.a_id, c.b_id,
         ROUND(COALESCE(i.inter, 0)
               / (1e0 * (za.sz + zb.sz - COALESCE(i.inter, 0))), 6) AS jaccard
  FROM cand c
  LEFT JOIN inter i ON i.a_id = c.a_id AND i.b_id = c.b_id
  JOIN sizes za ON za.doc_id = c.a_id
  JOIN sizes zb ON zb.doc_id = c.b_id
),
dsym AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM jac WHERE jaccard >= 0.8
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM jac WHERE jaccard >= 0.8
),
{oracles.cc_bounded_ctes("dsym", rounds=8, out="dlbl")},
dsz AS (SELECT label, COUNT(*) AS n FROM dlbl GROUP BY label)"""


_RETENTION_CC_CTES = _retention_cc_ctes()

_DEDUP_RETENTION_ORACLE = f"""
WITH {_RETENTION_CC_CTES}
SELECT d.doc_id,
       CAST(COALESCE(l.label, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(COALESCE(z.n, 1) AS BIGINT) AS cluster_size,
       CAST(d.doc_id = COALESCE(l.label, d.doc_id) AS BIGINT) AS keep
FROM documents d
LEFT JOIN dlbl l ON l.id = d.doc_id
LEFT JOIN dsz z ON z.label = l.label
UNION ALL
SELECT CAST(id AS BIGINT) AS doc_id, CAST(label AS BIGINT) AS cluster_id,
       CAST(-1 AS BIGINT) AS cluster_size, CAST(-1 AS BIGINT) AS keep
FROM dlbl WHERE id < 0
"""


@register("dedup_retention_clusters", _DEDUP_RETENTION_ORACLE)
def q_dedup_retention_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup retention manifest for every document: MinHash(16)+
    LSH(4 bands) candidates, exact-Jaccard ≥ 0.8 verification,
    connected components over the duplicate graph, canonical = min id
    per cluster — the per-document keep/drop decision table a dedup
    pass writes before materializing the filtered corpus (the
    standard fuzzy-dedup closure used by public corpus pipelines).
    See :func:`~graphdb_testing_spark.functions.dedup.dedup_retention`."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.dedup_retention(docs, threshold=0.8)


_DEDUP_RETENTION_LONGEST_ORACLE = f"""
WITH {_RETENTION_CC_CTES}
SELECT doc_id, cluster_id, cluster_size,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                               ORDER BY tlen DESC, doc_id) = 1 AS BIGINT) AS keep
FROM (
  SELECT d.doc_id,
         CAST(COALESCE(l.label, d.doc_id) AS BIGINT) AS cluster_id,
         CAST(COALESCE(z.n, 1) AS BIGINT) AS cluster_size,
         len(d.text) AS tlen
  FROM documents d
  LEFT JOIN dlbl l ON l.id = d.doc_id
  LEFT JOIN dsz z ON z.label = l.label
)
UNION ALL
SELECT CAST(id AS BIGINT) AS doc_id, CAST(label AS BIGINT) AS cluster_id,
       CAST(-1 AS BIGINT) AS cluster_size, CAST(-1 AS BIGINT) AS keep
FROM dlbl WHERE id < 0
"""


@register("dedup_retention_keep_longest", _DEDUP_RETENTION_LONGEST_ORACLE)
def q_dedup_retention_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention manifest with the keep-the-longest policy: same
    duplicate clusters as ``dedup_retention_clusters``, but the kept
    representative is the cluster member with the longest text (ties
    to the smallest id) — the choice public web pipelines make so the
    dedup pass retains the most complete copy.  The policy window
    partitions by cluster — work bounded by cluster size."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.dedup_retention(docs, threshold=0.8, keep_policy="longest")


# ---------------------------------------------------------------------------
# signature-verified near-dup pairs (one-pass Broder estimator)
# ---------------------------------------------------------------------------

_SIG_AGREE_ORACLE = f"""
WITH {_minhash_ctes()}
SELECT a_id, b_id, n_agree, ROUND(n_agree / 16.0, 6) AS est_jaccard
FROM (
  SELECT c.a_id, c.b_id,
         ({" + ".join(f"CAST(a.mh_{s} = b.mh_{s} AS BIGINT)" for s in range(16))})
           AS n_agree
  FROM cand c
  JOIN sig a ON a.doc_id = c.a_id
  JOIN sig b ON b.doc_id = c.b_id
)
WHERE n_agree >= 8
"""


@register("minhash_signature_pairs", _SIG_AGREE_ORACLE)
def q_minhash_signature_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs verified by MinHash signature agreement (≥ 8 of
    16 components — the Broder estimator) instead of the exact shingle
    re-join: the one-corpus-pass dedup path, and the batch twin of the
    streaming near-dup operator.  See
    :func:`~graphdb_testing_spark.functions.dedup.signature_agreement_pairs`."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.signature_agreement_pairs(docs, min_agree=8)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def _simhash_oracle(bits: int = 32) -> str:
    sums = ",\n         ".join(
        f"CAST(SUM(2 * ((h // {1 << j}) % 2) - 1) AS BIGINT) AS s_{j}"
        for j in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM toks),
sums AS (
  SELECT doc_id,
         {sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums
"""


@register("simhash_fingerprints", _simhash_oracle())
def q_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_TOKS_CTE = """
toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
)
"""


@register(
    "text_stats",
    f"""
WITH {_TOKS_CTE.strip()},
per AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(AVG(LEN(tok)), 6) AS avg_token_len,
         CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
  FROM toks GROUP BY doc_id
)
SELECT d.doc_id, CAST(LEN(d.text) AS BIGINT) AS n_chars,
       COALESCE(p.n_tokens, 0) AS n_tokens,
       COALESCE(p.avg_token_len, 0e0) AS avg_token_len,
       COALESCE(p.n_distinct_tokens, 0) AS n_distinct_tokens,
       ROUND(COALESCE(p.n_distinct_tokens / (1e0 * p.n_tokens), 0e0), 6)
         AS distinct_ratio
FROM documents d LEFT JOIN per p USING (doc_id)
""",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.text_stats(docs)


def _langid_oracle() -> str:
    score_cols = []
    for lang, words in textstats.LANG_STOPWORDS.items():
        inlist = ", ".join(f"'{w}'" for w in words)
        score_cols.append(
            f"CAST(SUM(CASE WHEN tok IN ({inlist}) THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS score_{lang}"
        )
    langs = list(textstats.LANG_STOPWORDS)
    greatest = ", ".join(f"score_{lang}" for lang in langs)
    case = " ".join(f"WHEN score_{lang} = g THEN '{lang}'" for lang in langs)
    return f"""
WITH {_TOKS_CTE.strip()},
scores AS (
  SELECT doc_id, {", ".join(score_cols)}
  FROM toks GROUP BY doc_id
),
g AS (SELECT *, GREATEST({greatest}) AS g FROM scores)
SELECT doc_id, CASE {case} END AS pred_lang, g AS score FROM g
"""


@register("language_id", _langid_oracle())
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.language_id(docs)


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_ANN_ORACLE = """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qs AS (SELECT vec_id AS query_id, v AS q FROM base WHERE vec_id % 100 = 0),
scored AS (
  SELECT q.query_id, b.vec_id,
         ROUND(list_cosine_similarity(q.q, b.v), 6) AS sim
  FROM base b, qs q WHERE b.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, sim
FROM ranked WHERE rank <= 10
"""


@register("ann_cosine_topk", _ANN_ORACLE)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact top-10 cosine neighbors for the query subset
    ``vec_id % 100 == 0`` (the ANN ground-truth baseline)."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = simsearch.cosine_topk(emb, queries, k=10)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "embedding_near_dup_pairs",
    """
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM base a JOIN base b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
""",
)
def q_embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (threshold 0.4 — the
    synthetic embeddings are near-orthogonal, so higher thresholds
    are empty).  **Exact quadratic baseline**: ground truth for the
    bucketed variant below; at production scale use
    ``embedding_near_dup_bucketed``."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.embedding_near_duplicates(emb, threshold=0.4)


def _near_dup_bucketed_oracle(threshold: float = 0.4, dims: int = 8) -> str:
    bucket = " + ".join(
        f"CASE WHEN v[{j + 1}] > 0 THEN {1 << j} ELSE 0 END" for j in range(dims)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})" for j in range(dims)])
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bb AS (SELECT vec_id, v, {bucket} AS bucket FROM base),
pa AS (SELECT vec_id AS a_id, v AS va, UNNEST([{probes}]) AS bucket FROM bb),
scored AS (
  SELECT pa.a_id, b.vec_id AS b_id,
         ROUND(list_cosine_similarity(pa.va, b.v), 6) AS sim
  FROM pa JOIN bb b USING (bucket) WHERE pa.a_id < b.vec_id
)
SELECT a_id, b_id, sim FROM scored WHERE sim >= {threshold}
"""


@register("embedding_near_dup_bucketed", _near_dup_bucketed_oracle())
def q_embedding_near_dup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucket-blocked near-duplicate pairs — the scale path for
    ``embedding_near_dup_pairs``: candidates come from an equi-join
    on an 8-bit sign bucket (one side multiprobed to Hamming-1), so
    the plan has no cross join and the shuffle is bounded by
    Σ|bucket|².  Recall vs the exact variant is asserted in
    ``tests/test_pipeline.py``."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.embedding_near_duplicates_bucketed(
        emb, threshold=0.4, bucket_dims=8, multiprobe=True
    )


# ---------------------------------------------------------------------------
# relational/event coverage: windowed aggregation + multi-join
# ---------------------------------------------------------------------------


@register(
    "events_hourly",
    """
SELECT event_type,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
""",
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup — the batch shape of the streaming windowed
    aggregation (event-time tumbling window)."""
    ev = datasets.load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", F.col("ts")).cast("long").alias("hour_epoch"),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "revenue_by_nation",
    """
SELECT n.n_name AS nation,
       CAST(SUM(CAST(l.l_extendedprice * (1e0 - l.l_discount) AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY n.n_name
""",
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: fact ⋈ 3 broadcastable dims."""
    li = datasets.load_table(spark, sf_dir, "lineitem")
    sup = datasets.load_table(spark, sf_dir, "supplier")
    nat = datasets.load_table(spark, sf_dir, "nation")
    reg = datasets.load_table(spark, sf_dir, "region")
    disc = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.sum(disc).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "top_orders_by_revenue",
    """
WITH rev AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice * (1e0 - l_discount) AS DECIMAL(18,6)))
              AS DOUBLE) AS revenue
  FROM lineitem GROUP BY l_orderkey
),
ranked AS (
  SELECT o.o_orderkey, o.o_custkey, r.revenue,
         ROW_NUMBER() OVER (ORDER BY r.revenue DESC, o.o_orderkey) AS rank
  FROM rev r JOIN orders o ON r.l_orderkey = o.o_orderkey
)
SELECT o_orderkey, o_custkey, revenue, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 25
""",
)
def q_top_orders_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped top-k: aggregate ⋈ orders, global top-25 by
    DECIMAL-exact revenue (deterministic tie-break on orderkey).

    Scale shape: ``orderBy().limit(25)`` → TakeOrderedAndProject over
    the O(orders) table (per-partition heaps, no single-task sort);
    the rank window then covers exactly 25 rows."""
    from pyspark.sql import Window

    li = datasets.load_table(spark, sf_dir, "lineitem")
    orders = datasets.load_table(spark, sf_dir, "orders")
    disc = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    rev = li.groupBy("l_orderkey").agg(F.sum(disc).cast("double").alias("revenue"))
    top = (
        rev.join(orders, rev.l_orderkey == orders.o_orderkey)
        .select("o_orderkey", "o_custkey", "revenue")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(25)
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("o_orderkey"))  # 25 rows
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# IVF-bucketed ANN (the scale path: equi-join on coarse bucket, never
# a cross join) — multi-probe over all Hamming-1 sign buckets
# ---------------------------------------------------------------------------


def _ivf_oracle(k: int = 10, dims: int = 8) -> str:
    bucket = " + ".join(
        f"CASE WHEN v[{j + 1}] > 0 THEN {1 << j} ELSE 0 END" for j in range(dims)
    )
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})" for j in range(dims)])
    return f"""
WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bb AS (SELECT vec_id, v, {bucket} AS bucket FROM base),
qs0 AS (SELECT vec_id AS query_id, v AS q, bucket FROM bb WHERE vec_id % 100 = 0),
qs AS (SELECT query_id, q, UNNEST([{probes}]) AS bucket FROM qs0),
scored AS (
  SELECT q.query_id, b.vec_id,
         ROUND(list_cosine_similarity(q.q, b.v), 6) AS sim
  FROM bb b JOIN qs q USING (bucket) WHERE b.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, sim
FROM ranked WHERE rank <= {k}
"""


@register("ivf_ann_topk", _ivf_oracle())
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed approximate top-10 (sign-bit IVF, Hamming-1
    multi-probe) for the same query subset as ``ann_cosine_topk`` —
    candidates come from an equi-join on the coarse bucket, which is
    what survives a 100TB embedding table (the brute-force baseline
    is a cross join)."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = simsearch.ivf_topk(emb, queries, k=10, bucket_dims=8, multiprobe=True)
    return out.withColumn("rank", F.col("rank").cast("long"))


@register(
    "ivf_kmeans_topk",
    simsearch.ivf_kmeans_oracle_sql(
        dim=64, k=10, n_cells=16, rounds=2, nprobe=4
    ),
)
def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned-centroid IVF top-10 (IVF-Flat, Jégou et al. 2011):
    16 k-means cells trained with the bit-exact integer Lloyd loop,
    corpus assigned once, each query probing its 4 nearest cells —
    candidates come from ONE equi-join on the cell id, so the probed
    fraction (≈ nprobe/n_cells of the corpus) replaces the n² cross
    join.  Cells adapt to the data where sign buckets can't; the
    recall-per-candidate A/B against ``ivf_ann_topk`` is
    ``ivf_kmeans_recall`` (the disk-resident A/B driver
    ``scripts/bench_simsearch_scale.py`` is in commit ``67a05b5`` and
    earlier)."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    out = simsearch.ivf_kmeans_topk(
        emb, queries, k=10, n_cells=16, rounds=2, nprobe=4
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# Multimodal plumbing: binary media column -> Arrow-batched feature
# extraction (deterministic stub encoder; SURVEY "multimodal columns")
# ---------------------------------------------------------------------------

from .functions import multimodal  # noqa: E402


def _media_oracle(dim: int = 16) -> str:
    # _fake_feature with dim=16 is exactly one md5 over the first 64
    # payload bytes; digest byte i => float32(i/255) (testdata text is
    # pure ASCII, so VARCHAR substr == byte slice).
    elems = ", ".join(
        "printf('%.6f', ROUND(CAST(('0x' || substr(h, "
        f"{2 * i + 1}, 2))::INT / 255.0 AS REAL)::DOUBLE, 6))"
        for i in range(dim)
    )
    return f"""
WITH m AS (
  SELECT doc_id AS media_id, 'image' AS modality,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         md5(substr(text, 1, 64)) AS h
  FROM documents
)
SELECT media_id, modality, n_bytes,
       array_to_string([{elems}], ',') AS feature_csv
FROM m
"""


@register("media_features", _media_oracle())
def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns (text bytes standing in for encoded
    media) through the mapInPandas feature-extraction stage; float32
    features exported as fixed 6-decimal CSV for exact comparison."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    media = multimodal.synthetic_media(docs, modality="image")
    feats = multimodal.extract_features(media, dim=16, decode_stub="fake")
    return feats.select(
        "media_id",
        "modality",
        "n_bytes",
        F.concat_ws(
            ",",
            F.transform(
                "feature",
                lambda x: F.format_string(
                    "%.6f", F.round(x.cast("double"), 6)
                ),
            ),
        ).alias("feature_csv"),
    )


_MEDIA_REAL_ORACLE = """
WITH mseed AS (
  SELECT doc_id, md5(doc_id::VARCHAR || '|' || substr(text, 1, 64)) AS seed
  FROM documents
),
imb AS (
  SELECT m.doc_id, (bi.i * 16 + bj.j) AS k,
         ('0x' || substr(md5(m.seed || '|' || bi.i::VARCHAR),
                         2 * bj.j + 1, 2))::INT AS v
  FROM mseed m, range(0, 12) bi(i), range(0, 16) bj(j)
),
aub AS (
  SELECT m.doc_id, (bi.i * 16 + bj.j) AS k,
         (('0x' || substr(md5(m.seed || '|' || bi.i::VARCHAR),
                          2 * bj.j + 1, 2))::INT - 128) * 256 AS v
  FROM mseed m, range(0, 16) bi(i), range(0, 16) bj(j)
)
SELECT doc_id AS media_id, 'image' AS modality,
       CAST(246 AS BIGINT) AS n_bytes,
       CAST(SUM((k + 1) * v) AS BIGINT) AS wsum
FROM imb GROUP BY doc_id
UNION ALL
SELECT doc_id, 'audio', CAST(556 AS BIGINT),
       CAST(SUM((k + 1) * v) AS BIGINT)
FROM aub GROUP BY doc_id
"""


@register("media_real_codec", _MEDIA_REAL_ORACLE)
def q_media_real_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec round trip (round-4: retires the codec seam as
    stub-only): every document becomes an actual 24-bit BMP and a
    16-bit PCM WAV (payload bytes from a portable hex-md5 chain),
    Spark decodes them back with the pure-stdlib codecs, and the
    position-weighted checksum of the decoded raster/samples is
    hash-compared against DuckDB re-deriving the same bytes — a
    BGR swap, row flip, pad leak, or frame misalignment all change
    ``wsum``."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    img = multimodal.synthetic_real_media(docs, modality="image")
    aud = multimodal.synthetic_real_media(docs, modality="audio")
    return multimodal.decode_checksums(img.unionByName(aud))


_MEDIA_PNG_ORACLE = """
WITH mseed AS (
  SELECT doc_id, md5(doc_id::VARCHAR || '|' || substr(text, 1, 64)) AS seed
  FROM documents
),
imb AS (
  SELECT m.doc_id, (bi.i * 16 + bj.j) AS k,
         ('0x' || substr(md5(m.seed || '|' || bi.i::VARCHAR),
                         2 * bj.j + 1, 2))::INT AS v
  FROM mseed m, range(0, 12) bi(i), range(0, 16) bj(j)
)
SELECT doc_id AS media_id, 'image' AS modality,
       CAST(SUM((k + 1) * v) AS BIGINT) AS wsum
FROM imb GROUP BY doc_id
"""


@register("media_png_codec", _MEDIA_PNG_ORACLE)
def q_media_png_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-codec round trip (round-8: closes the heavy-codec
    seam with a real compressed format): every document's md5-derived
    8×8 RGB raster is encoded as a zlib-DEFLATE PNG whose scanline
    filters cycle through ALL FIVE types (None/Sub/Up/Average/Paeth),
    Spark decodes it back — chunk walk, CRC verify, inflate,
    un-filter — inside the Arrow ``mapInPandas`` stage, and the
    position-weighted checksum of the decoded raster is hash-compared
    against DuckDB re-deriving the same pixel bytes.  PNG is
    lossless, so any slip anywhere in DEFLATE or any un-filter branch
    changes ``wsum``.  ``n_bytes`` (compressed size) is intentionally
    NOT in the output: it certifies the zlib build, not the data.

    Reference parity: the reference treats media as opaque payloads;
    this is the engine extension for multimodal training-data
    pipelines (SURVEY §2 'multimodal columns')."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    img = multimodal.synthetic_real_media(
        docs, modality="image", image_codec="png"
    )
    return multimodal.decode_checksums(img).select(
        "media_id", "modality", "wsum"
    )


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands): the batch shape of Spark's
# session_window, exact down to tie-breaks
# ---------------------------------------------------------------------------

_SESSION_ORACLE = """
WITH x AS (
  SELECT user_id, event_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM x
)
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       COUNT(*) AS n_events,
       MIN(epoch_us(ts)) AS start_us, MAX(epoch_us(ts)) AS end_us
FROM s GROUP BY 1, 2
"""


@register("user_sessions", _SESSION_ORACLE)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session assignment with a 30-minute inactivity gap —
    gaps-and-islands over ordered event times (lag + running sum, all
    JVM-side window functions).  This is the deterministic batch twin
    of Structured Streaming's ``session_window`` aggregation."""
    from pyspark.sql import Window

    ev = datasets.load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = ev.withColumn(
        "is_new",
        F.when(gap_us.isNull() | (gap_us > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    sess = marked.withColumn(
        "session_seq",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", F.col("session_seq").cast("long").alias("session_seq")).agg(
        F.count("*").alias("n_events"),
        F.min(F.unix_micros("ts")).alias("start_us"),
        F.max(F.unix_micros("ts")).alias("end_us"),
    )


# ---------------------------------------------------------------------------
# BPE-style token counting (training-data cost model)
# ---------------------------------------------------------------------------


@register(
    "bpe_token_counts",
    r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_pieces,
       CAST(len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_distinct_pieces
FROM documents
""",
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE-ish piece counts (letter runs / digit runs /
    punctuation) — the whitespace-free token-count signal a training
    pipeline budgets by."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.bpe_token_counts(docs)


# ---------------------------------------------------------------------------
# exact set-similarity join (prefix filtering; brute-force oracle)
# ---------------------------------------------------------------------------

_PREFIX_JOIN_T = 0.8

_PREFIX_JOIN_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.a_id, i.b_id, i.inter,
       ROUND(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.a_id
JOIN sizes sb ON sb.doc_id = i.b_id
WHERE ROUND(i.inter / CAST(sa.sz + sb.sz - i.inter AS DOUBLE), 6)
      >= {_PREFIX_JOIN_T}
"""


@register("jaccard_prefix_join", _PREFIX_JOIN_ORACLE)
def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-word Jaccard ≥ 0.8 pairs via PPJoin-style prefix
    filtering — inverted-index candidates on rare-first prefixes, then
    one verification join; the oracle brute-forces all pairs, so any
    missed candidate fails the hash (`functions/dedup.py`)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_join(docs, threshold=_PREFIX_JOIN_T)


# ---------------------------------------------------------------------------
# retrieval scoring: TF-IDF and BM25
# ---------------------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH {_TOKS_CTE.strip()},
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
tf AS (SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
         SELECT DISTINCT doc_id, tok AS term FROM toks) GROUP BY 1)
SELECT tf.doc_id, tf.term, tf.tf, df.df,
       CAST(ROUND(1000000.0 * tf.tf
                  * ln((SELECT n FROM n) / CAST(df.df AS DOUBLE))) AS BIGINT)
         AS tfidf_micro
FROM tf JOIN df USING (term)
"""


@register("tfidf_weights", _TFIDF_ORACLE)
def q_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) TF-IDF in integer micros — the retrieval /
    keyword-extraction weighting (`functions/textstats.py`)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.tfidf_weights(docs)


_BM25_TERMS = ("table", "hash", "spark")

_BM25_ORACLE = f"""
WITH {_TOKS_CTE.strip()},
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
q(term) AS (VALUES {", ".join(f"('{t}')" for t in _BM25_TERMS)}),
lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks GROUP BY 1),
avgdl AS (SELECT (SELECT COUNT(*) FROM toks)
                 / CAST((SELECT n FROM n) AS DOUBLE) AS a),
tf AS (SELECT doc_id, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM toks JOIN q ON q.term = toks.tok GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM (
         SELECT DISTINCT doc_id, tok AS term FROM toks
         JOIN q ON q.term = toks.tok) GROUP BY 1)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(SUM(c) AS BIGINT) AS score_micro
FROM (
  SELECT tf.doc_id,
         CAST(ROUND(1000000.0
              * ln(1.0 + ((SELECT n FROM n) - df.df + 0.5) / (df.df + 0.5))
              * (tf.tf * 2.2)
              / (tf.tf + 1.2 * (0.25 + 0.75 * lens.dl
                                / (SELECT a FROM avgdl)))) AS BIGINT) AS c
  FROM tf JOIN df USING (term) JOIN lens ON lens.doc_id = tf.doc_id
) GROUP BY doc_id
"""


@register("bm25_scores", _BM25_ORACLE)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against the fixed query bag
    {table, hash, spark} (k1=1.2, b=0.75) — per-term contributions in
    integer micros, order-independent sum (`functions/textstats.py`)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.bm25_scores(docs, list(_BM25_TERMS))


# ---------------------------------------------------------------------------
# k-means assignment round (deterministic centroids, broadcast)
# ---------------------------------------------------------------------------

#: Shared k-means assignment CTE (k=8, deterministic min-id centroid
#: seeds, round-6 Euclidean, smallest-cluster-id tie-break) — the ONE
#: statement of the assignment semantics, composed into both the
#: kmeans_assign oracle and the SemDeDup oracles so they can never
#: silently diverge.
_KMEANS_ASG_CTE = """
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cent AS (SELECT vec_id AS cluster_id, v AS c FROM base ORDER BY vec_id LIMIT 8),
kmd AS (
  SELECT b.vec_id, b.v, c.cluster_id,
         ROUND(list_distance(b.v, c.c), 6) AS dist
  FROM base b CROSS JOIN cent c
),
asg AS (
  SELECT vec_id, v, cluster_id, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster_id) AS rn
    FROM kmd
  ) WHERE rn = 1
)
"""

_KMEANS_ORACLE = f"""
WITH {_KMEANS_ASG_CTE.strip()}
SELECT vec_id, cluster_id, dist FROM asg
"""


@register("kmeans_assign", _KMEANS_ORACLE)
def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One k-means assignment round: every embedding to its nearest of
    8 deterministic centroids (Euclidean, round-6, smallest-id
    tie-break) — the broadcast-centroid shape of distributed Lloyd
    iterations (`functions/simsearch.py`)."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.kmeans_assign(emb, k=8)


# ---------------------------------------------------------------------------
# containment join (asymmetric subset near-duplication; brute oracle)
# ---------------------------------------------------------------------------

_CONTAIN_T = 0.9

_CONTAIN_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, CAST(COUNT(*) AS BIGINT) AS inter
  FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT i.a_id, i.b_id, i.inter,
       ROUND(i.inter / CAST(sa.sz AS DOUBLE), 6) AS containment
FROM inter i JOIN sizes sa ON sa.doc_id = i.a_id
WHERE ROUND(i.inter / CAST(sa.sz AS DOUBLE), 6) >= {_CONTAIN_T}
"""


@register("containment_join", _CONTAIN_ORACLE)
def q_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered pairs where ≥90% of A's distinct words appear in B —
    excerpt/subset near-duplication via one-sided prefix filtering
    (`functions/dedup.py`); brute-force oracle."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.containment_join(docs, threshold=_CONTAIN_T)


# ---------------------------------------------------------------------------
# IVF recall vs exact ground truth (per-query approximation report)
# ---------------------------------------------------------------------------

_IVF_RECALL_ORACLE = f"""
WITH exact_r AS ({_ANN_ORACLE.strip()}),
ivf_r AS ({_ivf_oracle().strip()})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       ROUND(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_10
FROM exact_r e
LEFT JOIN ivf_r i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
GROUP BY e.query_id
"""


@register("ivf_recall", _IVF_RECALL_ORACLE)
def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF+multiprobe index against the exact
    brute-force top-10 per query point — the approximation-quality
    report an ANN deployment monitors; computed by joining the two
    already-oracle-checked result sets."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "vec_id"
    )
    ivf = simsearch.ivf_topk(emb, queries, k=10).select(
        "query_id", F.col("vec_id").alias("ivf_vec")
    )
    return (
        exact.join(
            ivf,
            (exact.query_id == ivf.query_id) & (exact.vec_id == ivf.ivf_vec),
            "left",
        )
        .drop(ivf.query_id)
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_true"),
            F.sum(F.when(F.col("ivf_vec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
            F.round(
                F.sum(F.when(F.col("ivf_vec").isNotNull(), 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("recall_at_10"),
        )
    )


_KIVF_RECALL_ORACLE = f"""
WITH exact_r AS ({_ANN_ORACLE.strip()}),
kivf_r AS ({{kivf}})
SELECT e.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_found,
       ROUND(SUM(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_10
FROM exact_r e
LEFT JOIN kivf_r i ON i.query_id = e.query_id AND i.vec_id = e.vec_id
GROUP BY e.query_id
""".format(
    kivf=simsearch.ivf_kmeans_oracle_sql(
        dim=64, k=10, n_cells=16, rounds=2, nprobe=4
    ).strip()
)


@register("ivf_kmeans_recall", _KIVF_RECALL_ORACLE)
def q_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the learned-centroid IVF against the exact
    brute-force top-10 — the twin of ``ivf_recall`` for the k-means
    quantizer, so the two index designs are comparable query-by-query
    on the same ground truth."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "vec_id"
    )
    kivf = simsearch.ivf_kmeans_topk(
        emb, queries, k=10, n_cells=16, rounds=2, nprobe=4
    ).select("query_id", F.col("vec_id").alias("ivf_vec"))
    return (
        exact.join(
            kivf,
            (exact.query_id == kivf.query_id) & (exact.vec_id == kivf.ivf_vec),
            "left",
        )
        .drop(kivf.query_id)
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("n_true"),
            F.sum(F.when(F.col("ivf_vec").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_found"),
            F.round(
                F.sum(F.when(F.col("ivf_vec").isNotNull(), 1).otherwise(0))
                / F.count("*").cast("double"),
                6,
            ).alias("recall_at_10"),
        )
    )


# ---------------------------------------------------------------------------
# k-means cluster purity vs ground-truth labels (clustering evaluation)
# ---------------------------------------------------------------------------

_PURITY_ORACLE = f"""
WITH assign AS ({_KMEANS_ORACLE.strip()}),
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
cl AS (
  SELECT a.cluster_id, l.label, CAST(COUNT(*) AS BIGINT) AS n
  FROM assign a JOIN lab l USING (vec_id)
  GROUP BY 1, 2
),
tot AS (SELECT cluster_id, CAST(SUM(n) AS BIGINT) AS size FROM cl GROUP BY 1),
best AS (
  SELECT cluster_id, label AS majority_label, n AS majority_n FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY n DESC, label) AS rn
    FROM cl
  ) WHERE rn = 1
)
SELECT t.cluster_id, t.size, b.majority_label, b.majority_n,
       ROUND(b.majority_n / CAST(t.size AS DOUBLE), 6) AS purity
FROM tot t JOIN best b USING (cluster_id)
"""


@register("kmeans_cluster_purity", _PURITY_ORACLE)
def q_kmeans_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purity of each k-means cluster against the embeddings'
    ground-truth ``label`` column: majority-label fraction per
    assigned cluster (deterministic argmax tie-break) — the standard
    external clustering-quality evaluation, composed from the
    oracle-checked assignment round."""
    from pyspark.sql import Window

    emb = datasets.load_table(spark, sf_dir, "embeddings")
    assign = simsearch.kmeans_assign(emb, k=8).select("vec_id", "cluster_id")
    lab = emb.select("vec_id", F.col("label").cast("long").alias("label"))
    cl = (
        assign.join(lab, "vec_id")
        .groupBy("cluster_id", "label")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tot = cl.groupBy("cluster_id").agg(F.sum("n").cast("long").alias("size"))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n"), F.asc("label"))
    best = (
        cl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("label").alias("majority_label"),
            F.col("n").alias("majority_n"),
        )
    )
    return tot.join(best, "cluster_id").select(
        "cluster_id",
        "size",
        "majority_label",
        "majority_n",
        F.round(F.col("majority_n") / F.col("size").cast("double"), 6).alias(
            "purity"
        ),
    )


# ---------------------------------------------------------------------------
# Product quantization: 8x8 integer-exact PQ codes over embeddings
# ---------------------------------------------------------------------------

_PQ_SUBS = 8  # subspaces
_PQ_DIM = 8  # dims per subspace
_PQ_K = 16  # codewords per subspace (deterministic: first 16 vectors)

_PQ_ORACLE = f"""
WITH iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS iv
  FROM embeddings
),
subs AS (
  SELECT vec_id, s, iv[s * {_PQ_DIM} + 1 : s * {_PQ_DIM} + {_PQ_DIM}] AS sub
  FROM iv, UNNEST(generate_series(0, {_PQ_SUBS - 1})) t(s)
),
cb AS (SELECT vec_id AS cid, s, sub AS csub FROM subs WHERE vec_id < {_PQ_K}),
dists AS (
  SELECT d.vec_id, d.s, c.cid,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DIM}),
           i -> (d.sub[i] - c.csub[i]) * (d.sub[i] - c.csub[i]))) AS BIGINT)
           AS dist
  FROM subs d JOIN cb c USING (s)
),
ranked AS (
  SELECT vec_id, s, cid, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
  FROM dists
)
SELECT vec_id, CAST(s AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code, dist
FROM ranked WHERE rn = 1
"""


@register("pq_codes", _PQ_ORACLE)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al., "Product
    quantization for nearest neighbor search", TPAMI'11): embeddings
    are scaled ×1024 and floored to BIGINT, split into 8 subspaces of
    8 dims, and each sub-vector is assigned its nearest of 16
    deterministic codewords (the first 16 vectors' sub-vectors —
    codebook *training* is k-means, already covered by
    ``kmeans_assign``; assignment is the part that runs over the full
    100 TB corpus).  Integerizing first makes every distance an exact
    BIGINT, so argmin ties and the oracle comparison are exact, and
    the distance kernel is ``zip_with`` + ``aggregate`` column math —
    no UDF.  The codebook (128 rows) broadcasts; the scan is one pass."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("iv"),
    )
    s_col = F.explode(
        F.array(*[F.lit(s) for s in range(_PQ_SUBS)])
    ).alias("s")
    subs = iv.select("vec_id", "iv", s_col).select(
        "vec_id",
        "s",
        F.expr(f"slice(iv, s * {_PQ_DIM} + 1, {_PQ_DIM})").alias("sub"),
    )
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), "s", F.col("sub").alias("csub")
    )
    dists = subs.join(F.broadcast(cb), "s").select(
        "vec_id",
        "s",
        "cid",
        F.expr(
            "aggregate(zip_with(sub, csub, (a, b) -> (a - b) * (a - b)),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        ).alias("dist"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id", "s").orderBy("dist", "cid")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("s").cast("long").alias("subspace"),
            F.col("cid").cast("long").alias("code"),
            "dist",
        )
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance top-k (the ANN serving path over PQ codes)
# ---------------------------------------------------------------------------

_PQ_NQ = 5  # query vectors (vec_ids 16..20 — outside the codebook)
_PQ_TOPK = 10

_PQ_ADC_ORACLE = f"""
WITH iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS iv
  FROM embeddings
),
subs AS (
  SELECT vec_id, s, iv[s * {_PQ_DIM} + 1 : s * {_PQ_DIM} + {_PQ_DIM}] AS sub
  FROM iv, UNNEST(generate_series(0, {_PQ_SUBS - 1})) t(s)
),
cb AS (SELECT vec_id AS cid, s, sub AS csub FROM subs WHERE vec_id < {_PQ_K}),
dists AS (
  SELECT d.vec_id, d.s, c.cid,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DIM}),
           i -> (d.sub[i] - c.csub[i]) * (d.sub[i] - c.csub[i]))) AS BIGINT)
           AS dist
  FROM subs d JOIN cb c USING (s)
),
codes AS (
  SELECT vec_id, s, cid AS code FROM (
    SELECT vec_id, s, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, cid) AS rn
    FROM dists)
  WHERE rn = 1
),
queries AS (
  SELECT vec_id AS q_id, s, sub AS qsub FROM subs
  WHERE vec_id >= {_PQ_K} AND vec_id < {_PQ_K + _PQ_NQ}
),
lut AS (
  SELECT q.q_id, q.s, c.cid,
         CAST(list_sum(list_transform(generate_series(1, {_PQ_DIM}),
           i -> (q.qsub[i] - c.csub[i]) * (q.qsub[i] - c.csub[i]))) AS BIGINT)
           AS d
  FROM queries q JOIN cb c USING (s)
),
adc AS (
  SELECT l.q_id, c.vec_id, CAST(SUM(l.d) AS BIGINT) AS adc_dist
  FROM codes c JOIN lut l ON l.s = c.s AND l.cid = c.code
  WHERE c.vec_id NOT IN (SELECT q_id FROM queries)
  GROUP BY 1, 2
)
SELECT q_id, CAST(rank AS BIGINT) AS rank, vec_id, adc_dist
FROM (
  SELECT q_id, vec_id, adc_dist,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adc_dist, vec_id) AS rank
  FROM adc)
WHERE rank <= {_PQ_TOPK}
"""


@register("pq_adc_topk", _PQ_ADC_ORACLE)
def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric distance computation (ADC): each query builds an
    8×16 lookup table of exact integer sub-distances to the codebook,
    then every document's distance is Σ LUT[s, code(d,s)] — ONE
    equi-join of the (vec_id, subspace, code) table against a
    broadcast LUT plus a sum, never touching raw vectors at serving
    time.  This is why PQ wins at 100 TB: the scan is over 8-byte
    codes, not 256-byte vectors.  Top-10 per query by (dist, id) —
    all-integer, exact oracle."""
    from pyspark.sql import Window

    emb = datasets.load_table(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("iv"),
    )
    s_col = F.explode(F.array(*[F.lit(s) for s in range(_PQ_SUBS)])).alias("s")
    subs = iv.select("vec_id", "iv", s_col).select(
        "vec_id", "s", F.expr(f"slice(iv, s * {_PQ_DIM} + 1, {_PQ_DIM})").alias("sub")
    ).localCheckpoint()
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        F.col("vec_id").alias("cid"), "s", F.col("sub").alias("csub")
    )
    sqdist = (
        "aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)),"
        " cast(0 as bigint), (acc, x) -> acc + x)"
    )
    dists = subs.join(F.broadcast(cb), "s").select(
        "vec_id", "s", "cid",
        F.expr(sqdist.format(a="sub", b="csub")).alias("dist"),
    )
    w = Window.partitionBy("vec_id", "s").orderBy("dist", "cid")
    codes = (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cid").alias("code"))
    )
    queries = subs.filter(
        (F.col("vec_id") >= _PQ_K) & (F.col("vec_id") < _PQ_K + _PQ_NQ)
    ).select(F.col("vec_id").alias("q_id"), "s", F.col("sub").alias("qsub"))
    lut = queries.join(F.broadcast(cb), "s").select(
        "q_id",
        F.col("s").alias("ls"),
        F.col("cid").alias("lcid"),
        F.expr(sqdist.format(a="qsub", b="csub")).alias("d"),
    )
    adc = (
        codes.filter(
            (F.col("vec_id") < _PQ_K) | (F.col("vec_id") >= _PQ_K + _PQ_NQ)
        )
        .join(
            F.broadcast(lut),
            (F.col("s") == F.col("ls")) & (F.col("code") == F.col("lcid")),
        )
        .groupBy("q_id", "vec_id")
        .agg(F.sum("d").cast("long").alias("adc_dist"))
    )
    wq = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    return (
        adc.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select("q_id", F.col("rank").cast("long").alias("rank"), "vec_id", "adc_dist")
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of exact and IVF ANN rankings
# ---------------------------------------------------------------------------

_RRF_K = 60


def _rrf_oracle() -> str:
    from .queries import all_oracles

    o = all_oracles()
    return f"""
WITH exact_r AS (SELECT * FROM ({o["ann_cosine_topk"]})),
ivf_r AS (SELECT * FROM ({o["ivf_ann_topk"]})),
u AS (
  SELECT query_id, vec_id, rank FROM exact_r
  UNION ALL
  SELECT query_id, vec_id, rank FROM ivf_r
),
sc AS (
  SELECT query_id, vec_id,
         CAST(FLOOR(1e6 * SUM(1e0 / ({_RRF_K} + rank))) AS BIGINT) AS rrf_micro
  FROM u GROUP BY 1, 2
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id, rrf_micro
FROM (
  SELECT query_id, vec_id, rrf_micro,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rrf_micro DESC, vec_id) AS rank
  FROM sc)
WHERE rank <= 10
"""


@register("rrf_fusion", _rrf_oracle())
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Büttcher, SIGIR'09) of
    the exact-cosine and IVF ANN rankings: ``Σ 1/(60+rank)`` over the
    systems that returned the item, re-ranked — the standard hybrid-
    retrieval combiner.  Both input rankings are tiny per-query
    relations; the fuse is one union + aggregation keyed on
    (query, item).  Scores are floored micro-units of a ≤2-term IEEE
    sum — deterministic on both engines."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact_r = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "vec_id", "rank"
    )
    ivf_r = simsearch.ivf_topk(
        emb, queries, k=10, bucket_dims=8, multiprobe=True
    ).select("query_id", "vec_id", "rank")
    u = exact_r.unionAll(ivf_r)
    sc = u.groupBy("query_id", "vec_id").agg(
        F.floor(F.lit(1e6) * F.sum(F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank"))))
        .cast("long")
        .alias("rrf_micro")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_micro"), "vec_id")
    return (
        sc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "vec_id", "rrf_micro")
    )


# ---------------------------------------------------------------------------
# k-means UPDATE step, made oracle-exact by integerizing first
# ---------------------------------------------------------------------------

_KMU_ORACLE = """
WITH iv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS iv,
         embedding::DOUBLE[] AS v
  FROM embeddings
),
cents AS (
  SELECT vec_id AS cluster_id, v AS c FROM iv ORDER BY vec_id LIMIT 8
),
scored AS (
  SELECT b.vec_id, c.cluster_id,
         ROUND(SQRT(list_sum(list_transform(generate_series(1, 64),
           i -> (b.v[i] - c.c[i]) * (b.v[i] - c.c[i])))), 6) AS dist
  FROM iv b CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT vec_id, cluster_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster_id) AS rn
    FROM scored)
  WHERE rn = 1
)
SELECT a.cluster_id, CAST(t.i AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST((1000 * SUM(b.iv[t.i])) // COUNT(*) AS BIGINT) AS centroid_milli
FROM assign a JOIN iv b USING (vec_id), UNNEST(generate_series(1, 64)) t(i)
GROUP BY a.cluster_id, t.i
"""


@register("kmeans_update", _KMU_ORACLE)
def q_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lloyd UPDATE step (new centroids), exactly checkable: the
    float mean is partition-order-dependent, so the update sums
    1024-scaled integerized coordinates (exact BIGINT, associative)
    and emits ``(1000·Σ) // n`` per (cluster, dim).  With assignment
    (``kmeans_assign``) this closes the full distributed k-means
    loop: broadcast centroids → assign → map-side-combining per-
    (cluster, dim) integer sums — the 100 TB shape with no
    order-sensitivity anywhere."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    assign = simsearch.kmeans_assign(emb, k=8).select("vec_id", "cluster_id")
    iv = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("iv"),
    )
    dims = assign.join(iv, "vec_id").select(
        "cluster_id", F.posexplode("iv").alias("pos", "val")
    )
    return (
        dims.groupBy("cluster_id", (F.col("pos") + 1).cast("long").alias("dim"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("val").alias("sv"),
        )
        .select(
            "cluster_id",
            "dim",
            "n",
            F.expr("(1000 * sv) div n").cast("long").alias("centroid_milli"),
        )
    )


# ---------------------------------------------------------------------------
# BPE training step 1: adjacent-pair merge counts
# ---------------------------------------------------------------------------

_BPE_MERGE_ORACLE = """
WITH words AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM (
    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY tok
),
pairs AS (
  SELECT substr(tok, i, 1) AS left_sym, substr(tok, i + 1, 1) AS right_sym,
         CAST(SUM(freq) AS BIGINT) AS n
  FROM words, UNNEST(generate_series(1, len(tok) - 1)) AS t(i)
  WHERE len(tok) >= 2
  GROUP BY 1, 2
)
SELECT left_sym, right_sym, n, CAST(rnk AS BIGINT) AS rnk
FROM (
  SELECT left_sym, right_sym, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, left_sym, right_sym) AS rnk
  FROM pairs)
WHERE rnk <= 20
"""


@register("bpe_merge_counts", _BPE_MERGE_ORACLE)
def q_bpe_merge_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first byte-pair-encoding TRAINING step: frequency of every
    adjacent symbol pair weighted by word frequency, top-20 merge
    candidates (Sennrich et al., ACL'16).  The word-frequency table
    collapses the corpus first (classic BPE optimization: pair counts
    ride word counts, not raw text), so the explode is over the
    vocabulary, not the corpus — the 100 TB trick.  Complements the
    tokenizer-APPLICATION side (``bpe_token_counts``)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    pairs = (
        words.filter(F.length("tok") >= 2)
        .select(
            "freq",
            F.posexplode(
                F.expr(
                    "transform(sequence(1, length(tok) - 1),"
                    " i -> struct(substr(tok, i, 1) as l, substr(tok, i + 1, 1) as r))"
                )
            ).alias("pos", "pr"),
        )
        .select(
            F.col("pr.l").alias("left_sym"),
            F.col("pr.r").alias("right_sym"),
            "freq",
        )
        .groupBy("left_sym", "right_sym")
        .agg(F.sum("freq").cast("long").alias("n"))
    )
    from pyspark.sql import Window

    # top-k via orderBy().limit → TakeOrderedAndProject over the
    # O(pair-vocab) table; the rank window runs over 20 rows only
    top = pairs.orderBy(F.desc("n"), "left_sym", "right_sym").limit(20)
    w = Window.orderBy(F.desc("n"), "left_sym", "right_sym")
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "left_sym", "right_sym", "n", F.col("rnk").cast("long").alias("rnk")
    )


# ---------------------------------------------------------------------------
# integer-exact embedding norm statistics per label
# ---------------------------------------------------------------------------

_NORMS_ORACLE = """
WITH iv AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS iv
  FROM embeddings
),
norms AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(list_sum(list_transform(generate_series(1, 64),
           i -> iv[i] * iv[i])) AS BIGINT) AS norm2
  FROM iv
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(norm2) AS BIGINT) AS min_norm2,
       CAST(MAX(norm2) AS BIGINT) AS max_norm2,
       CAST(SUM(norm2) // COUNT(*) AS BIGINT) AS mean_norm2
FROM norms GROUP BY label
"""


@register("embedding_norms", _NORMS_ORACLE)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label squared-norm statistics over 1024-scaled integerized
    embeddings — all-BIGINT (Σ of 64 products per vector, integer
    floor-mean), the norm-distribution sanity check an embedding
    pipeline runs before indexing (detects collapsed or exploding
    vectors); one column-math pass + one aggregation."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        F.col("label").cast("long").alias("label"),
        F.expr(
            "aggregate(transform(embedding,"
            " x -> cast(floor(cast(x as double) * 1024) as bigint)),"
            " cast(0 as bigint), (acc, v) -> acc + v * v)"
        ).alias("norm2"),
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("norm2").cast("long").alias("min_norm2"),
            F.max("norm2").cast("long").alias("max_norm2"),
            F.sum("norm2").alias("s2"),
        )
        .select(
            "label", "n", "min_norm2", "max_norm2",
            F.expr("s2 div n").cast("long").alias("mean_norm2"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash-LSH recall against exact shingle-Jaccard ground truth
# ---------------------------------------------------------------------------

_MH_RECALL_T = 0.35

_MH_RECALL_ORACLE = f"""
WITH sh AS (
  SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
  FROM documents, UNNEST(generate_series(1, len(text) - 7)) AS t(i)
  WHERE len(text) >= 8
),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT i.a_id, i.b_id FROM inter i
  JOIN sizes za ON za.doc_id = i.a_id
  JOIN sizes zb ON zb.doc_id = i.b_id
  WHERE i.i >= {_MH_RECALL_T} * (za.sz + zb.sz - i.i)
),
cand AS (SELECT a_id, b_id FROM ({{MINHASH}}) WHERE jaccard >= {_MH_RECALL_T}),
hits AS (SELECT COUNT(*) AS n FROM truth SEMI JOIN cand USING (a_id, b_id))
SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true_pairs,
       CAST((SELECT n FROM hits) AS BIGINT) AS n_found,
       CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates
"""


def _mh_recall_oracle() -> str:
    return _MH_RECALL_ORACLE.replace("{MINHASH}", _minhash_oracle().strip())


_REPEATED_SPANS_ORACLE = """
WITH spans AS (
  SELECT doc_id,
         ('0x' || substr(md5(substr(text, i, 32)), 1, 15))::BIGINT AS span_hash
  FROM (SELECT doc_id, text,
               UNNEST(range(1, GREATEST(length(text) - 31, 0) + 1, 4)) AS i
        FROM documents WHERE length(text) >= 32)
)
SELECT span_hash, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_occ
FROM spans GROUP BY span_hash HAVING COUNT(DISTINCT doc_id) >= 2
"""


@register("repeated_spans_l32", _REPEATED_SPANS_ORACLE)
def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (Lee et al. 2022's
    exact-substring dedup primitive, span granularity): every 32-char
    window sampled at stride 4 that appears verbatim in ≥ 2 distinct
    documents, with document and occurrence counts — the verbatim-
    boilerplate detector that MinHash (whole-doc similarity) cannot
    see.  Entirely JVM-side rolling-window explode + hash groupBy."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.repeated_spans(docs, span_len=32, stride=4, min_docs=2)


_REMOVE_SPANS_ORACLE = """
WITH wins AS (
  SELECT doc_id, i,
         ('0x' || substr(md5(substr(text, i, 32)), 1, 15))::BIGINT AS span_hash
  FROM (SELECT doc_id, text,
               UNNEST(range(1, GREATEST(length(text) - 31, 0) + 1, 4)) AS i
        FROM documents WHERE length(text) >= 32)
),
rep AS (
  SELECT span_hash FROM wins GROUP BY span_hash
  HAVING COUNT(DISTINCT doc_id) >= 2
),
hits AS (SELECT doc_id, i FROM wins SEMI JOIN rep USING (span_hash)),
covered AS (
  SELECT DISTINCT h.doc_id, h.i + o AS p
  FROM hits h, UNNEST(range(0, 32)) t(o)
),
chars AS (
  SELECT doc_id, p, substr(text, p, 1) AS ch
  FROM (SELECT doc_id, text, UNNEST(range(1, length(text) + 1)) AS p
        FROM documents)
),
cleaned AS (
  SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.p) AS clean_text
  FROM chars c ANTI JOIN covered v USING (doc_id, p)
  GROUP BY c.doc_id
)
SELECT d.doc_id,
       COALESCE(cl.clean_text, '') AS clean_text,
       CAST(length(d.text) - length(COALESCE(cl.clean_text, '')) AS BIGINT)
         AS removed_chars
FROM documents d LEFT JOIN cleaned cl USING (doc_id)
"""


@register("remove_repeated_spans_l32", _REMOVE_SPANS_ORACLE)
def q_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of exact-substring dedup (Lee et al. 2022):
    splice every repeated 32-char window (stride 4, ≥2 docs — same
    parameters as ``repeated_spans_l32``) out of its document,
    merging overlapping hits with a running cursor inside one JVM
    higher-order ``aggregate``, and report the cleaned text plus
    characters removed per document.  The oracle rebuilds the cleaned
    text character-by-character (anti-join against covered positions)
    — a completely different construction that must agree exactly."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.remove_repeated_spans(docs, span_len=32, stride=4, min_docs=2)


@register("minhash_recall", _mh_recall_oracle())
def q_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the banded MinHash-LSH pipeline against the EXACT
    shingle-Jaccard ≥ 0.35 pair set (computed by shingle-key
    inverted-index join — never all-pairs) — the dedup-quality twin
    of ``ivf_recall``: how many true near-dup pairs the bands
    surface, and at what candidate cost."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    sh = dedup.char_shingles(docs).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # ground-truth pair counts via the guarded bitmap kernel (exact;
    # falls back to the inverted-index join past its bounds) — see
    # dedup.pairwise_shared_item_counts
    inter = dedup.pairwise_shared_item_counts(
        sh, "sh", min_jaccard_prefilter=_MH_RECALL_T
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("za")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("zb")), "b_id")
        .filter(F.col("i") >= _MH_RECALL_T * (F.col("za") + F.col("zb") - F.col("i")))
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    # candidate pipeline fed by the SAME materialized shingle scan the
    # ground-truth side needs anyway (round-11, guide §2.4): signatures,
    # band join, and verification all derive from `sh` — the second
    # full corpus explode + candidate re-shingle are gone.  Values are
    # identical: min / countDistinct / collect_set are duplicate-blind.
    cand = (
        dedup.minhash_near_duplicates(docs, threshold=_MH_RECALL_T, shingles=sh)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    found = truth.join(cand, ["a_id", "b_id"], "semi")
    return (
        truth.agg(F.count("*").cast("long").alias("n_true_pairs"))
        .crossJoin(found.agg(F.count("*").cast("long").alias("n_found")))
        .crossJoin(cand.agg(F.count("*").cast("long").alias("n_candidates")))
    )


# ---------------------------------------------------------------------------
# language-ID confusion matrix (classifier evaluation)
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    from .queries import all_oracles

    return f"""
WITH pred AS ({all_oracles()["language_id"]})
SELECT d.lang AS true_lang, p.pred_lang,
       CAST(COUNT(*) AS BIGINT) AS n
FROM documents d JOIN pred p USING (doc_id)
GROUP BY 1, 2
"""


@register("langid_confusion", _langid_confusion_oracle())
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the n-gram language identifier against the
    corpus's ground-truth ``lang`` labels — the evaluation loop for
    any classifier stage in the curation cascade (per-class support
    and error mass in one crosstab)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    pred = textstats.language_id(docs).select("doc_id", "pred_lang")
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# Zipf slope of the word-frequency law (integer-quantized log OLS)
# ---------------------------------------------------------------------------

_ZIPF_TOP = 100

_ZIPF_ORACLE = f"""
WITH freq AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM (
    SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY tok
),
ranked AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rnk
  FROM freq
),
pts AS (
  SELECT CAST(FLOOR(1e6 * LN(CAST(rnk AS DOUBLE))) AS BIGINT) AS x,
         CAST(FLOOR(1e6 * LN(CAST(f AS DOUBLE))) AS BIGINT) AS y
  FROM ranked WHERE rnk <= {_ZIPF_TOP}
),
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pts
)
SELECT n AS n_terms,
       ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx), 6)
         AS zipf_slope
FROM stats
"""


@register("zipf_slope", _ZIPF_ORACLE)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: OLS slope of log-frequency
    on log-rank over the top 100 terms.  Each log is quantized to
    integer micros BEFORE summing (floor of 1e6·ln — the TF-IDF
    idiom), so the sufficient statistics are exact BIGINTs and the
    distributed sum is order-independent; natural text sits near
    slope −1, so drift flags corpus anomalies (boilerplate floods,
    template spam)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    freq = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("f"))
    )
    # top-k via orderBy().limit → TakeOrderedAndProject over the
    # O(vocab) frequency table; the rank window then covers only the
    # _ZIPF_TOP surviving rows
    top = freq.orderBy(F.desc("f"), "tok").limit(_ZIPF_TOP)
    ranked = top.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("f"), "tok"))
    )
    pts = ranked.select(
        F.floor(F.lit(1e6) * F.log(F.col("rnk").cast("double"))).cast("long").alias("x"),
        F.floor(F.lit(1e6) * F.log(F.col("f").cast("double"))).cast("long").alias("y"),
    )
    st = pts.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return st.select(
        F.col("n").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy"))
            / (F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# per-dimension embedding statistics (whitening audit, all-integer)
# ---------------------------------------------------------------------------

_DIMSTATS_ORACLE = """
WITH iv AS (
  SELECT list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS iv
  FROM embeddings
),
dims AS (
  SELECT t.i AS dim, iv[t.i] AS x
  FROM iv, UNNEST(generate_series(1, 64)) t(i)
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(x) AS BIGINT) AS sum_x,
       CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS var_num,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x
FROM dims GROUP BY dim
"""


@register("embedding_dim_stats", _DIMSTATS_ORACLE)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the (1024-scaled integer) embedding
    matrix — the whitening/standardization audit (dead dims have
    var_num 0, dominant dims skew distance metrics).  ``var_num =
    n·Σx² − (Σx)²`` stays an exact BIGINT; the normalizing transform
    itself is then one broadcast join away."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(
            F.expr(
                "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
            )
        ).alias("pos", "x")
    ).select((F.col("pos") + 1).cast("long").alias("dim"), "x")
    return dims.groupBy("dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sum_x"),
        (F.count("*") * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("long")
        .alias("var_num"),
        F.min("x").cast("long").alias("min_x"),
        F.max("x").cast("long").alias("max_x"),
    )


# ---------------------------------------------------------------------------
# Bigram language-model scores (perplexity-proxy quality filter)
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = """
WITH warr AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
bg AS MATERIALIZED (
  SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
  FROM warr, UNNEST(generate_series(1, len(a) - 1)) AS t(i)
),
vocab AS (
  SELECT COUNT(DISTINCT a[i]) AS v
  FROM warr, UNNEST(generate_series(1, len(a))) AS t(i)
),
cbg AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS cbg FROM bg GROUP BY 1, 2),
cctx AS MATERIALIZED (SELECT w1, COUNT(*) AS cctx FROM bg GROUP BY 1)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(CAST(ROUND(1e6 * LN((c.cbg + 1) * 1e0 / (x.cctx + (SELECT v FROM vocab)))) AS BIGINT)) AS BIGINT) AS sum_logp_micro
FROM bg b JOIN cbg c USING (w1, w2) JOIN cctx x USING (w1)
GROUP BY b.doc_id
"""


@register("bigram_lm_scores", _BIGRAM_LM_ORACLE)
def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram LM score per document — the
    perplexity-proxy quality signal (train on the corpus, score every
    doc, drop the tail).  See
    :func:`~graphdb_testing_spark.functions.textstats.bigram_lm_scores`."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.bigram_lm_scores(docs)


# ---------------------------------------------------------------------------
# Embedding covariance audit: top correlated dimension pairs, exact
# integer arithmetic (decorrelation / whitening diagnostics)
# ---------------------------------------------------------------------------

_COVAR_ORACLE = """
WITH iv AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS iv
  FROM embeddings
),
dims AS MATERIALIZED (
  SELECT vec_id, t.i AS i, iv[t.i] AS x
  FROM iv, UNNEST(generate_series(1, 64)) t(i)
),
dsum AS (SELECT i, SUM(x) AS sx FROM dims GROUP BY i),
nn AS (SELECT COUNT(*) AS c FROM iv),
pr AS (
  SELECT a.i AS dim_i, b.i AS dim_j, SUM(a.x * b.x) AS sxy
  FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND b.i > a.i
  GROUP BY 1, 2
),
cov AS (
  SELECT p.dim_i, p.dim_j,
         nn.c * p.sxy - sa.sx * sb.sx AS cov_num
  FROM pr p
  JOIN dsum sa ON sa.i = p.dim_i
  JOIN dsum sb ON sb.i = p.dim_j
  CROSS JOIN nn
),
rk AS (
  SELECT dim_i, dim_j, cov_num,
         ROW_NUMBER() OVER (ORDER BY ABS(cov_num) DESC, dim_i, dim_j) AS rank
  FROM cov
)
SELECT CAST(dim_i AS BIGINT) AS dim_i, CAST(dim_j AS BIGINT) AS dim_j,
       CAST(cov_num AS BIGINT) AS cov_num, CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 20
"""


@register("embedding_covariance_topk", _COVAR_ORACLE)
def q_embedding_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-covariant embedding dimension pairs — the
    decorrelation audit that decides whether a PCA/whitening pass is
    worth scheduling before ANN indexing (correlated dims waste IVF
    cells and inflate cosine variance).

    Exact arithmetic: values integerize at 1024× (the
    ``embedding_dim_stats`` convention), so ``cov_num = n·Σxy −
    Σx·Σy`` is a bit-identical BIGINT on both engines and the top-k
    ranking has no float boundary.

    Scale shape: NO self-join — each row map-side expands to its own
    d(d−1)/2 upper-triangle products via a column-sliced second
    ``posexplode``, then one partial-aggregated shuffle of at most
    d² = 4096 groups.  At 100 TB the shuffle volume is d² rows per
    partition regardless of row count; per-dim sums (64 rows)
    broadcast back for the centering term."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    iv = emb.select(
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("iv")
    )
    e1 = iv.select(F.posexplode("iv").alias("i0", "xi"), F.col("iv"))
    pairs = e1.select(
        "i0",
        "xi",
        F.posexplode(F.slice(F.col("iv"), F.col("i0") + 2, F.lit(64))).alias(
            "j0", "xj"
        ),
    ).select(
        (F.col("i0") + 1).cast("long").alias("dim_i"),
        (F.col("i0") + 2 + F.col("j0")).cast("long").alias("dim_j"),
        (F.col("xi") * F.col("xj")).alias("xy"),
    )
    sxy = pairs.groupBy("dim_i", "dim_j").agg(F.sum("xy").alias("sxy"))
    dsum = (
        iv.select(F.posexplode("iv").alias("i0", "x"))
        .groupBy((F.col("i0") + 1).cast("long").alias("i"))
        .agg(F.sum("x").alias("sx"))
    )
    nn = iv.agg(F.count("*").alias("c"))
    cov = (
        sxy.join(F.broadcast(dsum.select(F.col("i").alias("dim_i"), F.col("sx").alias("sxi"))), "dim_i")
        .join(F.broadcast(dsum.select(F.col("i").alias("dim_j"), F.col("sx").alias("sxj"))), "dim_j")
        .crossJoin(F.broadcast(nn))
        .select(
            "dim_i",
            "dim_j",
            (F.col("c") * F.col("sxy") - F.col("sxi") * F.col("sxj"))
            .cast("long")
            .alias("cov_num"),
        )
    )
    # top-k via orderBy().limit → TakeOrderedAndProject (cov is only
    # O(dim²) rows, but the discipline costs nothing); the rank
    # window then covers 20 rows
    top = cov.orderBy(F.abs(F.col("cov_num")).desc(), "dim_i", "dim_j").limit(20)
    w = Window.orderBy(F.abs(F.col("cov_num")).desc(), "dim_i", "dim_j")
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


# ---------------------------------------------------------------------------
# Dominant principal direction (power iteration, deterministic folds)
# ---------------------------------------------------------------------------

from .operators.pca import (  # noqa: E402
    power_iteration_loadings,
    power_iteration_oracle_sql,
)


@register(
    "pca_power_iteration",
    "WITH "
    + power_iteration_oracle_sql(dim=64, rounds=8)
    + "\nSELECT dim, loading_micro FROM pca_result",
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant eigenvector of the embedding covariance matrix — 8
    unnormalized power-iteration rounds over the exact-integer
    covariance, every float sum a left fold in index order so the
    DuckDB twin is bit-identical (see ``operators/pca.py``).  The
    whitening/decorrelation companion to ``embedding_covariance_topk``:
    one pass over the data builds the d² matrix, then the iteration is
    O(d²) JVM array math independent of corpus size."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return power_iteration_loadings(emb, dim=64, rounds=8)


from .operators.pca import (  # noqa: E402
    pca_projection_scores,
    pca_projection_oracle_sql,
)


@register(
    "pca_projection_scores",
    "WITH "
    + pca_projection_oracle_sql(dim=64, rounds=8)
    + "\nSELECT vec_id, proj_micro FROM pca_proj",
)
def q_pca_projection_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector projection onto the dominant covariance direction —
    the 1-D outlier/triage score downstream of
    ``pca_power_iteration``.  The direction broadcasts as one row; the
    scoring pass is map-only over the embedding column with an
    index-ordered fold, so both the plan and the floats are identical
    at any scale."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return pca_projection_scores(emb, dim=64, rounds=8)


@register(
    "kmeans_lloyd_3round",
    "WITH "
    + simsearch.kmeans_lloyd_oracle_sql(dim=64, k=8, rounds=3)
    + "\nSELECT vec_id, cluster_id, dist2 FROM lloyd_result",
)
def q_kmeans_lloyd_3round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three full Lloyd iterations (assign → integer centroid update →
    reassign), closing the k-means loop that ``kmeans_assign`` /
    ``kmeans_update`` expose as single steps.  Everything is exact
    BIGINT (1024× points, 1000×-finer centroids, integer squared
    distances) so the multi-round trajectory itself hash-matches the
    DuckDB twin — see ``functions/simsearch.kmeans_lloyd``."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.kmeans_lloyd(emb, k=8, rounds=3)


# ---------------------------------------------------------------------------
# BPE trainer loop: 3 iterated top-pair merges (tokenizer training)
# ---------------------------------------------------------------------------

def _bpe_train_oracle(rounds: int = 3) -> str:
    ctes = [
        """bt0 AS MATERIALIZED (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
         array_to_string(list_transform(range(1, len(tok) + 1),
                                        i -> tok[i]), ' ') AS spaced
  FROM (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents)
  WHERE tok <> '' GROUP BY tok
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""btp{r} AS MATERIALIZED (
  SELECT a[t.i] AS l, a[t.i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM (SELECT freq, string_split(spaced, ' ') AS a FROM bt{p}),
       UNNEST(generate_series(1, len(a) - 1)) t(i)
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""btt{r} AS (
  SELECT l, r, cnt FROM btp{r} ORDER BY cnt DESC, l, r LIMIT 1
)"""
        )
        ctes.append(
            f"""bt{r} AS MATERIALIZED (
  SELECT w.tok, w.freq,
         trim(replace(' ' || w.spaced || ' ',
                      ' ' || t.l || ' ' || t.r || ' ',
                      ' ' || t.l || t.r || ' ')) AS spaced
  FROM bt{p} w CROSS JOIN btt{r} t
)"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, l AS left_sym, r AS right_sym, cnt FROM btt{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(round AS BIGINT) AS round, left_sym, right_sym, cnt"
        f" FROM ({sel})"
    )


@register("bpe_train_3round", _bpe_train_oracle(3))
def q_bpe_train_3round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of actual BPE TRAINING (Sennrich et al., ACL'16):
    count adjacent symbol pairs corpus-wide, merge the most frequent
    pair everywhere (greedy leftmost, space-delimited so token
    boundaries can't false-match), recount.  Each round is one
    map-side pair explode + a ≤|pairs| partial-agg shuffle + a
    broadcast single-row merge rule applied map-only — the 100 TB BPE
    trainer shape (the vocabulary rule is the only global state).
    Ties break lexicographically so the merge sequence is
    deterministic; the oracle unrolls identical rounds."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("freq"))
        .select(
            "tok",
            "freq",
            F.expr(
                "array_join(transform(sequence(1, length(tok)),"
                " i -> substring(tok, i, 1)), ' ')"
            ).alias("spaced"),
        )
        .localCheckpoint()
    )
    picks = []
    for r in range(1, 4):
        arr = words.select("freq", F.split("spaced", " ").alias("a")).filter(
            F.size("a") >= 2
        )
        pairs = arr.select(
            "freq",
            F.explode(
                F.expr(
                    "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1),"
                    " (x, y) -> struct(x as l, y as r))"
                )
            ).alias("p"),
        ).select("freq", F.col("p.l").alias("l"), F.col("p.r").alias("r"))
        pc = pairs.groupBy("l", "r").agg(F.sum("freq").cast("long").alias("cnt"))
        top = (
            pc.orderBy(F.desc("cnt"), "l", "r").limit(1).localCheckpoint()
        )
        picks.append(
            top.select(
                F.lit(r).cast("long").alias("round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                "cnt",
            )
        )
        words = (
            words.crossJoin(F.broadcast(top))
            .select(
                "tok",
                "freq",
                F.expr(
                    "trim(replace(' ' || spaced || ' ',"
                    " ' ' || l || ' ' || r || ' ',"
                    " ' ' || l || r || ' '))"
                ).alias("spaced"),
            )
            .localCheckpoint()
        )
    out = picks[0]
    for pdf in picks[1:]:
        out = out.unionAll(pdf)
    return out


_BPE_APPLY_ORACLE = (
    _bpe_train_oracle(3).replace("\nSELECT CAST(round AS BIGINT)", "\n--").split("\n--")[0]
    + """,
bta AS (
  SELECT d.doc_id,
         trim(replace(' ' || array_to_string(
                 list_transform(range(1, len(w.tok) + 1), i -> w.tok[i]), ' ')
               || ' ',
               ' ' || t1.l || ' ' || t1.r || ' ', ' ' || t1.l || t1.r || ' '))
           AS s1,
         w.tok
  FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents) d
  JOIN (SELECT DISTINCT tok FROM bt0) w USING (tok)
  CROSS JOIN btt1 t1
  WHERE d.tok <> ''
),
btb AS (
  SELECT doc_id,
         trim(replace(' ' || s1 || ' ',
               ' ' || t2.l || ' ' || t2.r || ' ', ' ' || t2.l || t2.r || ' ')) AS s2
  FROM bta CROSS JOIN btt2 t2
),
btc AS (
  SELECT doc_id,
         trim(replace(' ' || s2 || ' ',
               ' ' || t3.l || ' ' || t3.r || ' ', ' ' || t3.l || t3.r || ' ')) AS s3
  FROM btb CROSS JOIN btt3 t3
)
SELECT doc_id,
       CAST(SUM(len(string_split(s3, ' '))) AS BIGINT) AS n_pieces
FROM btc GROUP BY doc_id
"""
)


@register("bpe_apply_tokens", _BPE_APPLY_ORACLE)
def q_bpe_apply_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the 3 learned BPE merges (``bpe_train_3round``) to every
    document and count the resulting pieces — the train→tokenize loop
    closed end to end.  The 3 merge rules are three broadcast
    single-row joins applied map-only in rule order (the vocabulary
    IS the only shared state, exactly how a 100 TB tokenizer pass
    ships its merges)."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # re-derive the 3 merge rules (same plan as the trainer)
    rules = q_bpe_train_3round(spark, sf_dir).orderBy("round").collect()
    spaced = F.expr(
        "array_join(transform(sequence(1, length(tok)), i -> substring(tok, i, 1)), ' ')"
    )
    cur = words.select("doc_id", spaced.alias("s"))
    for r in rules:
        l, rr = r["left_sym"], r["right_sym"]
        # column-literal replace (not an inlined SQL string): learned
        # symbols are corpus bytes and may contain quotes
        cur = cur.select(
            "doc_id",
            F.trim(
                F.replace(
                    F.concat(F.lit(" "), F.col("s"), F.lit(" ")),
                    F.lit(f" {l} {rr} "),
                    F.lit(f" {l}{rr} "),
                )
            ).alias("s"),
        )
    return cur.groupBy("doc_id").agg(
        F.sum(F.size(F.split("s", " "))).cast("long").alias("n_pieces")
    )


# ---------------------------------------------------------------------------
# kNN label classification accuracy (embedding-space evaluation)
# ---------------------------------------------------------------------------

_KNN_EVAL_ORACLE = """
WITH kiv AS MATERIALIZED (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS p
  FROM embeddings
),
kprobe AS (SELECT * FROM kiv WHERE vec_id < 200),
kd AS (
  SELECT q.vec_id AS q_id, q.label AS true_label,
         t.vec_id AS t_id, t.label AS t_label,
         list_sum(list_transform(generate_series(1, 64),
           i -> (q.p[i] - t.p[i]) * (q.p[i] - t.p[i]))) AS d2
  FROM kprobe q JOIN kiv t ON q.vec_id <> t.vec_id
),
knn AS (
  SELECT q_id, true_label, t_label FROM (
    SELECT q_id, true_label, t_label,
           ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY d2, t_id) AS rn
    FROM kd)
  WHERE rn <= 5
),
kvote AS (
  SELECT q_id, true_label, t_label AS pred_label FROM (
    SELECT q_id, true_label, t_label, COUNT(*) AS votes,
           ROW_NUMBER() OVER (PARTITION BY q_id
                              ORDER BY COUNT(*) DESC, t_label) AS vr
    FROM knn GROUP BY q_id, true_label, t_label)
  WHERE vr = 1
)
SELECT CAST(true_label AS BIGINT) AS true_label,
       CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct
FROM kvote GROUP BY true_label
"""


@register("knn_label_accuracy", _KNN_EVAL_ORACLE)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality evaluation: classify a 200-vector probe
    subset by 5-NN majority vote over the full corpus (exact integer
    squared distances, ties → nearer id then smaller label) and report
    per-label accuracy — the standard label-coherence check before
    trusting an embedding column for clustering or retrieval.

    Scale shape: probes broadcast (bounded subset); the distance pass
    is map-only over the corpus; per-probe top-k is a bounded window.
    The all-corpus side streams once — no n² pair materialization."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    iv = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("p"),
    ).localCheckpoint()
    probe = iv.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("p").alias("qp"),
    )
    d2 = F.expr(
        "aggregate(zip_with(qp, p, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, d) -> acc + d)"
    )
    kd = (
        iv.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            F.col("vec_id").alias("t_id"),
            F.col("label").alias("t_label"),
            d2.alias("d2"),
        )
    )
    wk = Window.partitionBy("q_id").orderBy("d2", "t_id")
    knn = kd.withColumn("rn", F.row_number().over(wk)).filter(F.col("rn") <= 5)
    wv = Window.partitionBy("q_id").orderBy(F.desc("votes"), "t_label")
    vote = (
        knn.groupBy("q_id", "true_label", "t_label")
        .agg(F.count("*").alias("votes"))
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
    )
    return vote.groupBy(F.col("true_label").cast("long").alias("true_label")).agg(
        F.count("*").cast("long").alias("n_probes"),
        F.sum((F.col("t_label") == F.col("true_label")).cast("long"))
        .cast("long")
        .alias("n_correct"),
    )


# ---------------------------------------------------------------------------
# Mutual information between document source and language
# ---------------------------------------------------------------------------

_MI_ORACLE = """
WITH mic AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c_xy FROM documents
  GROUP BY source, lang
),
mis AS (SELECT source, SUM(c_xy) AS c_x FROM mic GROUP BY source),
mil AS (SELECT lang, SUM(c_xy) AS c_y FROM mic GROUP BY lang),
mn AS (SELECT SUM(c_xy) AS n FROM mic)
SELECT c.source, c.lang, c.c_xy,
       CAST(FLOOR(1e6 * c.c_xy *
              (LN(CAST(c.c_xy AS DOUBLE)) + LN(CAST(mn.n AS DOUBLE))
               - LN(CAST(s.c_x AS DOUBLE)) - LN(CAST(l.c_y AS DOUBLE)))
              / mn.n) AS BIGINT) AS mi_contrib_micro
FROM mic c
JOIN mis s USING (source) JOIN mil l USING (lang) CROSS JOIN mn
"""


@register("source_lang_mi", _MI_ORACLE)
def q_source_lang_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell mutual-information contributions between document
    source and language — the dependence diagnostic that decides
    whether per-source language balancing is needed before mixing
    (near-zero MI = independent; concentrated cells = a source is a
    language silo).  Same micro-quantized-log idiom as
    ``user_type_entropy``: one small contingency aggregate, marginals
    broadcast back."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    mic = docs.groupBy("source", "lang").agg(
        F.count("*").cast("long").alias("c_xy")
    )
    mis = mic.groupBy("source").agg(F.sum("c_xy").alias("c_x"))
    mil = mic.groupBy("lang").agg(F.sum("c_xy").alias("c_y"))
    mn = mic.agg(F.sum("c_xy").alias("n"))
    return (
        mic.join(F.broadcast(mis), "source")
        .join(F.broadcast(mil), "lang")
        .crossJoin(F.broadcast(mn))
        .select(
            "source",
            "lang",
            "c_xy",
            F.floor(
                F.lit(1e6)
                * F.col("c_xy")
                * (
                    F.log(F.col("c_xy").cast("double"))
                    + F.log(F.col("n").cast("double"))
                    - F.log(F.col("c_x").cast("double"))
                    - F.log(F.col("c_y").cast("double"))
                )
                / F.col("n")
            )
            .cast("long")
            .alias("mi_contrib_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Chi-square independence statistic (exact integer numerators)
# ---------------------------------------------------------------------------

_CHI2_ORACLE = """
WITH xc AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c_xy FROM documents
  GROUP BY source, lang
),
xs AS (SELECT source, SUM(c_xy) AS c_x FROM xc GROUP BY source),
xl AS (SELECT lang, SUM(c_xy) AS c_y FROM xc GROUP BY lang),
xn AS (SELECT SUM(c_xy) AS n FROM xc),
cells AS (
  SELECT c.source, c.lang, c.c_xy,
         CAST(FLOOR(1e6 *
           CAST((xn.n * c.c_xy - s.c_x * l.c_y) AS DOUBLE)
           * (xn.n * c.c_xy - s.c_x * l.c_y)
           / (CAST(xn.n AS DOUBLE) * s.c_x * l.c_y)) AS BIGINT)
           AS chi2_contrib_micro
  FROM xc c JOIN xs s USING (source) JOIN xl l USING (lang) CROSS JOIN xn
)
SELECT source, lang, c_xy, chi2_contrib_micro FROM cells
"""


@register("chi_square_source_lang", _CHI2_ORACLE)
def q_chi_square_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence contributions for the
    source×language contingency table — the log-free sibling of
    ``source_lang_mi``: each cell's ``(n·o − r·c)²/(n·r·c)`` has an
    EXACT integer numerator, so only one deterministic double division
    per cell before micro-quantization."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    xc = docs.groupBy("source", "lang").agg(F.count("*").cast("long").alias("c_xy"))
    xs = xc.groupBy("source").agg(F.sum("c_xy").alias("c_x"))
    xl = xc.groupBy("lang").agg(F.sum("c_xy").alias("c_y"))
    xn = xc.agg(F.sum("c_xy").alias("n"))
    num = F.col("n") * F.col("c_xy") - F.col("c_x") * F.col("c_y")
    return (
        xc.join(F.broadcast(xs), "source")
        .join(F.broadcast(xl), "lang")
        .crossJoin(F.broadcast(xn))
        .select(
            "source",
            "lang",
            "c_xy",
            F.floor(
                F.lit(1e6)
                * num.cast("double")
                * num
                / (F.col("n").cast("double") * F.col("c_x") * F.col("c_y"))
            )
            .cast("long")
            .alias("chi2_contrib_micro"),
        )
    )


# ---------------------------------------------------------------------------
# Kolmogorov-Smirnov distance between two value distributions (exact)
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH ka AS (
  SELECT CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events
  WHERE event_type = 'view'
),
kb AS (
  SELECT CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events
  WHERE event_type = 'purchase'
),
kn AS (
  SELECT (SELECT COUNT(*) FROM ka) AS na, (SELECT COUNT(*) FROM kb) AS nb
),
pts AS (
  SELECT v, SUM(ia) AS da, SUM(ib) AS db FROM (
    SELECT v, 1 AS ia, 0 AS ib FROM ka
    UNION ALL SELECT v, 0, 1 FROM kb
  ) GROUP BY v
),
cum AS (
  SELECT v,
         SUM(da) OVER (ORDER BY v) AS ca,
         SUM(db) OVER (ORDER BY v) AS cb
  FROM pts
)
SELECT CAST(kn.na AS BIGINT) AS n_view, CAST(kn.nb AS BIGINT) AS n_purchase,
       CAST(MAX(ABS(kn.nb * cum.ca - kn.na * cum.cb)) AS BIGINT) AS ks_num,
       CAST(kn.na * kn.nb AS BIGINT) AS ks_den
FROM cum CROSS JOIN kn
GROUP BY kn.na, kn.nb
"""


@register("ks_test_event_values", _KS_ORACLE)
def q_ks_test_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the value
    distributions of 'view' and 'purchase' events, EXACT: the sup of
    |F̂₁−F̂₂| is ``max |n₂·cum₁ − n₁·cum₂| / (n₁·n₂)`` over the merged
    support — all integers (milli-quantized values), one sort-window
    pass, no float CDFs.  The distribution-drift test a curation
    pipeline runs between corpus snapshots."""
    ev = datasets.load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("v")
    )
    a = ev.filter(F.col("event_type") == "view").select(
        "v", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        "v", F.lit(0).alias("ia"), F.lit(1).alias("ib")
    )
    pts = a.unionAll(b).groupBy("v").agg(
        F.sum("ia").alias("da"), F.sum("ib").alias("db")
    )
    # scalable prefix sum: bucket the support, per-bucket windows, and
    # a tiny bucket-offset table — never one global unpartitioned sort
    # (the csr_offsets discipline)
    pts = pts.withColumn("bk", F.expr("v div 1024"))
    woff = Window.orderBy("bk").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offs = (
        pts.groupBy("bk")
        .agg(F.sum("da").alias("ba"), F.sum("db").alias("bb"))
        .select(
            "bk",
            (F.sum("ba").over(woff) - F.col("ba")).alias("oa"),
            (F.sum("bb").over(woff) - F.col("bb")).alias("ob"),
        )
    )
    win = Window.partitionBy("bk").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        pts.join(F.broadcast(offs), "bk")
        .select(
            "v",
            (F.sum("da").over(win) + F.col("oa")).alias("ca"),
            (F.sum("db").over(win) + F.col("ob")).alias("cb"),
        )
    )
    nn = a.agg(F.count("*").alias("na")).crossJoin(b.agg(F.count("*").alias("nb")))
    return (
        cum.crossJoin(F.broadcast(nn))
        .groupBy("na", "nb")
        .agg(
            F.max(F.abs(F.col("nb") * F.col("ca") - F.col("na") * F.col("cb")))
            .cast("long")
            .alias("ks_num")
        )
        .select(
            F.col("na").cast("long").alias("n_view"),
            F.col("nb").cast("long").alias("n_purchase"),
            "ks_num",
            (F.col("na") * F.col("nb")).cast("long").alias("ks_den"),
        )
    )


# ---------------------------------------------------------------------------
# Readability scores (Flesch-style, vowel-group syllable proxy)
# ---------------------------------------------------------------------------

_READ_ORACLE = """
WITH rtok AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
),
rsyl AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(GREATEST(len(regexp_split_to_array(lower(tok),
                                                     '[^aeiouy]+')) - 1, 1))
              AS BIGINT) AS n_syllables
  FROM rtok GROUP BY doc_id
)
SELECT doc_id, n_words, n_syllables,
       CAST(FLOOR(1e3 * (206.835e0 - 84.6e0 * n_syllables / n_words))
            AS BIGINT) AS flesch_milli
FROM rsyl
"""


@register("readability_scores", _READ_ORACLE)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per document with a vowel-group
    syllable proxy (runs of ``[aeiouy]`` per lowercased word,
    minimum 1) — the reading-level quality signal curation stacks
    next to ``quality_scores``.  The syllable proxy is a class-only
    regex split (byte-identical across engines, the ``BPE_PIECE_RE``
    discipline); the sentence-length term is dropped because the
    synthetic corpus carries no sentence punctuation — documented
    deviation, not a hidden one."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    syl = F.greatest(
        F.size(F.split(F.lower("tok"), "[^aeiouy]+")) - 1, F.lit(1)
    )
    per = toks.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(syl).cast("long").alias("n_syllables"),
    )
    return per.select(
        "doc_id",
        "n_words",
        "n_syllables",
        F.floor(
            F.lit(1e3)
            * (F.lit(206.835) - F.lit(84.6) * F.col("n_syllables") / F.col("n_words"))
        )
        .cast("long")
        .alias("flesch_milli"),
    )


# ---------------------------------------------------------------------------
# k-means elbow table: exact within-cluster SS for k in {2, 4, 8}
# ---------------------------------------------------------------------------

def _elbow_oracle() -> str:
    parts = []
    for k in (2, 4, 8):
        parts.append(
            f"""SELECT {k} AS k, SUM(dist2) AS wcss, COUNT(*) AS n_points FROM (
  SELECT vec_id, cluster_id, dist2 FROM (
    SELECT p.vec_id, c.cluster_id,
           list_sum(list_transform(generate_series(1, 64),
             i -> (1000 * p.p[i] - c.c[i]) * (1000 * p.p[i] - c.c[i]))) AS dist2,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
             list_sum(list_transform(generate_series(1, 64),
               i -> (1000 * p.p[i] - c.c[i]) * (1000 * p.p[i] - c.c[i]))),
             c.cluster_id) AS rn
    FROM elpts p CROSS JOIN (
      SELECT vec_id AS cluster_id, list_transform(p, x -> 1000 * x) AS c
      FROM elpts ORDER BY vec_id LIMIT {k}) c)
  WHERE rn = 1)"""
        )
    return (
        """WITH elpts AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS p
  FROM embeddings
)
SELECT CAST(k AS BIGINT) AS k, CAST(wcss AS BIGINT) AS wcss,
       CAST(n_points AS BIGINT) AS n_points
FROM ("""
        + "\nUNION ALL\n".join(parts)
        + ")"
    )


@register("kmeans_elbow", _elbow_oracle())
def q_kmeans_elbow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model selection for k-means: exact integer within-cluster
    squared distance after one assignment round against deterministic
    seeds, for k ∈ {2, 4, 8} — the elbow table, every number BIGINT
    (the ``kmeans_lloyd`` arithmetic), so the k-choice diagnostic is
    hash-checkable.  Three broadcast assignment passes over one
    integerized point cache."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("p"),
    ).localCheckpoint()
    dist2 = F.expr(
        "aggregate(zip_with(p, c, (x, y) -> (1000 * x - y) * (1000 * x - y)),"
        " cast(0 as bigint), (acc, d) -> acc + d)"
    )
    out = None
    for k in (2, 4, 8):
        cents = (
            pts.orderBy("vec_id")
            .limit(k)
            .select(
                F.col("vec_id").alias("cluster_id"),
                F.expr("transform(p, x -> 1000 * x)").alias("c"),
            )
        )
        w = Window.partitionBy("vec_id").orderBy("dist2", "cluster_id")
        a = (
            pts.crossJoin(F.broadcast(cents))
            .select("vec_id", "cluster_id", dist2.alias("dist2"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .agg(
                F.sum("dist2").cast("long").alias("wcss"),
                F.count("*").cast("long").alias("n_points"),
            )
            .select(F.lit(k).cast("long").alias("k"), "wcss", "n_points")
        )
        out = a if out is None else out.unionAll(a)
    return out


# ---------------------------------------------------------------------------
# Silhouette-style cohesion/separation audit (probe subset, exact)
# ---------------------------------------------------------------------------

_SIL_ORACLE = """
WITH slpts AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS p
  FROM embeddings
),
slcent AS (
  SELECT vec_id AS cluster_id, list_transform(p, x -> 1000 * x) AS c
  FROM slpts ORDER BY vec_id LIMIT 8
),
slassign AS (
  SELECT vec_id, cluster_id FROM (
    SELECT p.vec_id, c.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id ORDER BY
             list_sum(list_transform(generate_series(1, 64),
               i -> (1000 * p.p[i] - c.c[i]) * (1000 * p.p[i] - c.c[i]))),
             c.cluster_id) AS rn
    FROM slpts p CROSS JOIN slcent c)
  WHERE rn = 1
),
slprobe AS (
  SELECT p.vec_id, p.p, a.cluster_id FROM slpts p JOIN slassign a USING (vec_id)
  WHERE p.vec_id < 100
),
sld AS (
  SELECT q.vec_id AS q_id, q.cluster_id AS own_c, t.cluster_id AS t_c,
         list_sum(list_transform(generate_series(1, 64),
           i -> (q.p[i] - t.p[i]) * (q.p[i] - t.p[i]))) AS d2
  FROM slprobe q
  JOIN (SELECT p.vec_id, p.p, a.cluster_id
        FROM slpts p JOIN slassign a USING (vec_id)) t
    ON t.vec_id <> q.vec_id
),
slg AS (
  SELECT q_id, own_c, t_c, SUM(d2) AS s, COUNT(*) AS n
  FROM sld GROUP BY 1, 2, 3
),
slb AS (
  SELECT q_id, t_c AS b_cluster, s AS b_num, n AS b_den FROM (
    SELECT q_id, t_c, s, n,
           ROW_NUMBER() OVER (PARTITION BY q_id
             ORDER BY CAST(s AS DOUBLE) / n, t_c) AS rn
    FROM slg WHERE t_c <> own_c)
  WHERE rn = 1
)
SELECT a.q_id AS vec_id, CAST(a.own_c AS BIGINT) AS own_cluster,
       CAST(a.s AS BIGINT) AS a_num, CAST(a.n AS BIGINT) AS a_den,
       CAST(b.b_cluster AS BIGINT) AS b_cluster,
       CAST(b.b_num AS BIGINT) AS b_num, CAST(b.b_den AS BIGINT) AS b_den
FROM (SELECT q_id, own_c, s, n FROM slg WHERE t_c = own_c) a
JOIN slb b USING (q_id)
"""


@register("silhouette_probe", _SIL_ORACLE)
def q_silhouette_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette-style cluster audit on a 100-vector probe subset
    against the deterministic k=8 assignment: per probe, the exact
    integer (Σd², n) cohesion statistics for its own cluster and for
    the nearest other cluster (selected by mean — a ratio of exact
    integers, tie → smaller cluster id).  The downstream silhouette
    ``(b−a)/max(a,b)`` is two divisions; emitting the sufficient
    statistics keeps the audit hash-exact, the
    ``lineitem_correlations`` contract.  Probes broadcast; the corpus
    streams once."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("p"),
    ).localCheckpoint()
    cents = (
        pts.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("cluster_id"),
            F.expr("transform(p, x -> 1000 * x)").alias("c"),
        )
    )
    cdist = F.expr(
        "aggregate(zip_with(p, c, (x, y) -> (1000 * x - y) * (1000 * x - y)),"
        " cast(0 as bigint), (acc, d) -> acc + d)"
    )
    wasg = Window.partitionBy("vec_id").orderBy("d2", "cluster_id")
    assign = (
        pts.crossJoin(F.broadcast(cents))
        .select("vec_id", "cluster_id", cdist.alias("d2"))
        .withColumn("rn", F.row_number().over(wasg))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id")
    )
    tagged = pts.join(assign, "vec_id").localCheckpoint()
    probe = tagged.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("q_id"),
        F.col("p").alias("qp"),
        F.col("cluster_id").alias("own_c"),
    )
    pdist = F.expr(
        "aggregate(zip_with(qp, p, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, d) -> acc + d)"
    )
    slg = (
        tagged.crossJoin(F.broadcast(probe))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "own_c", F.col("cluster_id").alias("t_c"), pdist.alias("d2"))
        .groupBy("q_id", "own_c", "t_c")
        .agg(F.sum("d2").alias("s"), F.count("*").alias("n"))
        .localCheckpoint()
    )
    wb = Window.partitionBy("q_id").orderBy(
        (F.col("s").cast("double") / F.col("n")), "t_c"
    )
    slb = (
        slg.filter(F.col("t_c") != F.col("own_c"))
        .withColumn("rn", F.row_number().over(wb))
        .filter(F.col("rn") == 1)
        .select(
            "q_id",
            F.col("t_c").alias("b_cluster"),
            F.col("s").alias("b_num"),
            F.col("n").alias("b_den"),
        )
    )
    own = slg.filter(F.col("t_c") == F.col("own_c")).select(
        "q_id", "own_c", F.col("s").alias("a_num"), F.col("n").alias("a_den")
    )
    return own.join(slb, "q_id").select(
        F.col("q_id").alias("vec_id"),
        F.col("own_c").cast("long").alias("own_cluster"),
        F.col("a_num").cast("long").alias("a_num"),
        F.col("a_den").cast("long").alias("a_den"),
        F.col("b_cluster").cast("long").alias("b_cluster"),
        F.col("b_num").cast("long").alias("b_num"),
        F.col("b_den").cast("long").alias("b_den"),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between source unigram distributions
# ---------------------------------------------------------------------------

_JS_ORACLE = """
WITH jt AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM (
    SELECT source, UNNEST(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> '' GROUP BY source, tok
),
jtop AS (
  SELECT source FROM (
    SELECT source, SUM(c) AS tot,
           ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, source) AS rn
    FROM jt GROUP BY source) WHERE rn <= 3
),
jn AS (SELECT source, SUM(c) AS n FROM jt SEMI JOIN jtop USING (source) GROUP BY source),
jp AS (
  SELECT a.source AS sa, b.source AS sb FROM jtop a JOIN jtop b ON a.source < b.source
),
jterm AS (
  SELECT p.sa, p.sb, t.tok,
         COALESCE(ca.c, 0) AS ca, COALESCE(cb.c, 0) AS cb,
         na.n AS na, nb.n AS nb
  FROM jp p
  JOIN (SELECT DISTINCT tok FROM jt SEMI JOIN jtop USING (source)) t ON TRUE
  LEFT JOIN jt ca ON ca.source = p.sa AND ca.tok = t.tok
  LEFT JOIN jt cb ON cb.source = p.sb AND cb.tok = t.tok
  JOIN jn na ON na.source = p.sa
  JOIN jn nb ON nb.source = p.sb
  WHERE COALESCE(ca.c, 0) + COALESCE(cb.c, 0) > 0
),
jcontrib AS (
  SELECT sa, sb,
         CASE WHEN ca > 0 THEN
           CAST(FLOOR(1e9 * (ca * 1e0 / na) *
             LN((2e0 * ca / na) / (ca * 1e0 / na + cb * 1e0 / nb))) AS BIGINT)
         ELSE 0 END
         + CASE WHEN cb > 0 THEN
           CAST(FLOOR(1e9 * (cb * 1e0 / nb) *
             LN((2e0 * cb / nb) / (ca * 1e0 / na + cb * 1e0 / nb))) AS BIGINT)
         ELSE 0 END AS js_nano
  FROM jterm
)
SELECT sa AS source_a, sb AS source_b,
       CAST(SUM(js_nano) AS BIGINT) AS js_nano_x2
FROM jcontrib GROUP BY sa, sb
"""


@register("source_js_divergence", _JS_ORACLE)
def q_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence (×2, nano-quantized) between
    the unigram distributions of the three biggest sources — the
    distribution-shift number domain-mixing weights react to.
    Per-term contributions floor-quantize BEFORE the integer sum
    (the ``user_type_entropy`` discipline), so the result is
    order-independent and hash-exact despite the logs."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    jt = (
        docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
        .localCheckpoint()
    )
    # top-3 sources via orderBy().limit → TakeOrderedAndProject over
    # the per-source totals (no unpartitioned rank window)
    jtop = (
        jt.groupBy("source")
        .agg(F.sum("c").alias("tot"))
        .orderBy(F.desc("tot"), "source")
        .limit(3)
        .select("source")
    )
    jts = jt.join(F.broadcast(jtop), "source")
    jn = jts.groupBy("source").agg(F.sum("c").alias("n"))
    a = jtop.select(F.col("source").alias("sa"))
    b = jtop.select(F.col("source").alias("sb"))
    jp = a.crossJoin(b).filter(F.col("sa") < F.col("sb"))
    toks = jts.select("tok").distinct()
    jterm = (
        jp.crossJoin(toks)
        .join(
            jts.select(F.col("source").alias("sa"), "tok", F.col("c").alias("ca")),
            ["sa", "tok"],
            "left",
        )
        .join(
            jts.select(F.col("source").alias("sb"), "tok", F.col("c").alias("cb")),
            ["sb", "tok"],
            "left",
        )
        .fillna(0, subset=["ca", "cb"])
        .filter(F.col("ca") + F.col("cb") > 0)
        .join(F.broadcast(jn.select(F.col("source").alias("sa"), F.col("n").alias("na"))), "sa")
        .join(F.broadcast(jn.select(F.col("source").alias("sb"), F.col("n").alias("nb"))), "sb")
    )
    pa = F.col("ca") * F.lit(1.0) / F.col("na")
    pb = F.col("cb") * F.lit(1.0) / F.col("nb")
    term = F.when(
        F.col("ca") > 0,
        F.floor(F.lit(1e9) * pa * F.log((F.lit(2.0) * F.col("ca") / F.col("na")) / (pa + pb))).cast("long"),
    ).otherwise(F.lit(0)) + F.when(
        F.col("cb") > 0,
        F.floor(F.lit(1e9) * pb * F.log((F.lit(2.0) * F.col("cb") / F.col("nb")) / (pa + pb))).cast("long"),
    ).otherwise(F.lit(0))
    return (
        jterm.select(F.col("sa").alias("source_a"), F.col("sb").alias("source_b"), term.alias("js_nano"))
        .groupBy("source_a", "source_b")
        .agg(F.sum("js_nano").cast("long").alias("js_nano_x2"))
    )


# ---------------------------------------------------------------------------
# nDCG@10 of the IVF ranking against exact ground truth
# ---------------------------------------------------------------------------

_NDCG_ORACLE = f"""
WITH nexact AS ({_ANN_ORACLE.strip()}),
nivf AS ({_ivf_oracle().strip()}),
nrel AS (
  SELECT i.query_id, i.rank AS ivf_rank,
         COALESCE(11 - e.rank, 0) AS rel
  FROM nivf i
  LEFT JOIN nexact e ON e.query_id = i.query_id AND e.vec_id = i.vec_id
),
ndcg AS (
  SELECT query_id,
         SUM(CAST(FLOOR(1e6 * rel / (LN(1 + ivf_rank) / LN(2e0))) AS BIGINT))
           AS dcg_micro
  FROM nrel GROUP BY query_id
),
nideal AS (
  SELECT query_id,
         SUM(CAST(FLOOR(1e6 * (11 - rank) / (LN(1 + rank) / LN(2e0))) AS BIGINT))
           AS idcg_micro
  FROM nexact GROUP BY query_id
)
SELECT d.query_id, CAST(d.dcg_micro AS BIGINT) AS dcg_micro,
       CAST(i.idcg_micro AS BIGINT) AS idcg_micro
FROM ndcg d JOIN nideal i USING (query_id)
"""


@register("ivf_ndcg", _NDCG_ORACLE)
def q_ivf_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded ranking quality of the IVF index: DCG@10 with graded
    relevance ``11 − exact_rank`` against the ideal DCG of the exact
    ranking — position-sensitive where ``ivf_recall`` is set-only.
    Per-position terms micro-quantize before the integer sum (the
    log discipline), so both columns hash-match; nDCG = dcg/idcg
    downstream."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = simsearch.cosine_topk(emb, queries, k=10).select(
        "query_id", "vec_id", F.col("rank").alias("e_rank")
    )
    ivf = simsearch.ivf_topk(emb, queries, k=10).select(
        "query_id", "vec_id", F.col("rank").alias("ivf_rank")
    )
    log2 = lambda c: F.log(c) / F.log(F.lit(2.0))  # noqa: E731
    nrel = (
        ivf.join(exact, ["query_id", "vec_id"], "left")
        .select(
            "query_id",
            "ivf_rank",
            F.coalesce(F.lit(11) - F.col("e_rank"), F.lit(0)).alias("rel"),
        )
    )
    dcg = nrel.groupBy("query_id").agg(
        F.sum(
            F.floor(
                F.lit(1e6) * F.col("rel") / log2(F.lit(1.0) + F.col("ivf_rank"))
            ).cast("long")
        )
        .cast("long")
        .alias("dcg_micro")
    )
    ideal = exact.groupBy("query_id").agg(
        F.sum(
            F.floor(
                F.lit(1e6)
                * (F.lit(11) - F.col("e_rank"))
                / log2(F.lit(1.0) + F.col("e_rank"))
            ).cast("long")
        )
        .cast("long")
        .alias("idcg_micro")
    )
    return dcg.join(ideal, "query_id")


# ---------------------------------------------------------------------------
# SemDeDup: k-means-cluster-blocked semantic near-duplication
# ---------------------------------------------------------------------------

_SEMDEDUP_ASG_CTE = f"""
{_KMEANS_ASG_CTE.strip()},
sem_pairs AS (
  SELECT a.cluster_id, a.vec_id AS a_id, b.vec_id AS b_id,
         ROUND(list_cosine_similarity(a.v, b.v), 6) AS sim
  FROM asg a JOIN asg b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
"""

_SEMDEDUP_ORACLE = f"""
WITH {_SEMDEDUP_ASG_CTE.strip()}
SELECT cluster_id, a_id, b_id, sim FROM sem_pairs
"""


@register("semantic_dedup_pairs", _SEMDEDUP_ORACLE)
def q_semantic_dedup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): near-duplicate pairs found by
    k-means CLUSTER blocking — assign to 8 deterministic centroids,
    compare only within a cluster (equi-join on cluster_id, so the
    pair space is Σ|cluster|² not n²; clusters are data-adaptive
    regions, unlike the fixed sign-bucket grid)."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.semantic_dedup_pairs(emb, threshold=0.4, k=8)


_SEMDEDUP_RECALL_ORACLE = f"""
WITH {_SEMDEDUP_ASG_CTE.strip()},
exact AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM base a JOIN base b ON a.vec_id < b.vec_id
  WHERE ROUND(list_cosine_similarity(a.v, b.v), 6) >= 0.4
)
SELECT CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT COUNT(*) FROM sem_pairs) AS BIGINT) AS n_blocked,
       ROUND((SELECT COUNT(*) FROM sem_pairs)
             / GREATEST((SELECT COUNT(*) FROM exact), 1) * 1e0, 6) AS recall
"""


@register("semantic_dedup_recall", _SEMDEDUP_RECALL_ORACLE)
def q_semantic_dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of SemDeDup cluster blocking against the exact
    all-pairs ground truth at the same threshold — the honest
    measurement of what cluster-boundary-straddling pairs cost
    (every blocked pair is also an exact pair, so recall =
    |blocked| / |exact|)."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    blocked = simsearch.semantic_dedup_pairs(emb, threshold=0.4, k=8)
    exact = simsearch.embedding_near_duplicates(emb, threshold=0.4)
    nb = blocked.agg(F.count(F.lit(1)).alias("n_blocked"))
    nx = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        nx.crossJoin(F.broadcast(nb))
        .select(
            F.col("n_exact").cast("long").alias("n_exact"),
            F.col("n_blocked").cast("long").alias("n_blocked"),
            F.round(
                F.col("n_blocked")
                / F.greatest(F.col("n_exact"), F.lit(1)).cast("double"),
                6,
            ).alias("recall"),
        )
    )


#: SemDeDup retention manifest oracle: blocked pairs → bounded
#: min-label CC → per-embedding keep/drop; the trailing UNION ALL
#: surfaces the convergence poison row (vec_ids are ≥ 0).
_SEMDEDUP_RETENTION_ORACLE = f"""
WITH {_SEMDEDUP_ASG_CTE.strip()},
ssym AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM sem_pairs
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM sem_pairs
),
{oracles.cc_bounded_ctes("ssym", rounds=8, out="slbl")},
ssz AS (SELECT label, COUNT(*) AS n FROM slbl GROUP BY label)
SELECT e.vec_id,
       CAST(COALESCE(l.label, e.vec_id) AS BIGINT) AS cluster_id,
       CAST(COALESCE(z.n, 1) AS BIGINT) AS cluster_size,
       CAST(e.vec_id = COALESCE(l.label, e.vec_id) AS BIGINT) AS keep
FROM embeddings e
LEFT JOIN slbl l ON l.id = e.vec_id
LEFT JOIN ssz z ON z.label = l.label
UNION ALL
SELECT CAST(id AS BIGINT) AS vec_id, CAST(label AS BIGINT) AS cluster_id,
       CAST(-1 AS BIGINT) AS cluster_size, CAST(-1 AS BIGINT) AS keep
FROM slbl WHERE id < 0
"""


@register("semdedup_retention", _SEMDEDUP_RETENTION_ORACLE)
def q_semdedup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup retention manifest: cluster-blocked cosine ≥ 0.4 pairs
    → connected components over the semantic-duplicate graph →
    canonical min id kept per component, keep/drop flag for every
    embedding — the embedding-space twin of ``dedup_retention_clusters``.
    See :func:`~graphdb_testing_spark.functions.simsearch.semdedup_retention`."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.semdedup_retention(emb, threshold=0.4, k=8)


# ---------------------------------------------------------------------------
# Cross-source leakage matrix: near-dup pairs straddling corpus sources
# ---------------------------------------------------------------------------

_LEAKAGE_ORACLE = f"""
WITH mh_pairs AS ({_minhash_oracle().strip()}),
src AS (SELECT doc_id, source FROM documents)
SELECT LEAST(sa.source, sb.source) AS source_a,
       GREATEST(sa.source, sb.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN p.jaccard >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_strong
FROM mh_pairs p
JOIN src sa ON sa.doc_id = p.a_id
JOIN src sb ON sb.doc_id = p.b_id
GROUP BY 1, 2
"""


@register("cross_source_leakage", _LEAKAGE_ORACLE)
def q_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate LEAKAGE matrix across corpus sources: MinHash+LSH
    candidate pairs rolled up by unordered (source, source) pair, with
    the strong-pair count (exact Jaccard ≥ 0.5).  Off-diagonal rows
    (source_a ≠ source_b) are cross-source duplication — the
    train/eval contamination signal a split-by-source pipeline must
    audit before trusting held-out metrics.  Composes the registered
    LSH pipeline (banded equi-join, never all-pairs) with one
    broadcastable source-dim join and a tiny grouped rollup."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    # round-10: the fused threshold-0 pipeline (see
    # minhash_lsh_candidates) — same pairs/jaccard, no corpus-wide
    # distinct-shingle materialization
    pairs = dedup.minhash_near_duplicates(docs, threshold=0.0)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("sa"))
    sb = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("sb"))
    return (
        pairs.join(F.broadcast(sa), "a_id")
        .join(F.broadcast(sb), "b_id")
        .groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum((F.col("jaccard") >= 0.5).cast("long"))
            .cast("long")
            .alias("n_strong"),
        )
    )


# ---------------------------------------------------------------------------
# Label-centroid drift: pairwise cosine between embedding-slice means
# ---------------------------------------------------------------------------

_CENTROID_DRIFT_ORACLE = """
WITH sums AS (
  SELECT label, i.i AS dim,
         SUM(CAST(FLOOR(1024 * embedding[i.i]) AS BIGINT)) AS s
  FROM embeddings, (SELECT UNNEST(generate_series(1, 64)) AS i) i
  GROUP BY 1, 2
),
norms AS (
  SELECT label, SQRT(SUM(CAST(s AS DOUBLE) * s)) AS nrm
  FROM sums GROUP BY label
),
dots AS (
  SELECT a.label AS label_a, b.label AS label_b,
         SUM(CAST(a.s AS DOUBLE) * b.s) AS dp
  FROM sums a JOIN sums b ON a.dim = b.dim AND a.label < b.label
  GROUP BY 1, 2
)
SELECT CAST(d.label_a AS BIGINT) AS label_a,
       CAST(d.label_b AS BIGINT) AS label_b,
       ROUND(d.dp / (na.nrm * nb.nrm), 6) AS centroid_cosine
FROM dots d
JOIN norms na ON na.label = d.label_a
JOIN norms nb ON nb.label = d.label_b
"""


@register("label_centroid_drift", _CENTROID_DRIFT_ORACLE)
def q_label_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine between the CENTROIDS of each label's embedding
    slice — the distribution-shift audit between corpus partitions
    (slices whose centroids drift apart need separate mixing weights;
    scale invariance means cosine of the integerized per-dim SUMS
    equals cosine of the means, so no float division by counts and
    every quantity is an exact ≤2^53 integer sum — order-independent
    and hash-identical across engines).

    Scale shape: one posexplode + (label, dim) partial-agg (the only
    big shuffle, keyed on a tiny domain), then a dim-keyed self-join
    of the k×64-row sum table — everything after the first aggregate
    is constant-size."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    sums = (
        emb.select("label", F.posexplode("embedding").alias("d0", "x"))
        .groupBy(F.col("label"), (F.col("d0") + 1).alias("dim"))
        .agg(
            F.sum(F.floor(F.lit(1024) * F.col("x")).cast("long")).alias("s")
        )
        .localCheckpoint()
    )
    norms = sums.groupBy("label").agg(
        F.sqrt(F.sum(F.col("s").cast("double") * F.col("s"))).alias("nrm")
    )
    a = sums.select(
        F.col("label").alias("label_a"), "dim", F.col("s").alias("sa")
    )
    b = sums.select(
        F.col("label").alias("label_b"), "dim", F.col("s").alias("sb")
    )
    dots = (
        a.join(b, "dim")
        .filter(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(F.sum(F.col("sa").cast("double") * F.col("sb")).alias("dp"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .select(
            F.col("label_a").cast("long").alias("label_a"),
            F.col("label_b").cast("long").alias("label_b"),
            F.round(F.col("dp") / (F.col("na") * F.col("nb")), 6).alias(
                "centroid_cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Token frequency spectrum + Good-Turing adjusted counts
# ---------------------------------------------------------------------------

_FREQ_SPECTRUM_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
counts AS (SELECT w, COUNT(*) AS r FROM toks GROUP BY 1),
spec AS (
  SELECT r AS freq, CAST(COUNT(*) AS BIGINT) AS n_types
  FROM counts GROUP BY 1
)
SELECT s.freq, s.n_types,
       CAST(ROUND(1e6 * ((s.freq + 1) * n2.n_types) * 1e0 / s.n_types)
            AS BIGINT) AS gt_adjusted_micro
FROM spec s LEFT JOIN spec n2 ON n2.freq = s.freq + 1
"""


@register("token_freq_spectrum", _FREQ_SPECTRUM_ORACLE)
def q_token_freq_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus count-of-counts spectrum with Good–Turing adjusted
    counts in integer micros — the smoothing input and Zipfian
    corpus-health diagnostic.  See
    :func:`~graphdb_testing_spark.functions.textstats.token_freq_spectrum`."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.token_freq_spectrum(docs)


# ---------------------------------------------------------------------------
# Prototype-based data pruning (Sorscher et al. 2022), D4 (Tirumala et
# al. 2023), and SoftDeDup commonness weights (He et al. 2024)
# ---------------------------------------------------------------------------

_PROTO_PRUNING_ORACLE = (
    "WITH "
    + simsearch.prototype_pruning_oracle_sql(dim=64, k=8, rounds=3)
    + "\nSELECT vec_id, cluster_id, dist2, proto_rank, keep FROM proto_result"
)


@register("prototype_pruning_keep", _PROTO_PRUNING_ORACLE)
def q_prototype_pruning_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototype data pruning (Sorscher et al. 2022): 3 exact
    Lloyd rounds, rank within cluster by distance-to-prototype
    descending, keep each cluster's hardest ceil(n/2).  See
    :func:`~graphdb_testing_spark.functions.simsearch.prototype_pruning`."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.prototype_pruning(emb, k=8, rounds=3)


#: D4 oracle: SemDeDup keep (blocked pairs → bounded CC → canonical)
#: → Lloyd + hardest-tail prune over the survivors only; the trailing
#: UNION ALL surfaces the CC convergence poison row (vec_ids ≥ 0).
_D4_RETENTION_ORACLE = f"""
WITH {_SEMDEDUP_ASG_CTE.strip()},
dsym AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM sem_pairs
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM sem_pairs
),
{oracles.cc_bounded_ctes("dsym", rounds=8, out="dlbl")},
semk AS MATERIALIZED (
  SELECT e.vec_id,
         CAST(e.vec_id = COALESCE(l.label, e.vec_id) AS BIGINT) AS sem_keep
  FROM embeddings e LEFT JOIN dlbl l ON l.id = e.vec_id
),
d4_surv AS MATERIALIZED (
  SELECT e.vec_id, e.embedding
  FROM embeddings e JOIN semk s USING (vec_id) WHERE s.sem_keep = 1
),
{simsearch.prototype_pruning_oracle_sql(dim=64, k=8, rounds=3, source="d4_surv").strip()}
SELECT s.vec_id, s.sem_keep,
       CAST(COALESCE(p.cluster_id, -1) AS BIGINT) AS proto_cluster,
       CAST(COALESCE(p.proto_rank, -1) AS BIGINT) AS proto_rank,
       CAST(s.sem_keep * COALESCE(p.keep, 0) AS BIGINT) AS keep
FROM semk s LEFT JOIN proto_result p USING (vec_id)
UNION ALL
SELECT CAST(id AS BIGINT) AS vec_id, CAST(-1 AS BIGINT) AS sem_keep,
       CAST(-1 AS BIGINT) AS proto_cluster, CAST(-1 AS BIGINT) AS proto_rank,
       CAST(-1 AS BIGINT) AS keep
FROM dlbl WHERE id < 0
"""


@register("d4_retention", _D4_RETENTION_ORACLE)
def q_d4_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 retention manifest (Tirumala et al. 2023): semantic dedup
    first, prototype pruning on the survivors — dedup removes
    redundancy, the prototype tail keeps diversity.  See
    :func:`~graphdb_testing_spark.functions.simsearch.d4_retention`."""
    emb = datasets.load_table(spark, sf_dir, "embeddings")
    return simsearch.d4_retention(emb, threshold=0.4, k=8, rounds=3)


_SOFTDEDUP_ORACLE = """
WITH sd_wa AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS a FROM documents
),
sd_gr AS MATERIALIZED (
  SELECT doc_id, array_to_string(a[i:i+3], ' ') AS gram
  FROM sd_wa, UNNEST(generate_series(1, len(a) - 3)) t(i)
  WHERE len(a) >= 4
),
sd_fr AS (SELECT gram, COUNT(*) AS cnt FROM sd_gr GROUP BY gram),
sd_doc AS (
  SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CAST(ROUND(1e6 * LN(f.cnt)) AS BIGINT)) AS BIGINT)
           AS sum_logf_micro
  FROM sd_gr g JOIN sd_fr f USING (gram)
  GROUP BY g.doc_id
)
SELECT doc_id, n_grams, sum_logf_micro,
       CAST(sum_logf_micro // n_grams AS BIGINT) AS avg_logf_micro
FROM sd_doc
"""


@register("softdedup_commonness", _SOFTDEDUP_ORACLE)
def q_softdedup_commonness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup commonness scores (He et al., ACL 2024): per-document
    micro-log sum of word 4-gram corpus frequencies — the
    duplication-aware *re-weighting* alternative to hard removal.  See
    :func:`~graphdb_testing_spark.functions.dedup.softdedup_commonness`."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.softdedup_commonness(docs, k=4)


_FERTILITY_ORACLE = r"""
WITH fd AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS chars,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT) AS words,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS pieces
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(chars) AS BIGINT) AS n_chars,
       CAST(SUM(words) AS BIGINT) AS n_words,
       CAST(SUM(pieces) AS BIGINT) AS n_pieces,
       CASE WHEN SUM(pieces) > 0
            THEN ROUND(SUM(chars) * 1e0 / SUM(pieces), 6) END AS chars_per_piece,
       CASE WHEN SUM(words) > 0
            THEN ROUND(SUM(pieces) * 1e0 / SUM(words), 6) END AS pieces_per_word
FROM fd GROUP BY lang
"""


@register("tokenizer_fertility_by_lang", _FERTILITY_ORACLE)
def q_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility and compression — the
    sequence-length cost model a multilingual sampling budget (see
    ``unimax_lang_budgets``) prices languages with.  See
    :func:`~graphdb_testing_spark.functions.textstats.tokenizer_fertility`."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return textstats.tokenizer_fertility(docs)


# ---------------------------------------------------------------------------
# LSH S-curve calibration (measured vs theoretical detection per bucket)
# ---------------------------------------------------------------------------


def _lsh_s_curve_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    rows = num_hashes // bands
    jr = " * ".join(["jm"] * rows)
    qb = " * ".join(["q"] * bands)
    return f"""
WITH {_minhash_ctes().strip()},
sc_titer AS (
  SELECT sa.doc_id AS a_id, sb.doc_id AS b_id, COUNT(*) AS i
  FROM sh sa JOIN sh sb ON sb.sh = sa.sh AND sa.doc_id < sb.doc_id
  GROUP BY 1, 2
),
sc_truth AS (
  SELECT t.a_id, t.b_id, t.i / (1e0 * (za.sz + zb.sz - t.i)) AS j
  FROM sc_titer t
  JOIN sizes za ON za.doc_id = t.a_id
  JOIN sizes zb ON zb.doc_id = t.b_id
  WHERE t.i / (1e0 * (za.sz + zb.sz - t.i)) >= 0.05
),
sc_det AS (
  SELECT tr.j, CASE WHEN c.a_id IS NULL THEN 0 ELSE 1 END AS f
  FROM sc_truth tr
  LEFT JOIN cand c ON c.a_id = tr.a_id AND c.b_id = tr.b_id
),
sc_bk AS (
  SELECT CAST(FLOOR(j * 20) AS BIGINT) AS j_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_true,
         CAST(SUM(f) AS BIGINT) AS n_detected
  FROM sc_det GROUP BY 1
),
sc_thry AS (
  SELECT j_bucket, n_true, n_detected,
         LEAST(j_bucket / 20.0 + 0.025, 1.0) AS jm
  FROM sc_bk
),
sc_q AS (
  SELECT j_bucket, n_true, n_detected, jm, 1.0 - ({jr}) AS q FROM sc_thry
)
SELECT j_bucket,
       ROUND(j_bucket / 20.0, 6) AS j_lo,
       n_true, n_detected,
       ROUND(n_detected / (1e0 * n_true), 6) AS detect_rate,
       ROUND(1.0 - ({qb}), 6) AS p_theory
FROM sc_q
"""


@register("lsh_s_curve", _lsh_s_curve_oracle())
def q_lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH S-curve calibration: measured banded-index
    detection rate per exact-Jaccard bucket vs the theoretical
    ``1 - (1 - j^r)^b`` — the diagnostic that says what the (bands,
    rows) configuration actually catches at each similarity level.
    See :func:`~graphdb_testing_spark.functions.dedup.lsh_s_curve`."""
    docs = datasets.load_table(spark, sf_dir, "documents")
    return dedup.lsh_s_curve(docs)


# ---------------------------------------------------------------------------
# signature-agreement retention manifest (the streaming workflow's
# batch anchor: final streaming labels must equal this table)
# ---------------------------------------------------------------------------

_SIG_RETENTION_ORACLE = f"""
WITH {_minhash_ctes().strip()},
sg_pairs AS (
  SELECT a_id, b_id FROM (
    SELECT c.a_id, c.b_id,
           ({" + ".join(f"CAST(a.mh_{s} = b.mh_{s} AS BIGINT)" for s in range(16))})
             AS n_agree
    FROM cand c
    JOIN sig a ON a.doc_id = c.a_id
    JOIN sig b ON b.doc_id = c.b_id
  ) WHERE n_agree >= 8
),
sg_sym AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM sg_pairs
  UNION ALL
  SELECT b_id AS src, a_id AS dst FROM sg_pairs
),
{oracles.cc_bounded_ctes("sg_sym", rounds=8, out="sglbl")},
sgsz AS (SELECT label, COUNT(*) AS n FROM sglbl GROUP BY label)
SELECT d.doc_id,
       CAST(COALESCE(l.label, d.doc_id) AS BIGINT) AS cluster_id,
       CAST(COALESCE(z.n, 1) AS BIGINT) AS cluster_size,
       CAST(d.doc_id = COALESCE(l.label, d.doc_id) AS BIGINT) AS keep
FROM documents d
LEFT JOIN sglbl l ON l.id = d.doc_id
LEFT JOIN sgsz z ON z.label = l.label
UNION ALL
SELECT CAST(id AS BIGINT) AS doc_id, CAST(label AS BIGINT) AS cluster_id,
       CAST(-1 AS BIGINT) AS cluster_size, CAST(-1 AS BIGINT) AS keep
FROM sglbl WHERE id < 0
"""


@register("signature_retention_clusters", _SIG_RETENTION_ORACLE)
def q_signature_retention_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention manifest over SIGNATURE-AGREEMENT pairs (Broder
    estimator, one corpus pass): the batch anchor of the streaming
    retention workflow — ``streaming_retention_decisions``' final
    label table must equal this manifest's cluster assignment
    (replay-parity-tested in ``tests/test_streaming.py``)."""
    from .operators.components import connected_components

    docs = datasets.load_table(spark, sf_dir, "documents")
    pairs = dedup.signature_agreement_pairs(docs, min_agree=8).select("a_id", "b_id")
    sym = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionAll(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    cc = connected_components(sym)
    sizes = cc.groupBy("label").agg(F.count("*").alias("n"))
    lab = cc.join(sizes, "label").select(F.col("id").alias("_rid"), "label", "n")
    return (
        docs.select("doc_id")
        .join(lab, F.col("doc_id") == F.col("_rid"), "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).cast("long").alias("cluster_id"),
            F.coalesce("n", F.lit(1)).cast("long").alias("cluster_size"),
            (F.col("doc_id") == F.coalesce("label", F.col("doc_id")))
            .cast("long")
            .alias("keep"),
        )
    )
