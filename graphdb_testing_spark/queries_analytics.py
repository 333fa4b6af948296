"""Analytics-pack queries: betweenness (unrolled-Brandes oracle),
community agglomeration + core numbers (rows-only: driver records the
weaker check for genuinely iterative, non-SQL-expressible ops)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import datasets, oracles
from .operators.betweenness import betweenness
from .operators.bfs import sssp_weighted
from .operators.community import community_agglomeration
from .operators.kcore import core_numbers
from .operators.triangles import edge_embeddedness
from .queries import register

_N_ROOTS = 4
_LEVELS = 4  # user graph eccentricity ≤ 3 from any root at test scales


def _brandes_oracle(n_roots: int = _N_ROOTS, levels: int = _LEVELS) -> str:
    """Brandes unrolled to a fixed level count in plain SQL.

    Forward: per-level frontier ``l{i}(root, id, sigma)`` with visited
    subtraction; backward: dependency sums ``d{i}`` from deepest to
    root level.  Valid while the true BFS depth from every root is
    < ``levels`` (asserted by the engine side using the same bound).
    """
    # every level CTE is MATERIALIZED: l{i}/v{i}/d{i} chain and are
    # referenced 2-3× each, so DuckDB's default inlining re-expands
    # the whole prefix per reference (the old sf0.1 watchdog
    # timeout), and ``ue`` stops the events self-join from being
    # rebuilt at every level
    ctes = [
        "ue AS MATERIALIZED (SELECT src, dst FROM user_edges)",
        f"roots AS (SELECT src AS root FROM ue GROUP BY src"
        f" ORDER BY src LIMIT {n_roots})",
        "l0 AS (SELECT root, root AS id, 1e0 AS sigma FROM roots)",
        "v0 AS (SELECT root, id FROM l0)",
    ]
    for i in range(1, levels):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT f.root, f.id, f.sigma FROM (
    SELECT l.root, e.dst AS id, SUM(l.sigma) AS sigma
    FROM ue e JOIN l{i - 1} l ON e.src = l.id
    GROUP BY l.root, e.dst
  ) f LEFT JOIN v{i - 1} v ON v.root = f.root AND v.id = f.id
  WHERE v.id IS NULL)"""
        )
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT root, id FROM v{i - 1}"
            f" UNION ALL SELECT root, id FROM l{i})"
        )
    last = levels - 1
    ctes.append(f"d{last} AS (SELECT root, id, sigma, 0e0 AS delta FROM l{last})")
    for i in range(last - 1, -1, -1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT p.root, p.id, p.sigma, COALESCE(s.dep, 0e0) AS delta
  FROM l{i} p LEFT JOIN (
    SELECT p2.root, p2.id, SUM(p2.sigma / c.sigma * (1e0 + c.delta)) AS dep
    FROM l{i} p2
    JOIN ue e ON p2.id = e.src
    JOIN d{i + 1} c ON c.root = p2.root AND c.id = e.dst
    GROUP BY p2.root, p2.id
  ) s ON s.root = p.root AND s.id = p.id)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT root, id, delta FROM d{i}" for i in range(levels)
    )
    body = f"""
SELECT id, ROUND(SUM(delta), 6) AS bc FROM (
  {union}
) WHERE id <> root GROUP BY id
"""
    return oracles.with_user_edges(body, extra_ctes=",\n".join(ctes))


@register("betweenness_4roots", _brandes_oracle())
def q_betweenness_4roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate Brandes betweenness from the 4 smallest user ids
    (deterministic root choice shared with the SQL oracle).
    Reference ``static_betweenness_centrality.c:56-180``."""
    g = datasets.user_graph(spark, sf_dir)
    roots = [
        r.id
        for r in g.edges.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(_N_ROOTS)
        .collect()
    ]
    return betweenness(g.edges, roots, max_depth=_LEVELS - 1)


_SSSP_ROUNDS = 6
_SSSP_SOURCE = 0


def _sssp_weighted_oracle(rounds: int = _SSSP_ROUNDS, source: int = _SSSP_SOURCE) -> str:
    """Bellman-Ford unrolled to a fixed round count in plain SQL —
    identical partial fixpoint to the engine's bounded-round loop."""
    ctes = [
        f"d0(id, dist) AS (SELECT CAST({source} AS BIGINT) AS id,"
        " CAST(0 AS BIGINT) AS dist)"
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS (
  SELECT id, MIN(dist) AS dist FROM (
    SELECT id, dist FROM d{i - 1}
    UNION ALL
    SELECT e.dst AS id, d.dist + e.wgt AS dist
    FROM user_edges e JOIN d{i - 1} d ON e.src = d.id
  ) GROUP BY id)"""
        )
    return oracles.with_user_edges(
        f"SELECT id, dist FROM d{rounds}", extra_ctes=",\n".join(ctes)
    )


@register("sssp_weighted_6round", _sssp_weighted_oracle())
def q_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths from user 0 over the co-participation
    graph, 6 Bellman-Ford rounds (weight = edge length; extends the
    reference's unweighted BFS kernel)."""
    g = datasets.user_graph(spark, sf_dir)
    return sssp_weighted(g.edges, _SSSP_SOURCE, rounds=_SSSP_ROUNDS)


_EMBED_ORACLE = oracles.with_user_edges(
    body="""
SELECT h.src, h.dst, COALESCE(cn.common_neighbors, 0) AS common_neighbors,
       ROUND(COALESCE(cn.common_neighbors, 0)
             / (1e0 * (da.deg + db.deg - COALESCE(cn.common_neighbors, 0))), 6)
         AS jaccard
FROM half h
LEFT JOIN cn ON cn.src = h.src AND cn.dst = h.dst
JOIN deg da ON da.id = h.src
JOIN deg db ON db.id = h.dst
""",
    extra_ctes="""
half AS (SELECT src, dst FROM user_edges WHERE src < dst),
deg AS (SELECT src AS id, COUNT(*) AS deg FROM user_edges GROUP BY 1),
cn AS (
  SELECT a.src AS src, b.src AS dst, CAST(COUNT(*) AS BIGINT) AS common_neighbors
  FROM user_edges a JOIN user_edges b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
)
""",
)


@register("edge_embeddedness", _EMBED_ORACLE)
def q_edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge common-neighbor count + neighborhood Jaccard on the
    user graph — link-strength features via the degree-oriented
    triangle enumeration (the oracle uses the naive common-neighbor
    self-join, an independent formulation).  Jaccard uses the
    inclusive-endpoint convention ``common/(deg_u+deg_v-common)`` on
    both sides — see :func:`operators.triangles.edge_embeddedness`."""
    g = datasets.user_graph(spark, sf_dir)
    return edge_embeddedness(g.edges)


# ---------------------------------------------------------------------------
# core numbers — the h-index iteration, unrolled in SQL
# ---------------------------------------------------------------------------


def _core_numbers_oracle(rounds: int) -> str:
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and a
    # ~28-deep nested window/join chain blows up its optimizer (>300s);
    # materialized rounds run the chain linearly (0.2s for 28 rounds)
    ctes = [
        "c0 AS MATERIALIZED ("
        "SELECT src AS id, COUNT(*) AS core FROM user_edges GROUP BY src)"
    ]
    for i in range(1, rounds + 1):
        # h-index of the neighbor multiset: sort desc, count positions
        # with value >= position (tie order irrelevant to the count)
        ctes.append(
            f"""c{i} AS MATERIALIZED (
  SELECT id, COUNT(*) FILTER (WHERE c >= rn) AS core FROM (
    SELECT e.src AS id, p.core AS c,
           ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY p.core DESC) AS rn
    FROM user_edges e JOIN c{i - 1} p ON e.dst = p.id
  ) GROUP BY id)"""
        )
    return oracles.with_user_edges(
        body=f"SELECT id, CAST(core AS INT) AS core FROM c{rounds}",
        extra_ctes=",\n".join(ctes),
    )


_COMMUNITY_LEVELS = 6


def _community_oracle(levels: int = _COMMUNITY_LEVELS) -> str:
    """The full agglomeration unrolled in SQL — one CTE block per
    level: score → positive-gain filter → per-vertex argmax →
    mutual-best match → relabel → contract.

    Hash-matching works because every floating-point input is an exact
    integer (wgt sums), the score expression is written with the exact
    same operator shape/order as the engine
    (``operators/community.py:_score_edges``), and the argmax
    tie-break (score DESC, dst ASC) mirrors the engine's
    ``max_by(dst, (score, -dst))`` — so the two engines make
    bit-identical merge decisions every level.  A level with no
    mutual match leaves the relabel CTE empty, which makes every
    later level a no-op — the unrolled form subsumes the engine's
    early exit.  ``AS MATERIALIZED`` for the same reason as the
    core-number oracle: DuckDB inlines plain CTEs and a 6-deep
    window/join chain explodes its optimizer.
    """
    ctes = [
        "e0 AS MATERIALIZED (SELECT src, dst, wgt FROM user_edges)",
        "map0 AS MATERIALIZED ("
        "SELECT DISTINCT src AS id, src AS community FROM user_edges)",
    ]
    for i in range(1, levels + 1):
        p = i - 1
        ctes.append(
            f"vol{i} AS MATERIALIZED (SELECT SUM(wgt) AS v FROM e{p})"
        )
        ctes.append(
            f"""scored{i} AS MATERIALIZED (
  SELECT e.src, e.dst,
         CAST(e.wgt AS DOUBLE) / ((SELECT v FROM vol{i}) / 2e0)
           - 2e0 * wa.wd * wb.wd
             / (CAST((SELECT v FROM vol{i}) AS DOUBLE)
                * CAST((SELECT v FROM vol{i}) AS DOUBLE)) AS score
  FROM e{p} e
  JOIN (SELECT src AS id, SUM(wgt) AS wd FROM e{p} GROUP BY src) wa
    ON wa.id = e.src
  JOIN (SELECT src AS id, SUM(wgt) AS wd FROM e{p} GROUP BY src) wb
    ON wb.id = e.dst
  WHERE e.src <> e.dst)"""
        )
        ctes.append(
            f"""best{i} AS MATERIALIZED (
  SELECT src, dst AS best FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src
                              ORDER BY score DESC, dst ASC) AS rn
    FROM scored{i} WHERE score > 0e0) WHERE rn = 1)"""
        )
        ctes.append(
            f"""relabel{i} AS MATERIALIZED (
  SELECT a.best AS id, a.src AS new_id
  FROM best{i} a JOIN best{i} b ON a.best = b.src AND b.best = a.src
  WHERE a.src < a.best)"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
  SELECT COALESCE(rs.new_id, e.src) AS src,
         COALESCE(rd.new_id, e.dst) AS dst, SUM(e.wgt) AS wgt
  FROM e{p} e
  LEFT JOIN relabel{i} rs ON rs.id = e.src
  LEFT JOIN relabel{i} rd ON rd.id = e.dst
  GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""map{i} AS MATERIALIZED (
  SELECT m.id, COALESCE(r.new_id, m.community) AS community
  FROM map{p} m LEFT JOIN relabel{i} r ON r.id = m.community)"""
        )
    return oracles.with_user_edges(
        body=f"SELECT id, community FROM map{levels}",
        extra_ctes=",\n".join(ctes),
    )


@register("community_agglomeration", _community_oracle())
def q_community_agglomeration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multicontract community detection on the user graph
    (reference ``static_multicontract_clustering.c:52-130``).

    The registered variant disables the mean-score candidate filter
    (``min_score_filter=False``): the mean is an FP sum whose
    summation order differs across engines, so near-tie candidate
    classification would not be bit-stable — positive-gain
    mutual-best matching alone is fully deterministic and lets the
    driver hash-check the whole fixpoint against the unrolled SQL
    oracle.  The mean-filter path (the reference's ``:100-130``
    threshold) is covered by pytest (``test_advanced_analytics.py``).
    """
    g = datasets.user_graph(spark, sf_dir)
    return community_agglomeration(
        g.edges, max_levels=_COMMUNITY_LEVELS, min_score_filter=False
    )


_CORE_FIXPOINT_ROUNDS = 28  # measured h-index fixpoint depth: 3 @ sf0.001,
# 9 @ sf0.01, 25 @ sf0.1 — 28 unrolled oracle rounds cover every
# driver-checked scale with margin; past the fixpoint extra rounds are
# no-ops, so oracle == engine's adaptive convergence exactly.


@register("core_numbers", _core_numbers_oracle(_CORE_FIXPOINT_ROUNDS))
def q_core_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full k-core decomposition (max core number per vertex) on the
    user graph.  The engine iterates the neighborhood h-index to its
    fixpoint (= core number, Lü et al. 2016); the oracle unrolls the
    identical iteration ``_CORE_FIXPOINT_ROUNDS`` times — beyond the
    measured fixpoint depth of every driver-checked scale factor — so
    both sides emit the exact decomposition.  Reference
    ``static_kcore.c:12-57`` (max-k label per vertex)."""
    g = datasets.user_graph(spark, sf_dir)
    return core_numbers(g.edges)


# ---------------------------------------------------------------------------
# weighted PageRank — rank distributed proportionally to edge weight
# ---------------------------------------------------------------------------


def _wpr_oracle(iters: int = 5) -> str:
    ctes = [
        "deg AS (SELECT src AS id, CAST(SUM(wgt) AS DOUBLE) AS wdeg"
        " FROM edges GROUP BY src)",
        "nv AS (SELECT COUNT(*) AS n FROM deg)",
        "pr0 AS (SELECT id, wdeg, 1e0 / (SELECT n FROM nv) AS pr FROM deg)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""pr{i} AS (
  SELECT d.id, d.wdeg,
         0.15e0 / (SELECT n FROM nv) + 0.85e0 * COALESCE(m.mass, 0e0) AS pr
  FROM deg d LEFT JOIN (
    SELECT e.src AS id, SUM((p.pr / p.wdeg) * e.wgt) AS mass
    FROM edges e JOIN pr{i - 1} p ON e.dst = p.id GROUP BY e.src
  ) m ON d.id = m.id)"""
        )
    return oracles.with_edges(
        body=f"SELECT id, ROUND(pr, 6) AS pr FROM pr{iters}",
        extra_ctes=",\n".join(ctes),
    )


@register("weighted_pagerank_5iter", _wpr_oracle(5))
def q_weighted_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 rounds of weight-proportional PageRank on the part–supplier
    graph (weight = co-occurrence multiplicity, the semantics the
    reference's NetworkX/SciPy backends apply via the weighted
    adjacency matrix, ``tests/networkx/test_scipy.py:69``)."""
    from .operators.pagerank import weighted_pagerank

    g = datasets.part_supplier_graph(spark, sf_dir).canonical()
    pr = weighted_pagerank(g.edges, num_iter=5)
    g.unpersist()
    return pr.select("id", F.round("pr", 6).alias("pr"))


@register("core_numbers_8round", _core_numbers_oracle(8))
def q_core_numbers_8round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 bounded h-index rounds of the core-number iteration (monotone
    non-increasing from the degree init, so early fixpoint convergence
    on either side yields the identical value) — the oracle-checked
    twin of the rows-only fixpoint `core_numbers` query."""
    g = datasets.user_graph(spark, sf_dir)
    return core_numbers(g.edges, max_rounds=8)


# ---------------------------------------------------------------------------
# Adamic–Adar link prediction (non-adjacent pairs, integer-micro scores)
# ---------------------------------------------------------------------------

_AA_ORACLE = oracles.with_user_edges(
    body="""
SELECT u, v, common_neighbors, aa_score_micro
FROM scored
WHERE NOT EXISTS (SELECT 1 FROM nbrs e WHERE e.src = scored.u AND e.dst = scored.v)
  AND common_neighbors >= 2
""",
    extra_ctes="""
nbrs AS (SELECT DISTINCT src, dst FROM user_edges),
deg AS (SELECT src AS w, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1),
terms AS (
  SELECT w, deg, CAST(ROUND(1000000.0 / ln(deg)) AS BIGINT) AS term
  FROM deg WHERE deg >= 2
),
wedges AS (
  SELECT a.dst AS u, b.dst AS v, a.src AS w
  FROM nbrs a JOIN nbrs b ON a.src = b.src AND a.dst < b.dst
),
scored AS (
  SELECT u, v, CAST(COUNT(*) AS BIGINT) AS common_neighbors,
         CAST(SUM(t.term) AS BIGINT) AS aa_score_micro
  FROM wedges JOIN terms t ON t.w = wedges.w
  GROUP BY u, v
)""",
)


@register("adamic_adar_linkpred", _AA_ORACLE)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar scores for non-adjacent user pairs sharing ≥2
    common neighbors — the similarity-based link predictor, scored in
    order-independent integer micros (`operators/linkpred.py`)."""
    from .operators.linkpred import adamic_adar

    g = datasets.user_graph(spark, sf_dir)
    return adamic_adar(g.edges).filter(F.col("common_neighbors") >= 2)


# ---------------------------------------------------------------------------
# degree assortativity (Pearson correlation of endpoint degrees)
# ---------------------------------------------------------------------------

_ASSORT_ORACLE = oracles.with_user_edges(
    body="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       ROUND(corr(ds.deg, dd.deg), 6) AS assortativity
FROM nbrs e JOIN deg ds ON ds.id = e.src JOIN deg dd ON dd.id = e.dst
""",
    extra_ctes="""
nbrs AS (SELECT DISTINCT src, dst FROM user_edges),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1)""",
)


@register("degree_assortativity", _ASSORT_ORACLE)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the user graph: Pearson correlation of
    (deg(src), deg(dst)) over the symmetric distinct edge list —
    Newman 2002's mixing coefficient, one aggregate, no iteration."""
    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct()
    deg = nbrs.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    return (
        nbrs.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg"), "dst")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.round(F.corr("sdeg", "ddeg"), 6).alias("assortativity"),
        )
    )


# ---------------------------------------------------------------------------
# label propagation (3 synchronous rounds, deterministic tie-break)
# ---------------------------------------------------------------------------


def _lpa_ctes(rounds: int = 3) -> str:
    ctes = ["nbrs AS (SELECT DISTINCT src, dst FROM user_edges)",
            "l0 AS (SELECT DISTINCT src AS id, src AS label FROM nbrs)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""l{r} AS (
  SELECT id, label FROM (
    SELECT e.dst AS id, l.label, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY e.dst
                              ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM nbrs e JOIN l{r - 1} l ON l.id = e.src
    GROUP BY e.dst, l.label
  ) WHERE rn = 1)"""
        )
    return ",\n".join(ctes)


def _lpa_oracle(rounds: int = 3) -> str:
    return oracles.with_user_edges(
        body=f"SELECT id, label FROM l{rounds}",
        extra_ctes=_lpa_ctes(rounds),
    )


@register("label_propagation_3round", _lpa_oracle(3))
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3 synchronous LPA rounds on the user graph (most frequent
    neighbor label, ties to the smallest label — the deterministic
    distributed schedule, `operators/labelprop.py`)."""
    from .operators.labelprop import label_propagation

    g = datasets.user_graph(spark, sf_dir)
    return label_propagation(g.edges, rounds=3)


# ---------------------------------------------------------------------------
# closeness / harmonic centrality from sampled roots
# ---------------------------------------------------------------------------


def _closeness_oracle(n_roots: int = _N_ROOTS, levels: int = _LEVELS) -> str:
    """Multi-root BFS unrolled to ``levels`` (valid while every root's
    eccentricity < levels, same bound as the Brandes oracle); the
    harmonic sum is quantized to integer micros per term so the
    aggregate is order-independent."""
    ctes = [
        f"roots AS (SELECT src AS root FROM user_edges GROUP BY src"
        f" ORDER BY src LIMIT {n_roots})",
        "l0 AS (SELECT root, root AS id FROM roots)",
        "v0 AS (SELECT root, id FROM l0)",
    ]
    for i in range(1, levels):
        ctes.append(
            f"""l{i} AS (
  SELECT f.root, f.id FROM (
    SELECT DISTINCT l.root, e.dst AS id
    FROM user_edges e JOIN l{i - 1} l ON e.src = l.id
  ) f LEFT JOIN v{i - 1} v ON v.root = f.root AND v.id = f.id
  WHERE v.id IS NULL)"""
        )
        ctes.append(
            f"v{i} AS (SELECT root, id FROM v{i - 1}"
            f" UNION ALL SELECT root, id FROM l{i})"
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT root, id, {i} AS dist FROM l{i}" for i in range(1, levels)
    )
    body = f"""
SELECT root, CAST(COUNT(*) AS BIGINT) AS n_reached,
       CAST(SUM(dist) AS BIGINT) AS total_dist,
       ROUND(COUNT(*) / CAST(SUM(dist) AS DOUBLE), 6) AS closeness,
       CAST(SUM(CAST(ROUND(1000000.0 / dist) AS BIGINT)) AS BIGINT)
         AS harmonic_micros
FROM (
  {union}
) GROUP BY root
"""
    return oracles.with_user_edges(body, extra_ctes=",\n".join(ctes))


@register("closeness_4roots", _closeness_oracle())
def q_closeness_4roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closeness + harmonic centrality of the 4 smallest-id
    roots (sampled-source centrality, the standard scale approach):
    one multi-root BFS, then one aggregate per root.  Harmonic terms
    are integer micros — order-independent across partitions."""
    from .operators.bfs import multi_source_bfs

    g = datasets.user_graph(spark, sf_dir)
    roots = [
        r.id
        for r in g.edges.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(_N_ROOTS)
        .collect()
    ]
    dist = multi_source_bfs(g.edges, roots, max_depth=_LEVELS - 1)
    return (
        dist.filter(F.col("dist") > 0)
        .groupBy("root")
        .agg(
            F.count("*").cast("long").alias("n_reached"),
            F.sum("dist").cast("long").alias("total_dist"),
            F.round(F.count("*") / F.sum("dist").cast("double"), 6).alias(
                "closeness"
            ),
            F.sum(
                F.round(F.lit(1000000.0) / F.col("dist")).cast("long")
            ).cast("long").alias("harmonic_micros"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic graph sampling: random walks + negative edge samples
# ---------------------------------------------------------------------------

_WALK_LEN = 3
_WALK_EVERY = 7


def _walks_oracle(length: int = _WALK_LEN, every: int = _WALK_EVERY) -> str:
    ctes = [
        "nbrs AS (SELECT DISTINCT src, dst FROM user_edges)",
        """adj AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS deg
  FROM nbrs)""",
        "degs AS (SELECT DISTINCT src, deg FROM adj)",
        f"""w0 AS (SELECT src AS walk_id, CAST(0 AS BIGINT) AS step,
                src AS vertex FROM degs WHERE src % {every} = 0)""",
    ]
    for s in range(1, length + 1):
        ctes.append(
            f"""w{s} AS (
  SELECT c.walk_id, CAST({s} AS BIGINT) AS step, a.dst AS vertex
  FROM w{s - 1} c
  JOIN degs d ON d.src = c.vertex
  JOIN adj a ON a.src = c.vertex
   AND a.idx = ('0x' || substr(md5('walk-v1|' || c.walk_id || '|{s}'), 1, 8))::BIGINT
               % d.deg)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT walk_id, step, vertex FROM w{s}" for s in range(length + 1)
    )
    return oracles.with_user_edges(
        body=f"SELECT walk_id, step, vertex FROM (\n  {union}\n)",
        extra_ctes=",\n".join(ctes),
    )


@register("random_walks", _walks_oracle())
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform random walks (DeepWalk input shape) from
    every 7th user id: 3 steps, next hop = portable hash of
    (walk, step) mod degree over the dst-ordered indexed adjacency
    (`operators/sampling.py`)."""
    from .operators.sampling import random_walks

    g = datasets.user_graph(spark, sf_dir)
    out = random_walks(g.edges, walk_length=_WALK_LEN, start_every=_WALK_EVERY)
    return out.select(
        "walk_id", F.col("step").cast("long").alias("step"), "vertex"
    )


_NEG_K = 3

_NEG_ORACLE = oracles.with_user_edges(
    body="""
SELECT v.src, v.candidate, v.sample_no FROM valid v
WHERE NOT EXISTS (SELECT 1 FROM nbrs e
                  WHERE e.src = v.src AND e.dst = v.candidate)
""",
    extra_ctes="""
nbrs AS (SELECT DISTINCT src, dst FROM user_edges),
mx AS (SELECT MAX(src) + 1 AS m FROM nbrs),
cands AS (
  SELECT c.src,
         ('0x' || substr(md5('neg-v1|' || c.src || '|' || c.dst || '|' || i),
                         1, 8))::BIGINT % (SELECT m FROM mx) AS candidate,
         CAST(i AS BIGINT) AS sample_no
  FROM (SELECT src, dst FROM nbrs WHERE src < dst) c,
       UNNEST(generate_series(0, 2)) AS t(i)
),
valid AS (
  SELECT DISTINCT c.src, c.candidate, c.sample_no
  FROM cands c
  JOIN (SELECT DISTINCT src AS candidate FROM nbrs) v USING (candidate)
  WHERE c.src <> c.candidate
)""",
)


@register("negative_samples", _NEG_ORACLE)
def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Up to 3 deterministic negative (non-edge) candidates per
    canonical user edge — hash-corrupted destinations, validity
    semi-join, true-edge anti-join (`operators/sampling.py`)."""
    from .operators.sampling import negative_samples

    g = datasets.user_graph(spark, sf_dir)
    out = negative_samples(g.edges, k=_NEG_K)
    return out.select(
        "src", "candidate", F.col("sample_no").cast("long").alias("sample_no")
    )


# ---------------------------------------------------------------------------
# partition quality: edge cut of the LPA communities
# ---------------------------------------------------------------------------

_CUT_ORACLE = oracles.with_user_edges(
    body="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(CASE WHEN la.label <> lb.label THEN 1 ELSE 0 END) AS BIGINT)
         AS cut_edges,
       CAST(SUM(CASE WHEN la.label = lb.label THEN 1 ELSE 0 END) AS BIGINT)
         AS internal_edges
FROM (SELECT src, dst FROM nbrs WHERE src < dst) e
JOIN l3 la ON la.id = e.src
JOIN l3 lb ON lb.id = e.dst
""",
    extra_ctes=_lpa_ctes(3),
)


@register("partition_quality", _CUT_ORACLE)
def q_partition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-cut quality of the 3-round LPA partition: canonical edges
    whose endpoints landed in different communities vs internal edges
    — the metric a partitioner/placement layer optimizes (fewer cut
    edges = less cross-shard traffic at 100 TB)."""
    from .operators.labelprop import label_propagation

    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct()
    labels = label_propagation(g.edges, rounds=3)
    canon = nbrs.filter(F.col("src") < F.col("dst"))
    la = labels.withColumnRenamed("id", "src").withColumnRenamed("label", "la")
    lb = labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "lb")
    return (
        canon.join(la, "src")
        .join(lb, "dst")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum(F.when(F.col("la") != F.col("lb"), 1).otherwise(0))
            .cast("long")
            .alias("cut_edges"),
            F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
            .cast("long")
            .alias("internal_edges"),
        )
    )


# ---------------------------------------------------------------------------
# k-truss (bounded-round peeling, unrolled oracle)
# ---------------------------------------------------------------------------

_TRUSS_K = 4
_TRUSS_ROUNDS = 4


def _ktruss_oracle(k: int = _TRUSS_K, rounds: int = _TRUSS_ROUNDS) -> str:
    ctes = [
        "e0 AS MATERIALIZED (SELECT src, dst FROM user_edges WHERE src < dst)"
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""a{p} AS MATERIALIZED (
  SELECT src, dst FROM e{p} UNION ALL SELECT dst AS src, src AS dst FROM e{p})"""
        )
        ctes.append(
            f"""e{r} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{p} e
  LEFT JOIN (
    SELECT x.src AS u, y.src AS v, COUNT(*) AS sup
    FROM a{p} x JOIN a{p} y ON x.dst = y.dst AND x.src < y.src
    GROUP BY x.src, y.src
  ) s ON s.u = e.src AND s.v = e.dst
  WHERE COALESCE(s.sup, 0) >= {k - 2})"""
        )
    return oracles.with_user_edges(
        body=f"SELECT src, dst FROM e{rounds}", extra_ctes=",\n".join(ctes)
    )


@register("ktruss_4round", _ktruss_oracle())
def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the user graph after 4 bounded peeling rounds (each
    edge must close ≥2 triangles; support recomputed per round via the
    degree-oriented enumeration — `operators/ktruss.py`).  Early
    convergence on either side yields the identical edge set, the
    `core_numbers_8round` bounded-round pattern."""
    from .operators.ktruss import ktruss

    g = datasets.user_graph(spark, sf_dir)
    return ktruss(g.edges, k=_TRUSS_K, max_rounds=_TRUSS_ROUNDS)


# ---------------------------------------------------------------------------
# shard conductance (cut / volume of the hash placement, per shard)
# ---------------------------------------------------------------------------

_N_SHARDS = 8

_COND_ORACLE = oracles.with_user_edges(
    body=f"""
SELECT shard,
       CAST(vol AS BIGINT) AS volume,
       CAST(cut AS BIGINT) AS cut_edges,
       ROUND(cut / CAST(vol AS DOUBLE), 6) AS conductance
FROM (
  SELECT e.src % {_N_SHARDS} AS shard,
         COUNT(*) AS vol,
         SUM(CASE WHEN e.src % {_N_SHARDS} <> e.dst % {_N_SHARDS}
             THEN 1 ELSE 0 END) AS cut
  FROM nbrs e
  GROUP BY 1
)
""",
    extra_ctes="nbrs AS (SELECT DISTINCT src, dst FROM user_edges)",
)


@register("shard_conductance", _COND_ORACLE)
def q_shard_conductance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conductance of the default hash placement (``id % 8`` shards):
    per shard, directed-edge volume and cross-shard boundary count —
    the cross-executor traffic a co-partitioned layout must beat.
    Compare against `partition_quality` (the LPA cut) to quantify what
    community-aware placement would save."""
    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct()
    shard = F.pmod(F.col("src"), F.lit(_N_SHARDS))
    return (
        nbrs.groupBy(shard.alias("shard"))
        .agg(
            F.count("*").cast("long").alias("volume"),
            F.sum(
                F.when(
                    F.pmod(F.col("src"), F.lit(_N_SHARDS))
                    != F.pmod(F.col("dst"), F.lit(_N_SHARDS)),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("cut_edges"),
        )
        .select(
            "shard",
            "volume",
            "cut_edges",
            F.round(F.col("cut_edges") / F.col("volume").cast("double"), 6).alias(
                "conductance"
            ),
        )
    )


# ---------------------------------------------------------------------------
# temporal graph growth: new vs cumulative co-participation edges per day
# ---------------------------------------------------------------------------

_GROWTH_ORACLE = """
WITH pair_first AS (
  SELECT a.user_id AS src, b.user_id AS dst,
         MIN(date_trunc('day', a.ts)) AS first_day
  FROM events a JOIN events b
    ON a.event_type = b.event_type
   AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)
   AND a.user_id < b.user_id
  GROUP BY 1, 2
),
daily AS (
  SELECT epoch_us(first_day) AS day_us, CAST(COUNT(*) AS BIGINT) AS new_edges
  FROM pair_first GROUP BY 1
)
SELECT day_us, new_edges,
       CAST(SUM(new_edges) OVER (ORDER BY day_us
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_edges
FROM daily
"""


@register("graph_growth_daily", _GROWTH_ORACLE)
def q_graph_growth_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal graph evolution: per day, how many co-participation
    edges appear for the first time, plus the running total — the
    M6 time_first metadata viewed as a growth curve (first-seen
    aggregate + one ordered-window prefix sum)."""
    from pyspark.sql import Window

    ev = datasets.load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        F.date_trunc("day", F.col("ts")).alias("day"),
    )
    a, b = ev.alias("a"), ev.alias("b")
    pair_first = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.user_id") < F.col("b.user_id")),
        )
        .groupBy(
            F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst")
        )
        .agg(F.min(F.col("a.day")).alias("first_day"))
    )
    daily = pair_first.groupBy(
        F.unix_micros("first_day").alias("day_us")
    ).agg(F.count("*").cast("long").alias("new_edges"))
    w = Window.orderBy("day_us").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "day_us",
        "new_edges",
        F.sum("new_edges").over(w).cast("long").alias("cumulative_edges"),
    )


# ---------------------------------------------------------------------------
# skip-gram pairs over the deterministic walks (DeepWalk training data)
# ---------------------------------------------------------------------------


def _skipgram_oracle(window: int = 2) -> str:
    # reuse the unrolled walk CTEs, then a bounded self-join; pairs
    # aggregated (center, context, dist) -> n occurrences so the
    # result is a deterministic multiset summary
    walk_ctes = _walks_oracle()  # full query text
    # extract the CTE section between WITH and the final SELECT
    body = f"""
SELECT a.vertex AS center, b.vertex AS context,
       CAST(ABS(a.step - b.step) AS BIGINT) AS dist,
       CAST(COUNT(*) AS BIGINT) AS n
FROM allsteps a JOIN allsteps b
  ON a.walk_id = b.walk_id AND a.step <> b.step
 AND ABS(a.step - b.step) <= {window}
GROUP BY 1, 2, 3
"""
    union = "\n  UNION ALL\n  ".join(
        f"SELECT walk_id, step, vertex FROM w{s}" for s in range(_WALK_LEN + 1)
    )
    # rebuild the walk CTE list exactly as _walks_oracle does
    prefix = walk_ctes[: walk_ctes.rindex("SELECT walk_id, step, vertex FROM (")]
    # append the allsteps CTE
    prefix = prefix.rstrip()
    assert prefix.endswith(")"), prefix[-40:]
    return (
        prefix
        + f",\nallsteps AS (\n  {union}\n)\n"
        + body
    )


@register("skipgram_pairs", _skipgram_oracle())
def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) multiset within a ±2 window over
    the deterministic random walks — the DeepWalk training-pair
    generation step (`operators/sampling.py`)."""
    from .operators.sampling import random_walks, skipgram_pairs

    g = datasets.user_graph(spark, sf_dir)
    walks = random_walks(g.edges, walk_length=_WALK_LEN, start_every=_WALK_EVERY)
    return (
        skipgram_pairs(walks, window=2)
        .groupBy("center", "context", "dist")
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---------------------------------------------------------------------------
# weighted random walks (integer inverse-CDF over edge weights)
# ---------------------------------------------------------------------------


def _wwalks_oracle(length: int = _WALK_LEN, every: int = _WALK_EVERY) -> str:
    ctes = [
        """wadj AS (
  SELECT src, dst, wgt,
         SUM(wgt) OVER (PARTITION BY src ORDER BY dst
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(wgt) OVER (PARTITION BY src) AS total_w
  FROM (SELECT src, dst, MAX(wgt) AS wgt FROM user_edges GROUP BY src, dst))""",
        "wtot AS (SELECT DISTINCT src, total_w FROM wadj)",
        f"""x0 AS (SELECT src AS walk_id, CAST(0 AS BIGINT) AS step,
               src AS vertex FROM wtot WHERE src % {every} = 0)""",
    ]
    for s in range(1, length + 1):
        ctes.append(
            f"""x{s} AS (
  SELECT c.walk_id, CAST({s} AS BIGINT) AS step, a.dst AS vertex
  FROM x{s - 1} c
  JOIN wtot t ON t.src = c.vertex
  JOIN wadj a ON a.src = c.vertex
  WHERE ('0x' || substr(md5('wwalk-v1|' || c.walk_id || '|{s}'), 1, 8))::BIGINT
        % t.total_w >= a.cum - a.wgt
    AND ('0x' || substr(md5('wwalk-v1|' || c.walk_id || '|{s}'), 1, 8))::BIGINT
        % t.total_w < a.cum)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT walk_id, step, vertex FROM x{s}" for s in range(length + 1)
    )
    return oracles.with_user_edges(
        body=f"SELECT walk_id, step, vertex FROM (\n  {union}\n)",
        extra_ctes=",\n".join(ctes),
    )


@register("weighted_random_walks", _wwalks_oracle())
def q_weighted_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-biased deterministic walks on the user graph (edge
    weight = co-occurrence count): integer inverse-CDF draw per step
    (`operators/sampling.py`), exact on both engines."""
    from .operators.sampling import weighted_random_walks

    g = datasets.user_graph(spark, sf_dir)
    walks = weighted_random_walks(
        g.edges, walk_length=_WALK_LEN, start_every=_WALK_EVERY
    )
    return walks.select(
        "walk_id", F.col("step").cast("long").alias("step"), "vertex"
    )


# ---------------------------------------------------------------------------
# densest-subgraph peeling trace (Charikar / Bahmani greedy)
# ---------------------------------------------------------------------------

_DENSEST_ROUNDS = 6


def _densest_oracle(rounds: int = _DENSEST_ROUNDS) -> str:
    ctes = ["e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM user_edges)"]
    rows = []
    for r in range(rounds + 1):
        ctes.append(
            f"d{r} AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e{r} GROUP BY src)"
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (
  SELECT (SELECT COUNT(*) FROM d{r}) AS nv,
         (SELECT COUNT(*) FROM e{r}) AS ned)"""
        )
        rows.append(
            f"SELECT CAST({r} AS BIGINT) AS round, CAST(nv AS BIGINT) AS nv,"
            f" CAST(ned // 2 AS BIGINT) AS ne,"
            f" ROUND(CASE WHEN nv = 0 THEN 0.0"
            f" ELSE (ned // 2) / CAST(nv AS DOUBLE) END, 6) AS density"
            f" FROM m{r}"
        )
        if r < rounds:
            ctes.append(
                f"""e{r + 1} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{r} e
  JOIN d{r} a ON a.src = e.src
  JOIN d{r} b ON b.src = e.dst
  CROSS JOIN m{r} m
  WHERE a.deg * m.nv > m.ned AND b.deg * m.nv > m.ned)"""
            )
    union = "\n  UNION ALL\n  ".join(rows)
    return oracles.with_user_edges(
        body=f"SELECT round, nv, ne, density FROM (\n  {union}\n)",
        extra_ctes=",\n".join(ctes),
    )


@register("densest_subgraph_trace", _densest_oracle())
def q_densest_subgraph_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-round (nv, ne, density) trace of parallel Charikar peeling
    on the user graph — the round with max density certifies the
    greedy 2-approx densest subgraph (`operators/densest.py`).  All
    counts integer; one division at the end."""
    from .operators.densest import densest_subgraph_peeling

    g = datasets.user_graph(spark, sf_dir)
    return densest_subgraph_peeling(g.edges, rounds=_DENSEST_ROUNDS)


# ---------------------------------------------------------------------------
# node2vec second-order biased walks (integer p/q multipliers)
# ---------------------------------------------------------------------------


def _n2v_oracle(length: int = _WALK_LEN, every: int = _WALK_EVERY) -> str:
    h = "('0x' || substr(md5('n2v-v1|' || c.walk_id || '|{s}'), 1, 8))::BIGINT"
    ctes = [
        "nbrs AS (SELECT DISTINCT src, dst FROM user_edges)",
        """adj AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx,
         COUNT(*) OVER (PARTITION BY src) AS deg
  FROM nbrs)""",
        "degs AS (SELECT DISTINCT src, deg FROM adj)",
        f"""n0 AS (SELECT src AS walk_id, CAST(0 AS BIGINT) AS step,
               CAST(NULL AS BIGINT) AS prev, src AS vertex
        FROM degs WHERE src % {every} = 0)""",
        f"""n1 AS (
  SELECT c.walk_id, CAST(1 AS BIGINT) AS step, c.vertex AS prev,
         a.dst AS vertex
  FROM n0 c
  JOIN degs d ON d.src = c.vertex
  JOIN adj a ON a.src = c.vertex
   AND a.idx = {h.format(s=1)} % d.deg)""",
    ]
    for s in range(2, length + 1):
        ctes.append(
            f"""x{s} AS (
  SELECT walk_id, prev, vertex, cand, mult,
         SUM(mult) OVER (PARTITION BY walk_id ORDER BY cand
                         ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(mult) OVER (PARTITION BY walk_id) AS total
  FROM (
    SELECT c.walk_id, c.prev, c.vertex, nb.dst AS cand,
           CASE WHEN nb.dst = c.prev THEN 1
                WHEN t.src IS NOT NULL THEN 4
                ELSE 2 END AS mult
    FROM n{s - 1} c
    JOIN nbrs nb ON nb.src = c.vertex
    LEFT JOIN nbrs t ON t.src = c.prev AND t.dst = nb.dst
  ))"""
        )
        ctes.append(
            f"""n{s} AS (
  SELECT c.walk_id, CAST({s} AS BIGINT) AS step, c.vertex AS prev,
         c.cand AS vertex
  FROM x{s} c
  WHERE {h.format(s=s)} % c.total >= c.cum - c.mult
    AND {h.format(s=s)} % c.total < c.cum)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT walk_id, step, vertex FROM n{s}" for s in range(length + 1)
    )
    return oracles.with_user_edges(
        body=f"SELECT walk_id, step, vertex FROM (\n  {union}\n)",
        extra_ctes=",\n".join(ctes),
    )


@register("node2vec_walks", _n2v_oracle())
def q_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic node2vec walks (p=4, q=2 as integer multipliers
    1/4/2 for return/triangle/outward candidates): per-step integer
    CDF over the walker's candidate set, portable-hash draw
    (`operators/sampling.py`)."""
    from .operators.sampling import node2vec_walks

    g = datasets.user_graph(spark, sf_dir)
    walks = node2vec_walks(
        g.edges, walk_length=_WALK_LEN, start_every=_WALK_EVERY
    )
    return walks.select(
        "walk_id", F.col("step").cast("long").alias("step"), "vertex"
    )


# ---------------------------------------------------------------------------
# average neighbor degree per degree class (the k_nn(k) curve)
# ---------------------------------------------------------------------------

_KNN_ORACLE = oracles.with_user_edges(
    body="""
SELECT d.deg AS degree,
       CAST(COUNT(DISTINCT e.src) AS BIGINT) AS n_vertices,
       CAST(SUM(dn.deg) AS BIGINT) AS sum_neighbor_deg,
       ROUND(SUM(dn.deg) / CAST(COUNT(*) AS DOUBLE), 6) AS avg_neighbor_deg
FROM nbrs e
JOIN deg d ON d.id = e.src
JOIN deg dn ON dn.id = e.dst
GROUP BY d.deg
""",
    extra_ctes="""
nbrs AS (SELECT DISTINCT src, dst FROM user_edges),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1)""",
)


@register("avg_neighbor_degree", _KNN_ORACLE)
def q_avg_neighbor_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k_nn(k): mean neighbor degree per degree class — the standard
    degree-correlation curve (rising = assortative).  Two joins of the
    degree table against the edge list, one grouped aggregate; integer
    sums with a single final division."""
    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct()
    deg = nbrs.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    return (
        nbrs.join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "sdeg"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "ddeg"), "dst")
        .groupBy(F.col("sdeg").alias("degree"))
        .agg(
            F.countDistinct("src").cast("long").alias("n_vertices"),
            F.sum("ddeg").cast("long").alias("sum_neighbor_deg"),
            F.round(F.sum("ddeg") / F.count("*").cast("double"), 6).alias(
                "avg_neighbor_deg"
            ),
        )
    )


# ---------------------------------------------------------------------------
# rich-club coefficient curve
# ---------------------------------------------------------------------------

_RICHCLUB_ORACLE = oracles.with_user_edges(
    body="""
SELECT k,
       CAST(nk AS BIGINT) AS n_rich,
       CAST(ek AS BIGINT) AS rich_edges,
       ROUND(CASE WHEN nk < 2 THEN 0.0
             ELSE 2.0 * ek / (nk * (nk - 1e0)) END, 6) AS phi
FROM (
  SELECT t.k,
         (SELECT COUNT(*) FROM deg d WHERE d.deg > t.k) AS nk,
         (SELECT COUNT(*) FROM nbrs e
          JOIN deg da ON da.id = e.src JOIN deg db ON db.id = e.dst
          WHERE e.src < e.dst AND da.deg > t.k AND db.deg > t.k) AS ek
  FROM (SELECT UNNEST(generate_series(1, 40, 4)) AS k) t
)
""",
    extra_ctes="""
nbrs AS (SELECT DISTINCT src, dst FROM user_edges),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1)""",
)


@register("rich_club", _RICHCLUB_ORACLE)
def q_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club curve φ(k): among vertices of degree > k, the
    fraction of possible edges present, for k = 1,5,…,37 — do hubs
    preferentially interconnect?  One degree table joined to the
    canonical edges, cross-joined against the tiny k grid (10 rows
    broadcast), two conditional aggregates."""
    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct().localCheckpoint()
    deg = nbrs.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    ).localCheckpoint()
    ks = g.edges.sparkSession.createDataFrame(
        [(k,) for k in range(1, 41, 4)], "k long"
    )
    nk = deg.crossJoin(F.broadcast(ks)).filter(F.col("deg") > F.col("k")).groupBy(
        "k"
    ).agg(F.count("*").cast("long").alias("n_rich"))
    canon = (
        nbrs.filter(F.col("src") < F.col("dst"))
        .join(deg.withColumnRenamed("id", "src").withColumnRenamed("deg", "da"), "src")
        .join(deg.withColumnRenamed("id", "dst").withColumnRenamed("deg", "db"), "dst")
    )
    ek = (
        canon.crossJoin(F.broadcast(ks))
        .filter((F.col("da") > F.col("k")) & (F.col("db") > F.col("k")))
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("rich_edges"))
    )
    return (
        ks.join(nk, "k", "left")
        .join(ek, "k", "left")
        .select(
            "k",
            F.coalesce("n_rich", F.lit(0)).alias("n_rich"),
            F.coalesce("rich_edges", F.lit(0)).alias("rich_edges"),
            F.round(
                F.when(F.coalesce("n_rich", F.lit(0)) < 2, 0.0).otherwise(
                    2.0
                    * F.coalesce("rich_edges", F.lit(0))
                    / (F.col("n_rich") * (F.col("n_rich") - 1.0))
                ),
                6,
            ).alias("phi"),
        )
    )


# ---------------------------------------------------------------------------
# graph contraction: shard-level super-graph (coarsening step)
# ---------------------------------------------------------------------------

_CONTRACT_ORACLE = oracles.with_user_edges(
    body=f"""
SELECT LEAST(e.src % {_N_SHARDS}, e.dst % {_N_SHARDS}) AS src_part,
       GREATEST(e.src % {_N_SHARDS}, e.dst % {_N_SHARDS}) AS dst_part,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(SUM(e.wgt) AS BIGINT) AS total_weight
FROM dedup_edges e
GROUP BY 1, 2
""",
    extra_ctes="""
dedup_edges AS (
  SELECT src, dst, MAX(wgt) AS wgt FROM user_edges
  WHERE src < dst GROUP BY src, dst
)""",
)


@register("partition_supergraph", _CONTRACT_ORACLE)
def q_partition_supergraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract the user graph by its hash placement (id % 8): one
    super-edge per partition pair carrying edge count and total weight
    (self-loops = intra-partition mass) — the coarsening step every
    multilevel algorithm (Louvain contraction, multilevel
    partitioning) iterates, and the partition-traffic matrix a
    placement optimizer consumes.  Relabel projection + one
    re-aggregation; the contracted graph is what the next level
    recurses on at 100 TB."""
    g = datasets.user_graph(spark, sf_dir)
    canon = (
        g.edges.filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.max("wgt").alias("wgt"))
    )
    sp = F.pmod(F.col("src"), F.lit(_N_SHARDS))
    dp = F.pmod(F.col("dst"), F.lit(_N_SHARDS))
    return (
        canon.select(
            F.least(sp, dp).alias("src_part"),
            F.greatest(sp, dp).alias("dst_part"),
            "wgt",
        )
        .groupBy("src_part", "dst_part")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.sum("wgt").cast("long").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# degree inequality: Gini coefficient of the degree distribution
# ---------------------------------------------------------------------------

_GINI_ORACLE = oracles.with_user_edges(
    body="""
SELECT CAST(n AS BIGINT) AS n_vertices,
       CAST(total AS BIGINT) AS total_degree,
       ROUND(2.0 * weighted / (n * CAST(total AS DOUBLE))
             - (n + 1e0) / n, 6) AS gini
FROM (
  SELECT COUNT(*) AS n, SUM(deg) AS total,
         SUM(CAST(rnk AS BIGINT) * deg) AS weighted
  FROM (
    SELECT deg, ROW_NUMBER() OVER (ORDER BY deg, id) AS rnk
    FROM deg
  )
)
""",
    extra_ctes="""
nbrs AS (SELECT DISTINCT src, dst FROM user_edges),
deg AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY 1)""",
)


@register("degree_gini", _GINI_ORACLE)
def q_degree_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of the degree distribution (0 = egalitarian,
    →1 = hub-dominated): the sorted-rank formula ``2·Σ(i·dᵢ)/(n·Σd)
    − (n+1)/n`` with integer rank-weighted sums and one final
    division.  The global rank over the O(nv) degree table is
    :func:`operators.prefix.range_row_number` (range shuffle +
    parallel local ranks + broadcast bases) — exact at any scale, no
    single-task sort."""
    from .operators.prefix import range_row_number

    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct()
    deg = nbrs.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("deg")
    )
    ranked = range_row_number(deg, [F.col("deg"), F.col("id")], "rnk")
    agg = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("deg").cast("long").alias("total"),
        F.sum(F.col("rnk") * F.col("deg")).cast("long").alias("weighted"),
    )
    return agg.select(
        F.col("n").alias("n_vertices"),
        F.col("total").alias("total_degree"),
        F.round(
            2.0 * F.col("weighted") / (F.col("n") * F.col("total").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Strongly connected components (directed completion of the CC kernel)
# ---------------------------------------------------------------------------

_SCC_ORACLE = oracles.with_directed_edges(
    """
SELECT r1.a AS id, CAST(MIN(r1.b) AS BIGINT) AS scc_id
FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
GROUP BY r1.a
""",
    extra_ctes="""
verts AS (SELECT src AS v FROM dedges UNION SELECT dst FROM dedges),
reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN dedges e ON e.src = r.b
)
""",
    recursive=True,
)


@register("scc_components", _SCC_ORACLE)
def q_scc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the hash-oriented user graph
    (directed completion of ``static_components.c``; Multistep
    trim/color/settle — :mod:`operators.scc`).  The oracle is the
    mutual-reachability definition itself: ``scc_id(v) = min{u :
    u →* v ∧ v →* u}`` over a recursive closure — independent of the
    engine's peeling strategy."""
    from .operators.scc import strongly_connected_components

    dedges = datasets.directed_user_graph(spark, sf_dir)
    return strongly_connected_components(dedges)


# ---------------------------------------------------------------------------
# Bipartiteness / odd-cycle detection via BFS parity
# ---------------------------------------------------------------------------


def _parity_check(edges, max_depth: int = 32) -> DataFrame:
    """One-row ``(n_reached, n_odd_edges, is_bipartite)`` over a
    symmetric edge table: BFS parity from the min-id root; an edge
    whose endpoints share parity witnesses an odd cycle.  Both the
    distance loop and the parity join are the plans BFS already uses —
    no new shuffle shapes."""
    from .operators.bfs import bfs

    e = edges.select("src", "dst")
    source = int(e.agg(F.min("src").alias("s")).collect()[0]["s"])
    dist = bfs(e, source, max_depth=max_depth)
    par = dist.select("id", (F.col("dist") % 2).alias("par"))
    odd = (
        e.filter(F.col("src") < F.col("dst"))
        .join(par.select(F.col("id").alias("src"), F.col("par").alias("ps")), "src")
        .join(par.select(F.col("id").alias("dst"), F.col("par").alias("pd")), "dst")
        .filter(F.col("ps") == F.col("pd"))
    )
    return (
        dist.agg(F.count("*").cast("long").alias("n_reached"))
        .crossJoin(odd.agg(F.count("*").cast("long").alias("n_odd_edges")))
        .select(
            "n_reached",
            "n_odd_edges",
            (F.col("n_odd_edges") == 0).cast("long").alias("is_bipartite"),
        )
    )


def _parity_oracle(edge_view: str) -> str:
    return f"""
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_reached,
       CAST(o.n_odd AS BIGINT) AS n_odd_edges,
       CAST(o.n_odd = 0 AS BIGINT) AS is_bipartite
FROM (
  SELECT COUNT(*) AS n_odd
  FROM {edge_view} e JOIN d a ON a.id = e.src JOIN d b ON b.id = e.dst
  WHERE e.src < e.dst AND a.dist % 2 = b.dist % 2
) o
"""


_PARITY_CTES = """
bfsr(id, dist) AS (
  SELECT (SELECT MIN(src) FROM {view}), 0
  UNION
  SELECT e.dst, b.dist + 1 FROM {view} e JOIN bfsr b ON e.src = b.id
  WHERE b.dist < 32
),
d AS (SELECT id, MIN(dist) AS dist FROM bfsr GROUP BY id)
"""


@register(
    "odd_cycle_check",
    oracles.with_user_edges(
        _parity_oracle("user_edges"),
        extra_ctes=_PARITY_CTES.format(view="user_edges"),
    ).replace("WITH ", "WITH RECURSIVE ", 1),
)
def q_odd_cycle_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odd-cycle witness count on the (triangle-rich, hence non-
    bipartite) user graph — BFS-parity 2-coloring check."""
    g = datasets.user_graph(spark, sf_dir)
    return _parity_check(g.edges)


@register(
    "bipartite_check",
    oracles.with_edges(
        _parity_oracle("edges"),
        extra_ctes=_PARITY_CTES.format(view="edges"),
    ).replace("WITH ", "WITH RECURSIVE ", 1),
)
def q_bipartite_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive control: the part–supplier graph is bipartite by
    construction, so the same parity machinery must report zero odd
    edges and ``is_bipartite = 1``."""
    g = datasets.part_supplier_graph(spark, sf_dir)
    return _parity_check(g.edges)


# ---------------------------------------------------------------------------
# Butterfly counting (bipartite 4-cycles) on the part-supplier graph
# ---------------------------------------------------------------------------

_BUTTERFLY_ORACLE = """
WITH bip AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
),
pdeg AS (SELECT p, COUNT(*) AS d FROM bip GROUP BY p),
codeg AS (
  SELECT a.s AS s1, b.s AS s2, COUNT(*) AS c
  FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
  GROUP BY 1, 2
)
SELECT (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM pdeg) AS n_wedges,
       CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_butterflies
FROM codeg
"""


@register("butterfly_count", _BUTTERFLY_ORACLE)
def q_butterfly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Butterflies (2×2 bicliques / 4-cycles) and wedges of the
    part-supplier bipartite graph — the bipartite analog of the
    triangle census (Wang et al., "Vertex priority based butterfly
    counting", VLDB'19).  Wedges pivot on the part side (the side
    with bounded degree here), co-degrees aggregate per supplier
    pair; at 100 TB the pair join is keyed by part, so skew follows
    max part degree — cap or salt hub parts the same way the
    triangle kernel orients by degree.  All counts are exact
    integers."""
    li = datasets.load_table(spark, sf_dir, "lineitem")
    # materialize the deduped bipartite edge list once — both the
    # wedge and the co-degree branch read it, and the pair join fans
    # out of it twice
    bip = (
        li.select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
        .localCheckpoint()
    )
    wedges = (
        bip.groupBy("p")
        .agg(F.count("*").alias("d"))
        .agg(
            F.sum(F.col("d") * (F.col("d") - 1) / 2)
            .cast("long")
            .alias("n_wedges")
        )
    )
    a = bip.alias("a")
    b = bip.alias("b")
    butterflies = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") < F.col("b.s")))
        .groupBy(F.col("a.s").alias("s1"), F.col("b.s").alias("s2"))
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) / 2)
            .cast("long")
            .alias("n_butterflies")
        )
    )
    return wedges.crossJoin(butterflies)


# ---------------------------------------------------------------------------
# Maximal independent set (parallel greedy, bounded rounds)
# ---------------------------------------------------------------------------

from .operators.mis import greedy_mis, mis_oracle_sql  # noqa: E402


@register(
    "mis_6round",
    oracles.with_user_edges(
        "SELECT id, status FROM mis_result",
        # materialize the (events self-join) edge view once — the
        # round chain references it 2x/round and DuckDB inlines
        # non-materialized CTEs at every use
        extra_ctes="ue AS MATERIALIZED (SELECT src, dst FROM user_edges),\n"
        + mis_oracle_sql("ue", rounds=6),
    ),
)
def q_mis_6round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel greedy MIS by id-priority on the user graph, 6
    unrolled rounds (= the sequential greedy MIS once converged;
    status -1 reports any unconverged residue honestly).  Each round
    is one semi-filtered min-aggregation plus two anti-joins on a
    geometrically shrinking state — the Blelloch-style parallel
    greedy schedule."""
    g = datasets.user_graph(spark, sf_dir)
    return greedy_mis(g.edges, rounds=6)


# ---------------------------------------------------------------------------
# Weisfeiler-Leman color refinement (2 rounds) — structural signatures
# ---------------------------------------------------------------------------


def _wl_round_spark(nbrs: DataFrame, colors: DataFrame, salt: str) -> DataFrame:
    """One WL round: new_color(v) = H(own color # sorted multiset of
    neighbor colors).  ``nbrs`` is the distinct symmetric edge list,
    ``colors`` is ``(id, c)``."""
    from .hashutil import hash_prefix

    nbr_colors = (
        nbrs.join(colors.select(F.col("id").alias("dst"), F.col("c").alias("nc")), "dst")
        .groupBy(F.col("src").alias("id"))
        .agg(
            F.array_join(
                F.expr("transform(sort_array(collect_list(nc)), x -> cast(x as string))"),
                ",",
            ).alias("ms")
        )
    )
    return (
        colors.join(nbr_colors, "id")
        .select(
            "id",
            hash_prefix(
                F.concat_ws("", F.lit(salt + "|"), F.col("c").cast("string"),
                            F.lit("#"), F.col("ms")),
                15,
            ).alias("c"),
        )
    )


_WL_ORACLE = oracles.with_user_edges(
    "SELECT id, degree, c1, c2 FROM wl2",
    extra_ctes="""
nbrs AS MATERIALIZED (SELECT DISTINCT src, dst FROM user_edges),
c0 AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS c FROM nbrs GROUP BY src),
wl1 AS MATERIALIZED (
  SELECT n.src AS id, b.c AS c,
         ('0x' || substr(md5('wl1|' || b.c::VARCHAR || '#' ||
            string_agg(a.c::VARCHAR, ',' ORDER BY a.c)), 1, 15))::BIGINT AS c1
  FROM nbrs n JOIN c0 a ON a.id = n.dst JOIN c0 b ON b.id = n.src
  GROUP BY n.src, b.c
),
wl2 AS (
  SELECT n.src AS id, b.c AS degree, b.c1 AS c1,
         ('0x' || substr(md5('wl2|' || b.c1::VARCHAR || '#' ||
            string_agg(a.c1::VARCHAR, ',' ORDER BY a.c1)), 1, 15))::BIGINT AS c2
  FROM nbrs n JOIN wl1 a ON a.id = n.dst JOIN wl1 b ON b.id = n.src
  GROUP BY n.src, b.c, b.c1
)
""",
)


@register("wl_refinement", _WL_ORACLE)
def q_wl_refinement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of 1-WL (color refinement) over the user graph —
    the canonical structural-equivalence signature (graph-isomorphism
    features, GNN expressivity baseline).  Each round is one
    edge ⋈ color join + a sorted-multiset aggregation; the multiset
    digest is the portable 60-bit hash, so colors match the oracle
    exactly.  At 100 TB: identical shape to one PageRank round plus a
    per-vertex sort of neighbor colors (bounded by max degree)."""
    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct().localCheckpoint()
    c0 = nbrs.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("c")
    )
    wl1 = _wl_round_spark(nbrs, c0, "wl1")
    wl2 = _wl_round_spark(nbrs, wl1, "wl2")
    return (
        c0.select("id", F.col("c").alias("degree"))
        .join(wl1.select("id", F.col("c").alias("c1")), "id")
        .join(wl2.select("id", F.col("c").alias("c2")), "id")
        .select("id", "degree", "c1", "c2")
    )


# ---------------------------------------------------------------------------
# 2-hop ego networks for sampled roots
# ---------------------------------------------------------------------------

_EGO_ORACLE = oracles.with_user_edges(
    """
SELECT b.root,
       CAST(COUNT(*) AS BIGINT) AS ball_size,
       CAST(COUNT(*) FILTER (b.dist = 1) AS BIGINT) AS n_hop1,
       CAST(COUNT(*) FILTER (b.dist = 2) AS BIGINT) AS n_hop2,
       CAST((SELECT COUNT(*) / 2 FROM user_edges e
             JOIN ball x ON x.root = b.root AND x.id = e.src
             JOIN ball y ON y.root = b.root AND y.id = e.dst)
         AS BIGINT) AS internal_edges
FROM ball b GROUP BY b.root
""",
    extra_ctes="""
roots AS (SELECT src AS root FROM user_edges GROUP BY src ORDER BY src LIMIT 4),
l0 AS (SELECT root, root AS id, 0 AS dist FROM roots),
l1 AS (
  SELECT DISTINCT f.root, e.dst AS id, 1 AS dist
  FROM l0 f JOIN user_edges e ON e.src = f.id
  WHERE e.dst NOT IN (SELECT id FROM l0 x WHERE x.root = f.root)
),
l2 AS (
  SELECT DISTINCT f.root, e.dst AS id, 2 AS dist
  FROM l1 f JOIN user_edges e ON e.src = f.id
  WHERE NOT EXISTS (SELECT 1 FROM l0 x WHERE x.root = f.root AND x.id = e.dst)
    AND NOT EXISTS (SELECT 1 FROM l1 x WHERE x.root = f.root AND x.id = e.dst)
),
ball AS MATERIALIZED (
  SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2
)
""",
)


@register("ego_networks", _EGO_ORACLE)
def q_ego_networks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-2 ego-network summaries for the 4 smallest-id roots:
    ball size by hop plus internal (induced) edge count — the
    neighborhood-sampling primitive of GraphSAGE-style training and
    the reference's per-vertex exploration loop.  Multi-root BFS runs
    all roots in one compound-keyed frontier; the induced-edge count
    is two semi-joins of the edge list against the ball."""
    from .operators.bfs import multi_source_bfs

    g = datasets.user_graph(spark, sf_dir)
    e = g.edges.select("src", "dst")
    roots = [
        int(r.src)
        for r in e.groupBy("src").count().orderBy("src").limit(4).collect()
    ]
    ball = multi_source_bfs(e, roots, max_depth=2).localCheckpoint()
    per_hop = ball.groupBy("root").agg(
        F.count("*").cast("long").alias("ball_size"),
        F.sum((F.col("dist") == 1).cast("long")).alias("n_hop1"),
        F.sum((F.col("dist") == 2).cast("long")).alias("n_hop2"),
    )
    inner = (
        e.join(ball.select("root", F.col("id").alias("src")), "src")
        .join(ball.select(F.col("root").alias("r2"), F.col("id").alias("dst")), "dst")
        .filter(F.col("root") == F.col("r2"))
        .groupBy("root")
        .agg((F.count("*") / 2).cast("long").alias("internal_edges"))
    )
    return per_hop.join(inner, "root")


# ---------------------------------------------------------------------------
# HITS hubs/authorities (5 rounds, max-normalized) on the directed graph
# ---------------------------------------------------------------------------


def _hits_oracle(iters: int = 5) -> str:
    ctes = [
        "dverts AS MATERIALIZED (SELECT src AS id FROM dedges UNION SELECT dst FROM dedges)",
        "hits0 AS (SELECT id, 1e0 AS hub, 1e0 AS auth FROM dverts)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""araw{i} AS MATERIALIZED (
  SELECT v.id, COALESCE(s.x, 0e0) AS a FROM dverts v LEFT JOIN (
    SELECT e.dst AS id, SUM(h.hub) AS x
    FROM dedges e JOIN hits{p} h ON h.id = e.src GROUP BY e.dst) s
  ON s.id = v.id)"""
        )
        ctes.append(
            f"""hraw{i} AS MATERIALIZED (
  SELECT v.id, COALESCE(s.x, 0e0) AS h FROM dverts v LEFT JOIN (
    SELECT e.src AS id, SUM(a.a) AS x
    FROM dedges e JOIN araw{i} a ON a.id = e.dst GROUP BY e.src) s
  ON s.id = v.id)"""
        )
        ctes.append(
            f"""hits{i} AS MATERIALIZED (
  SELECT h.id, h.h / (SELECT MAX(h2.h) FROM hraw{i} h2) AS hub,
         a.a / (SELECT MAX(a2.a) FROM araw{i} a2) AS auth
  FROM hraw{i} h JOIN araw{i} a USING (id))"""
        )
    return oracles.with_directed_edges(
        body=f"SELECT id, ROUND(hub, 6) AS hub, ROUND(auth, 6) AS auth FROM hits{iters}",
        extra_ctes=",\n".join(ctes),
    )


@register("hits_5iter", _hits_oracle(5))
def q_hits_5iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg HITS on the hash-oriented user graph: 5 unrolled
    rounds of auth := Aᵀ·hub, hub := A·auth, each max-normalized
    (max, unlike an L2 sum, is order-independent — so the only
    cross-engine float risk is the same last-ulp SUM tolerance the
    PageRank oracle already carries, absorbed by ROUND 6).  Per round:
    two edge ⋈ state joins + aggregations, the PageRank shuffle shape
    twice."""
    dedges = datasets.directed_user_graph(spark, sf_dir).localCheckpoint()
    verts = (
        dedges.select(F.col("src").alias("id"))
        .unionAll(dedges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    state = verts.select("id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    for _ in range(5):
        araw = (
            verts.join(
                dedges.join(
                    state.select(F.col("id").alias("src"), "hub"), "src"
                )
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("x")),
                "id",
                "left",
            )
            .select("id", F.coalesce("x", F.lit(0.0)).alias("a"))
            .localCheckpoint()
        )
        hraw = (
            verts.join(
                dedges.join(araw.select(F.col("id").alias("dst"), "a"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("a").alias("x")),
                "id",
                "left",
            )
            .select("id", F.coalesce("x", F.lit(0.0)).alias("h"))
            .localCheckpoint()
        )
        amax = araw.agg(F.max("a")).collect()[0][0]
        hmax = hraw.agg(F.max("h")).collect()[0][0]
        state = (
            hraw.join(araw, "id")
            .select(
                "id",
                (F.col("h") / F.lit(hmax)).alias("hub"),
                (F.col("a") / F.lit(amax)).alias("auth"),
            )
            .localCheckpoint()
        )
    return state.select("id", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth"))


# ---------------------------------------------------------------------------
# Katz centrality, integer-exact (alpha = 1/4, 4 rounds)
# ---------------------------------------------------------------------------


def _katz_oracle(iters: int = 4) -> str:
    ctes = [
        "kverts AS MATERIALIZED (SELECT DISTINCT src AS id FROM user_edges)",
        "k0 AS (SELECT id, CAST(1 AS BIGINT) AS k FROM kverts)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""k{i} AS MATERIALIZED (
  SELECT v.id, CAST({4 ** i} + COALESCE(s.x, 0) AS BIGINT) AS k
  FROM kverts v LEFT JOIN (
    SELECT e.src AS id, SUM(p.k) AS x
    FROM user_edges e JOIN k{i - 1} p ON p.id = e.dst GROUP BY e.src) s
  ON s.id = v.id)"""
        )
    return oracles.with_user_edges(
        body=f"SELECT id, k AS katz_num FROM k{iters}",
        extra_ctes=",\n".join(ctes),
    )


@register("katz_4round", _katz_oracle(4))
def q_katz_4round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Katz centrality with α = 1/4 kept in EXACT integers: the
    recurrence ``k_r(v) = 4^r + Σ_nbr k_{r-1}(u)`` satisfies
    ``k_r / 4^r = Σ_{j≤r} α^j (A^j 1)(v)`` — the truncated Katz
    series — with zero float arithmetic anywhere, so the oracle
    equality is exact, not ROUND-absorbed.  BIGINT holds through
    round r while Σdeg^r < 2^63 (true far beyond this corpus; at
    web-graph scale switch the accumulator to DECIMAL(38,0) —
    same plan)."""
    g = datasets.user_graph(spark, sf_dir)
    edges = g.edges.select("src", "dst").localCheckpoint()
    verts = edges.select(F.col("src").alias("id")).distinct().localCheckpoint()
    k = verts.select("id", F.lit(1).cast("long").alias("k"))
    for i in range(1, 5):
        k = (
            verts.join(
                edges.join(k.select(F.col("id").alias("dst"), "k"), "dst")
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("k").alias("x")),
                "id",
                "left",
            )
            .select(
                "id",
                (F.lit(4**i) + F.coalesce("x", F.lit(0))).cast("long").alias("k"),
            )
            .localCheckpoint()
        )
    return k.select("id", F.col("k").alias("katz_num"))


# ---------------------------------------------------------------------------
# Local clustering: PPR sweep cut (Andersen–Chung–Lang)
# ---------------------------------------------------------------------------

_SWEEP_K = 30


def _sweep_oracle(iters: int = 5) -> str:
    ctes = [
        "ue AS MATERIALIZED (SELECT src, dst FROM user_edges)",
        "deg AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS degree FROM ue GROUP BY src)",
        "seed AS (SELECT MIN(id) AS s FROM deg)",
        """p0 AS (
  SELECT d.id, d.degree,
         CASE WHEN d.id = (SELECT s FROM seed) THEN 1e0 ELSE 0e0 END AS pr
  FROM deg d)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""p{i} AS MATERIALIZED (
  SELECT d.id, d.degree,
         CASE WHEN d.id = (SELECT s FROM seed) THEN 0.15e0 ELSE 0e0 END
           + 0.85e0 * COALESCE(m.mass, 0e0) AS pr
  FROM deg d LEFT JOIN (
    SELECT e.src AS id, SUM(p.pr / p.degree) AS mass
    FROM ue e JOIN p{i - 1} p ON e.dst = p.id GROUP BY e.src
  ) m ON d.id = m.id)"""
        )
    ctes.append(
        f"""ranked AS MATERIALIZED (
  SELECT id, degree,
         ROW_NUMBER() OVER (
           ORDER BY CAST(FLOOR(1e9 * pr / degree) AS BIGINT) DESC, id) AS rnk
  FROM p{iters})"""
    )
    ctes.append(
        """epairs AS MATERIALIZED (
  SELECT LEAST(a.rnk, b.rnk) AS rmin, GREATEST(a.rnk, b.rnk) AS rmax
  FROM ue e JOIN ranked a ON a.id = e.src JOIN ranked b ON b.id = e.dst
  WHERE e.src < e.dst)"""
    )
    ctes.append(
        f"""ks AS (
  SELECT rnk AS k, id, degree,
         SUM(degree) OVER (ORDER BY rnk) AS vol
  FROM ranked WHERE rnk <= {_SWEEP_K})"""
    )
    ctes.append(
        """cuts AS (
  SELECT k.k, CAST(COALESCE(SUM(
           CASE WHEN p.rmin <= k.k AND p.rmax > k.k THEN 1 ELSE 0 END), 0)
         AS BIGINT) AS cut
  FROM ks k CROSS JOIN epairs p GROUP BY k.k)"""
    )
    body = """
SELECT k.k AS rank, k.id, CAST(k.vol AS BIGINT) AS vol, c.cut,
       CASE WHEN LEAST(k.vol, (SELECT SUM(degree) FROM deg) - k.vol) > 0
            THEN CAST((1000 * c.cut) //
                 LEAST(k.vol, (SELECT SUM(degree) FROM deg) - k.vol) AS BIGINT)
            ELSE -1 END AS cond_milli
FROM ks k JOIN cuts c ON c.k = k.k
"""
    return oracles.with_user_edges(body, extra_ctes=",\n".join(ctes))


@register("ppr_sweep_cut", _sweep_oracle(5))
def q_ppr_sweep_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Andersen–Chung–Lang local clustering: rank vertices by
    degree-normalized personalized-PageRank from the min-id seed,
    then sweep the first 30 prefixes reporting cut, volume, and
    integer milli-conductance.  Cut counting is a containment join of
    the 30 prefix rows (broadcast) against per-edge rank intervals —
    exact integers; at larger sweep widths switch to the
    difference-array prefix-sum form (same relations, no cross).
    The global conductance-sweep order is
    :func:`operators.prefix.range_row_number` over the O(nv) score
    vector (range shuffle + parallel local ranks + broadcast bases);
    only the ≤ ``_SWEEP_K``-row prefix gets an in-task window."""
    from pyspark.sql import Window

    from .operators.pagerank import personalized_pagerank
    from .operators.prefix import range_row_number

    g = datasets.user_graph(spark, sf_dir)
    edges = g.edges.select("src", "dst").localCheckpoint()
    deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count("*").cast("long").alias("degree")
    )
    seed = int(deg.agg(F.min("id")).collect()[0][0])
    pr = personalized_pagerank(g.edges, [seed], num_iter=5)
    scored = pr.join(deg, "id").select(
        "id",
        "degree",
        F.floor(F.lit(1e9) * F.col("pr") / F.col("degree")).cast("long").alias("sq"),
    )
    ranked = range_row_number(
        scored, [F.desc("sq"), F.col("id")], "rnk"
    ).select("id", "degree", "rnk").localCheckpoint()
    ra = ranked.select(F.col("id").alias("src"), F.col("rnk").alias("ra"))
    rb = ranked.select(F.col("id").alias("dst"), F.col("rnk").alias("rb"))
    epairs = (
        edges.filter(F.col("src") < F.col("dst"))
        .join(ra, "src")
        .join(rb, "dst")
        .select(
            F.least("ra", "rb").alias("rmin"), F.greatest("ra", "rb").alias("rmax")
        )
    )
    wv = Window.orderBy("rnk")
    ks = (
        ranked.filter(F.col("rnk") <= _SWEEP_K)
        .select("rnk", "id", "degree")
        .withColumn("vol", F.sum("degree").over(wv))
        .withColumnRenamed("rnk", "k")
    )
    cuts = (
        epairs.join(
            F.broadcast(ks.select("k")),
            (F.col("rmin") <= F.col("k")) & (F.col("rmax") > F.col("k")),
        )
        .groupBy("k")
        .agg(F.count("*").cast("long").alias("cut"))
    )
    total_vol = deg.agg(F.sum("degree").alias("tv"))
    return (
        ks.join(cuts, "k", "left")
        .crossJoin(F.broadcast(total_vol))
        .select(
            F.col("k").cast("long").alias("rank"),
            "id",
            F.col("vol").cast("long").alias("vol"),
            F.coalesce("cut", F.lit(0)).cast("long").alias("cut"),
            F.when(
                F.least(F.col("vol"), F.col("tv") - F.col("vol")) > 0,
                F.expr("(1000 * coalesce(cut, 0)) div least(vol, tv - vol)"),
            )
            .otherwise(F.lit(-1))
            .cast("long")
            .alias("cond_milli"),
        )
    )


# ---------------------------------------------------------------------------
# Widest (max-bottleneck) path — the (max, min) semiring SSSP twin
# ---------------------------------------------------------------------------

_WIDEST_INF = 1 << 60


def _widest_oracle(rounds: int = 6) -> str:
    ctes = [
        "ue AS MATERIALIZED (SELECT src, dst, wgt FROM user_edges)",
        f"w0 AS (SELECT (SELECT MIN(src) FROM ue) AS id, CAST({_WIDEST_INF} AS BIGINT) AS cap)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""w{i} AS MATERIALIZED (
  SELECT id, CAST(MAX(cap) AS BIGINT) AS cap FROM (
    SELECT id, cap FROM w{i - 1}
    UNION ALL
    SELECT e.dst AS id, LEAST(w.cap, e.wgt) AS cap
    FROM ue e JOIN w{i - 1} w ON w.id = e.src
  ) GROUP BY id)"""
        )
    return oracles.with_user_edges(
        body=f"SELECT id, cap FROM w{rounds}",
        extra_ctes=",\n".join(ctes),
    )


@register("widest_path_6round", _widest_oracle(6))
def q_widest_path_6round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-bottleneck capacities from the min-id vertex over
    co-occurrence weights, 6 unrolled rounds (≥ the fixture's
    diameter) — :func:`operators.bfs.widest_path`."""
    from .operators.bfs import widest_path

    g = datasets.user_graph(spark, sf_dir)
    source = int(g.edges.agg(F.min("src")).collect()[0][0])
    return widest_path(g.edges, source, rounds=6, inf=_WIDEST_INF)


# ---------------------------------------------------------------------------
# Percolation robustness: components under deterministic edge dropout
# ---------------------------------------------------------------------------


def _robust_level_sql(denom: int) -> str:
    h = (
        "('0x' || substr(md5('rob|' || u::VARCHAR || '|' || v::VARCHAR),"
        " 1, 8))::BIGINT"
    )
    return f"""
kept{denom} AS MATERIALIZED (
  SELECT u, v FROM upairs_d WHERE {h} % {denom} = 0
),
ke{denom} AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM kept{denom}
  UNION ALL SELECT v, u FROM kept{denom}
),
{oracles.cc_bounded_ctes(f"ke{denom}", suffix=str(denom))},
sizes{denom} AS (SELECT label, COUNT(*) AS c FROM lab{denom} GROUP BY label),
row{denom} AS (
  SELECT CAST({denom} AS BIGINT) AS inv_p,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM kept{denom}) AS n_edges,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM lab{denom}) AS n_connected,
         CAST((SELECT COUNT(*) FROM sizes{denom})
              + (SELECT COUNT(*) FROM verts_d)
              - (SELECT COUNT(*) FROM lab{denom}) AS BIGINT) AS n_components,
         (SELECT CAST(COALESCE(MAX(c), 1) AS BIGINT) FROM sizes{denom}) AS giant_size
)"""


_ROBUST_ORACLE = (
    "WITH RECURSIVE upairs_d AS MATERIALIZED ("
    "  SELECT DISTINCT a.user_id AS u, b.user_id AS v"
    "  FROM events a JOIN events b"
    "    ON a.event_type = b.event_type"
    "   AND date_trunc('hour', a.ts) = date_trunc('hour', b.ts)"
    "   AND a.user_id < b.user_id"
    "),\n"
    # explicit DISTINCT over UNION ALL: inside WITH RECURSIVE, DuckDB
    # treats a bare two-branch UNION CTE as a recursive candidate and
    # loses the dedup
    "verts_d AS (SELECT DISTINCT id FROM (SELECT u AS id FROM upairs_d"
    " UNION ALL SELECT v FROM upairs_d)),\n"
    + _robust_level_sql(2).strip().lstrip(",")
    + ",\n"
    + _robust_level_sql(4).strip()
    + "\nSELECT * FROM row2 UNION ALL SELECT * FROM row4"
)


@register("robustness_curve", _ROBUST_ORACLE)
def q_robustness_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bond-percolation robustness: keep each undirected edge with
    probability 1/2 then 1/4 (deterministic hash draw), and report
    surviving edges, component count (isolated vertices are
    singletons), and giant-component size per level — the resilience
    curve infra teams use for partition/failure analysis.  Spark side
    reuses the CC kernel per level over the hash-filtered edge list;
    the vertex universe stays fixed so levels are comparable."""
    from .hashutil import hash_mod
    from .operators.components import connected_components

    ev = datasets.load_table(spark, sf_dir, "events").select(
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
        .localCheckpoint()
    )
    nv = (
        pairs.select(F.col("u").alias("id"))
        .unionAll(pairs.select(F.col("v").alias("id")))
        .distinct()
        .count()
    )
    rows = []
    for denom in (2, 4):
        kept = pairs.filter(
            hash_mod("rob", [F.col("u"), F.col("v")], F.lit(denom)) == 0
        ).localCheckpoint()
        n_edges = kept.count()
        edges = kept.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
            kept.select(F.col("v").alias("src"), F.col("u").alias("dst"))
        )
        if n_edges:
            labels = connected_components(edges)
            n_connected = labels.count()
            sizes = labels.groupBy("label").count()
            n_comp = sizes.count() + nv - n_connected
            giant = sizes.agg(F.max("count")).collect()[0][0]
        else:
            n_connected, n_comp, giant = 0, nv, 1
        rows.append((denom, n_edges, n_connected, n_comp, int(giant)))
    return pairs.sparkSession.createDataFrame(
        rows, "inv_p long, n_edges long, n_connected long,"
        " n_components long, giant_size long"
    )


# ---------------------------------------------------------------------------
# BFS spanning tree (parent pointers) — S13-adjacent export
# ---------------------------------------------------------------------------

_BFS_TREE_ORACLE = oracles.with_user_edges(
    """
SELECT c.id, MIN(e.src) AS parent, c.dist
FROM d c JOIN user_edges e ON e.dst = c.id
JOIN d p ON p.id = e.src AND p.dist = c.dist - 1
GROUP BY c.id, c.dist
""",
    extra_ctes="""
bfsr(id, dist) AS (
  SELECT (SELECT MIN(src) FROM user_edges), 0
  UNION
  SELECT e.dst, b.dist + 1 FROM user_edges e JOIN bfsr b ON e.src = b.id
  WHERE b.dist < 32
),
d AS (SELECT id, MIN(dist) AS dist FROM bfsr GROUP BY id)
""",
).replace("WITH ", "WITH RECURSIVE ", 1)


@register("bfs_tree", _BFS_TREE_ORACLE)
def q_bfs_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BFS spanning tree: every non-root vertex's parent
    is its minimum-id neighbor one level closer to the root — the
    spanning-forest artifact streaming-components engines maintain
    (STINGER's tree repair) as one distance join + min-aggregate on
    top of the existing BFS kernel."""
    from .operators.bfs import bfs

    g = datasets.user_graph(spark, sf_dir)
    e = g.edges.select("src", "dst")
    source = int(e.agg(F.min("src")).collect()[0][0])
    dist = bfs(e, source, max_depth=32).localCheckpoint()
    child = dist.select(F.col("id"), F.col("dist"))
    par = dist.select(F.col("id").alias("src"), F.col("dist").alias("pdist"))
    return (
        e.join(child.withColumnRenamed("id", "dst"), "dst")
        .join(par, "src")
        .filter(F.col("pdist") == F.col("dist") - 1)
        .groupBy(F.col("dst").alias("id"), "dist")
        .agg(F.min("src").alias("parent"))
        .select("id", "parent", "dist")
    )


# ---------------------------------------------------------------------------
# Greedy maximal matching (bounded rounds, unrolled oracle)
# ---------------------------------------------------------------------------

from .operators.mis import greedy_matching, matching_oracle_sql  # noqa: E402


@register(
    "matching_6round",
    oracles.with_user_edges(
        "SELECT u, v, round FROM match_result",
        extra_ctes="uem AS MATERIALIZED (SELECT src, dst FROM user_edges),\n"
        + matching_oracle_sql("uem", rounds=6),
    ),
)
def q_matching_6round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel greedy maximal matching on the user graph — the
    locally-minimal-edge rounds of :func:`operators.mis.
    greedy_matching` (a matching is an MIS of the line graph; same
    geometric-shrink schedule)."""
    g = datasets.user_graph(spark, sf_dir)
    return greedy_matching(g.edges, rounds=6)


# ---------------------------------------------------------------------------
# HADI-style distance distribution + sampled effective diameter
# ---------------------------------------------------------------------------

_DISTDIST_ORACLE = oracles.with_user_edges(
    """
SELECT CAST(d.dist AS BIGINT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(COUNT(*)) OVER (ORDER BY d.dist) AS BIGINT) AS cum_pairs,
       CAST((SELECT MIN(x.dist) FROM (
          SELECT dist, SUM(COUNT(*)) OVER (ORDER BY dist) AS c
          FROM d GROUP BY dist) x
        WHERE 10 * x.c >= 9 * (SELECT COUNT(*) FROM d)) AS BIGINT)
         AS eff_diameter_p90
FROM d GROUP BY d.dist
""",
    extra_ctes="""
roots AS (SELECT src AS root FROM user_edges GROUP BY src ORDER BY src LIMIT 4),
bfsr(root, id, dist) AS (
  SELECT root, root, 0 FROM roots
  UNION
  SELECT b.root, e.dst, b.dist + 1
  FROM user_edges e JOIN bfsr b ON e.src = b.id
  WHERE b.dist < 32
),
d AS (SELECT root, id, MIN(dist) AS dist FROM bfsr GROUP BY root, id)
""",
).replace("WITH ", "WITH RECURSIVE ", 1)


@register("distance_distribution", _DISTDIST_ORACLE)
def q_distance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled neighborhood function (HADI / ANF family, Kang et al.
    ICDM'09): hop-distance histogram over 4 BFS roots with cumulative
    pair counts and the sampled 90th-percentile effective diameter —
    the one-number connectivity summary.  Multi-root BFS runs all
    roots in one compound-keyed frontier; everything downstream is
    two aggregations over (root, id, dist)."""
    from pyspark.sql import Window

    from .operators.bfs import multi_source_bfs

    g = datasets.user_graph(spark, sf_dir)
    e = g.edges.select("src", "dst")
    roots = [
        int(r.src)
        for r in e.groupBy("src").count().orderBy("src").limit(4).collect()
    ]
    d = multi_source_bfs(e, roots, max_depth=32).localCheckpoint()
    total = d.count()
    hist = d.groupBy("dist").agg(F.count("*").cast("long").alias("n_pairs"))
    cum = hist.withColumn(
        "cum_pairs", F.sum("n_pairs").over(Window.orderBy("dist")).cast("long")
    )
    eff = (
        cum.filter(10 * F.col("cum_pairs") >= 9 * total)
        .agg(F.min("dist").cast("long").alias("eff_diameter_p90"))
    )
    return cum.crossJoin(F.broadcast(eff)).select(
        F.col("dist").cast("long").alias("dist"),
        "n_pairs",
        "cum_pairs",
        "eff_diameter_p90",
    )


# ---------------------------------------------------------------------------
# SCC condensation DAG with topological levels
# ---------------------------------------------------------------------------

_CONDENSATION_ORACLE = oracles.with_directed_edges(
    """
SELECT c.scc_id,
       CAST(COUNT(DISTINCT s.id) AS BIGINT) AS scc_size,
       CAST(c.lvl AS BIGINT) AS level,
       CAST((SELECT COUNT(*) FROM cedges x WHERE x.a = c.scc_id) AS BIGINT)
         AS out_edges
FROM lvl c JOIN sccs s ON s.scc_id = c.scc_id
GROUP BY c.scc_id, c.lvl
""",
    extra_ctes="""
sdedges AS MATERIALIZED (
  SELECT src, dst FROM dedges
  WHERE ('0x' || substr(md5('csub|' || src::VARCHAR || '|' || dst::VARCHAR),
         1, 8))::BIGINT % 16 = 0
),
verts AS (SELECT src AS v FROM sdedges UNION SELECT dst FROM sdedges),
reach(a, b) AS (
  SELECT v, v FROM verts
  UNION
  SELECT r.a, e.dst FROM reach r JOIN sdedges e ON e.src = r.b
),
sccs AS MATERIALIZED (
  SELECT r1.a AS id, MIN(r1.b) AS scc_id
  FROM reach r1 JOIN reach r2 ON r2.a = r1.b AND r2.b = r1.a
  GROUP BY r1.a
),
cedges AS MATERIALIZED (
  SELECT DISTINCT sa.scc_id AS a, sb.scc_id AS b
  FROM sdedges e JOIN sccs sa ON sa.id = e.src JOIN sccs sb ON sb.id = e.dst
  WHERE sa.scc_id <> sb.scc_id
),
lvl(scc_id, lvl) AS (
  SELECT scc_id, 0 FROM (SELECT DISTINCT scc_id FROM sccs)
  UNION
  SELECT c.b, l.lvl + 1 FROM lvl l JOIN cedges c ON c.a = l.scc_id
  WHERE l.lvl < 64
),
lvl2 AS (SELECT scc_id, MAX(lvl) AS lvl FROM lvl GROUP BY scc_id)
""",
    recursive=True,
).replace("FROM lvl c", "FROM lvl2 c").replace("c.lvl", "c.lvl")


@register("scc_condensation", _CONDENSATION_ORACLE)
def q_scc_condensation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Condensation DAG of the strongly connected components: one row
    per SCC with its size, longest-path topological level, and
    out-degree in the contracted DAG — the structure a scheduler (or
    incremental evaluator) derives from any dependency graph.  Levels
    by bounded longest-path relaxation over the (acyclic by
    construction) contracted edge set; contraction is two label joins
    + distinct."""
    from .hashutil import hash_mod
    from .operators.scc import strongly_connected_components
    from .operators.util import (
        counted,
        fixpoint,
        self_loop_relation,
        semiring_round,
        vertex_summary,
    )

    # keep 1/16 of the oriented edges: the full orientation is one
    # giant SCC; the thinned graph has a real multi-SCC condensation
    # (21 SCCs / giant 130 at sf0.01)
    dedges = (
        datasets.directed_user_graph(spark, sf_dir)
        .filter(hash_mod("csub", [F.col("src"), F.col("dst")], F.lit(16)) == 0)
        .localCheckpoint()
    )
    sccs = strongly_connected_components(dedges).localCheckpoint()
    sa = sccs.select(F.col("id").alias("src"), F.col("scc_id").alias("a"))
    sb = sccs.select(F.col("id").alias("dst"), F.col("scc_id").alias("b"))
    cedges, ne = counted(
        dedges.join(sa, "src")
        .join(sb, "dst")
        .filter(F.col("a") != F.col("b"))
        .select("a", "b")
        .distinct()
    )
    # longest-path levels: the (max, + 1) semiring over the contracted
    # DAG (b receives from a), every SCC seeded at level 0, to the
    # fixpoint (a DAG's depth is below its SCC count) or 64 rounds
    ids, nv, _ = vertex_summary(sccs.select(F.col("scc_id").alias("id")).distinct())
    rel = self_loop_relation(
        cedges.select(F.col("b").alias("src"), F.col("a").alias("dst")),
        ids,
        ids.schema["id"].dataType.simpleString(),
        ne,
        nv,
    )
    state = fixpoint(
        lambda st: semiring_round(rel, st, nv, "lvl", lambda v: v + 1, "max"),
        ids.select("id", F.lit(0).alias("lvl"), F.lit(True).alias("active")),
        64,
    )
    rel.unpersist()
    lvl = state.select(F.col("id").alias("scc_id"), "lvl")
    sizes = sccs.groupBy("scc_id").agg(
        F.countDistinct("id").cast("long").alias("scc_size")
    )
    outdeg = cedges.groupBy(F.col("a").alias("scc_id")).agg(
        F.count("*").alias("od")
    )
    return (
        sizes.join(lvl, "scc_id")
        .join(outdeg, "scc_id", "left")
        .select(
            "scc_id",
            "scc_size",
            F.col("lvl").cast("long").alias("level"),
            F.coalesce("od", F.lit(0)).cast("long").alias("out_edges"),
        )
    )


# ---------------------------------------------------------------------------
# friend-of-friend recommendations (common-neighbor top-k per root)
# ---------------------------------------------------------------------------

_FOF_ORACLE = oracles.with_user_edges(
    """
SELECT root, cand, n_common, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT r.root, w2.dst AS cand, CAST(COUNT(*) AS BIGINT) AS n_common,
         ROW_NUMBER() OVER (PARTITION BY r.root
                            ORDER BY COUNT(*) DESC, w2.dst) AS rnk
  FROM (SELECT src AS root FROM ue GROUP BY src ORDER BY src LIMIT 4) r
  JOIN ue w1 ON w1.src = r.root
  JOIN ue w2 ON w2.src = w1.dst
  WHERE w2.dst <> r.root
    AND NOT EXISTS (SELECT 1 FROM ue e WHERE e.src = r.root AND e.dst = w2.dst)
  GROUP BY r.root, w2.dst)
WHERE rnk <= 5
""",
    extra_ctes="ue AS MATERIALIZED (SELECT DISTINCT src, dst FROM user_edges)",
)


@register("fof_recommendations", _FOF_ORACLE)
def q_fof_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friend-of-friend recommendation: for 4 roots, the top-5
    non-neighbors ranked by common-neighbor count — the 2-hop wedge
    join + existing-edge anti-join + per-root top-k that every social
    recommender starts from (Adamic-Adar upgrades the count to an
    inverse-log weight; both ride the same wedge plan)."""
    from pyspark.sql import Window

    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct().localCheckpoint()
    roots = nbrs.select(F.col("src").alias("root")).distinct().orderBy("root").limit(4)
    w1 = nbrs.select(F.col("src").alias("root"), F.col("dst").alias("mid"))
    w2 = nbrs.select(F.col("src").alias("mid"), F.col("dst").alias("cand"))
    wedges = (
        F.broadcast(roots).join(w1, "root")
        .join(w2, "mid")
        .filter(F.col("cand") != F.col("root"))
        .join(
            nbrs.select(F.col("src").alias("root"), F.col("dst").alias("cand")),
            ["root", "cand"],
            "left_anti",
        )
        .groupBy("root", "cand")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    w = Window.partitionBy("root").orderBy(F.desc("n_common"), "cand")
    return (
        wedges.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("root", "cand", "n_common", F.col("rnk").cast("long").alias("rnk"))
    )


# ---------------------------------------------------------------------------
# Eulerian path/circuit feasibility (degree parity + connectivity)
# ---------------------------------------------------------------------------

_EULER_ORACLE = oracles.with_user_edges(
    """
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_vertices,
       (SELECT CAST(SUM(d) / 2 AS BIGINT) FROM deg) AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM deg WHERE d % 2 = 1) AS n_odd,
       CAST((SELECT COUNT(DISTINCT label) FROM lab) = 1 AS BIGINT)
         AS is_connected,
       CAST((SELECT COUNT(*) FROM deg WHERE d % 2 = 1) IN (0, 2)
            AND (SELECT COUNT(DISTINCT label) FROM lab) = 1 AS BIGINT)
         AS has_euler_path,
       CAST((SELECT COUNT(*) FROM deg WHERE d % 2 = 1) = 0
            AND (SELECT COUNT(DISTINCT label) FROM lab) = 1 AS BIGINT)
         AS has_euler_circuit
""",
    extra_ctes="""
ued AS MATERIALIZED (SELECT DISTINCT src, dst FROM user_edges),
deg AS (SELECT src AS id, COUNT(*) AS d FROM ued GROUP BY src),
"""
    + oracles.cc_bounded_ctes("ued"),
)


@register("eulerian_check", _EULER_ORACLE)
def q_eulerian_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Euler's theorem as a query: a connected graph has an Eulerian
    circuit iff every degree is even, a path iff exactly 0 or 2 odd
    degrees — one degree aggregation + the CC kernel; the classic
    route-inspection feasibility check."""
    from .operators.components import connected_components

    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct().localCheckpoint()
    deg = nbrs.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
    n_comp = (
        connected_components(nbrs).select("label").distinct().count()
    )
    stats = deg.agg(
        F.count("*").cast("long").alias("n_vertices"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum((F.col("d") % 2 == 1).cast("long")).cast("long").alias("n_odd"),
    )
    return stats.select(
        "n_vertices",
        "n_edges",
        "n_odd",
        F.lit(1 if n_comp == 1 else 0).cast("long").alias("is_connected"),
        (
            F.col("n_odd").isin(0, 2) & F.lit(n_comp == 1)
        ).cast("long").alias("has_euler_path"),
        ((F.col("n_odd") == 0) & F.lit(n_comp == 1))
        .cast("long")
        .alias("has_euler_circuit"),
    )


# ---------------------------------------------------------------------------
# 4-cycle (C4) counting via co-degree pairs
# ---------------------------------------------------------------------------

_C4_ORACLE = oracles.with_user_edges(
    """
SELECT CAST(SUM(c * (c - 1) / 2) / 2 AS BIGINT) AS n_4cycles,
       CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS n_codeg_pairs
FROM codeg
""",
    extra_ctes="""
uec AS MATERIALIZED (SELECT DISTINCT src, dst FROM user_edges),
codeg AS (
  SELECT a.src AS u, b.src AS v, COUNT(*) AS c
  FROM uec a JOIN uec b ON a.dst = b.dst AND a.src < b.src
  GROUP BY 1, 2
)
""",
)


@register("four_cycle_count", _C4_ORACLE)
def q_four_cycle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global 4-cycle census: ``C4 = ½ Σ_{u<v} C(codeg(u,v), 2)``
    (each cycle has two disjoint diagonals) — the quadrilateral
    analog of the triangle census, and the bipartite butterfly
    formula applied to a general graph.  Co-degrees come from one
    wedge join keyed on the shared neighbor; at scale the join is
    degree-oriented exactly like the triangle kernel."""
    g = datasets.user_graph(spark, sf_dir)
    nbrs = g.edges.select("src", "dst").distinct().localCheckpoint()
    # guarded dense-adjacency path (operators/densegraph.py): the
    # co-degree wedge join is Σ deg² rows on a 70 %-dense fixture;
    # the blocked matmul census is integer-exact and identical
    from .operators.densegraph import dense_codegree_stats, dense_ctx

    ctx = dense_ctx(nbrs, symmetric=True)
    if ctx is not None:
        return dense_codegree_stats(ctx)
    a = nbrs.alias("a")
    b = nbrs.alias("b")
    codeg = (
        a.join(
            b,
            (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")),
        )
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
        .agg(F.count("*").alias("c"))
    )
    pairs = F.sum(F.col("c") * (F.col("c") - 1) / 2)
    return codeg.agg(
        (pairs / 2).cast("long").alias("n_4cycles"),
        pairs.cast("long").alias("n_codeg_pairs"),
    )


# ---------------------------------------------------------------------------
# two shortest distinct distances (k=2 semiring SSSP)
# ---------------------------------------------------------------------------

_K2_SENTINEL = 1 << 60


def _two_shortest_oracle(rounds: int = 6) -> str:
    ctes = [
        "uew AS MATERIALIZED (SELECT src, dst, wgt FROM user_edges)",
        f"s0 AS (SELECT (SELECT MIN(src) FROM uew) AS id,"
        f" CAST(0 AS BIGINT) AS d1, CAST({_K2_SENTINEL} AS BIGINT) AS d2)",
    ]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(
            f"""cand{i} AS MATERIALIZED (
  SELECT DISTINCT id, d FROM (
    SELECT id, d1 AS d FROM s{p}
    UNION ALL
    SELECT id, d2 FROM s{p} WHERE d2 < {_K2_SENTINEL}
    UNION ALL
    SELECT e.dst, s.d1 + e.wgt FROM uew e JOIN s{p} s ON s.id = e.src
    UNION ALL
    SELECT e.dst, s.d2 + e.wgt FROM uew e JOIN s{p} s
      ON s.id = e.src WHERE s.d2 < {_K2_SENTINEL}
  ))"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
  SELECT b.id, b.d1, COALESCE(x.d2, {_K2_SENTINEL}) AS d2 FROM
    (SELECT id, MIN(d) AS d1 FROM cand{i} GROUP BY id) b
  LEFT JOIN (
    SELECT c.id, MIN(c.d) AS d2 FROM cand{i} c
    JOIN (SELECT id, MIN(d) AS d1 FROM cand{i} GROUP BY id) m
      ON m.id = c.id
    WHERE c.d > m.d1 GROUP BY c.id) x
  ON x.id = b.id)"""
        )
    return oracles.with_user_edges(
        body=f"SELECT id, d1, d2 FROM s{rounds}",
        extra_ctes=",\n".join(ctes),
    )


@register("two_shortest_6round", _two_shortest_oracle(6))
def q_two_shortest_6round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best and second-best distinct route lengths from the min-id
    vertex (k=2 shortest-distance semiring, 6 unrolled rounds) —
    alternate-route robustness over co-occurrence weights; see
    :func:`operators.bfs.two_shortest`."""
    from .operators.bfs import two_shortest

    g = datasets.user_graph(spark, sf_dir)
    source = int(g.edges.agg(F.min("src")).collect()[0][0])
    return two_shortest(g.edges, source, rounds=6, sentinel=_K2_SENTINEL)


# ---------------------------------------------------------------------------
# link-prediction holdout evaluation (edge recovery by common neighbors)
# ---------------------------------------------------------------------------

_HOLDOUT_ORACLE = oracles.with_user_edges(
    """
SELECT CAST((SELECT COUNT(*) FROM held) AS BIGINT) AS n_held_out,
       CAST(COUNT(*) FILTER (h.cn > 0) AS BIGINT) AS n_recoverable,
       CAST((1000 * COUNT(*) FILTER (h.cn > 0)) //
            GREATEST((SELECT COUNT(*) FROM held), 1) AS BIGINT)
         AS recovery_milli,
       CAST(MAX(h.cn) AS BIGINT) AS best_cn
FROM (
  SELECT hh.u, hh.v, COALESCE(c.cn, 0) AS cn
  FROM held hh LEFT JOIN (
    SELECT a.src AS u, b.src AS v, COUNT(*) AS cn
    FROM kept a JOIN kept b ON a.dst = b.dst AND a.src < b.src
    GROUP BY 1, 2) c
  ON c.u = hh.u AND c.v = hh.v) h
""",
    extra_ctes="""
uel AS MATERIALIZED (SELECT DISTINCT src, dst FROM user_edges),
held_c AS MATERIALIZED (
  SELECT src AS u, dst AS v FROM uel
  WHERE src < dst
    AND ('0x' || substr(md5('hold|' || src::VARCHAR || '|' || dst::VARCHAR),
         1, 8))::BIGINT % 10 = 0
),
held AS (SELECT u, v FROM held_c),
kept AS MATERIALIZED (
  SELECT e.src, e.dst FROM uel e
  WHERE NOT EXISTS (SELECT 1 FROM held_c h
                    WHERE (h.u = e.src AND h.v = e.dst)
                       OR (h.u = e.dst AND h.v = e.src))
)
""",
)


@register("linkpred_holdout_eval", _HOLDOUT_ORACLE)
def q_linkpred_holdout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The graph-ML evaluation loop: hold out a deterministic 10% of
    edges, score each held-out pair by common neighbors in the
    RETAINED graph, report the recoverable fraction — the sanity
    number behind every link-prediction benchmark (training-signal
    leakage shows up here first).  Same wedge plan as Adamic-Adar,
    restricted to the holdout via one join."""
    from .hashutil import hash_mod

    g = datasets.user_graph(spark, sf_dir)
    uel = g.edges.select("src", "dst").distinct().localCheckpoint()
    canon = uel.filter(F.col("src") < F.col("dst"))
    held = canon.filter(
        hash_mod("hold", [F.col("src"), F.col("dst")], F.lit(10)) == 0
    ).select(F.col("src").alias("u"), F.col("dst").alias("v")).localCheckpoint()
    held_sym = held.unionAll(
        held.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("src"), F.col("v").alias("dst"))
    kept = uel.join(held_sym, ["src", "dst"], "left_anti").localCheckpoint()
    a = kept.alias("a")
    b = kept.alias("b")
    cn = (
        a.join(b, (F.col("a.dst") == F.col("b.dst")) & (F.col("a.src") < F.col("b.src")))
        .groupBy(F.col("a.src").alias("u"), F.col("b.src").alias("v"))
        .agg(F.count("*").alias("cn"))
    )
    scored = held.join(cn, ["u", "v"], "left").select(
        F.coalesce("cn", F.lit(0)).alias("cn")
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_held_out"),
        F.sum((F.col("cn") > 0).cast("long")).cast("long").alias("n_recoverable"),
        F.expr(
            "(1000 * sum(cast(cn > 0 as long))) div greatest(count(*), 1)"
        )
        .cast("long")
        .alias("recovery_milli"),
        F.max("cn").cast("long").alias("best_cn"),
    )


# ---------------------------------------------------------------------------
# Directed PageRank with dangling-mass redistribution (5 rounds)
# ---------------------------------------------------------------------------


def _dpr_oracle(iters: int = 5) -> str:
    ctes = [
        "dverts2 AS MATERIALIZED (SELECT DISTINCT v AS id FROM"
        " (SELECT src AS v FROM dedges UNION ALL SELECT dst FROM dedges))",
        "odeg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS od FROM dedges GROUP BY src)",
        "nv2 AS (SELECT COUNT(*) AS n FROM dverts2)",
        """dp0 AS (SELECT v.id, 1e0 / (SELECT n FROM nv2) AS pr,
                  COALESCE(o.od, 0) AS od
           FROM dverts2 v LEFT JOIN odeg o ON o.id = v.id)""",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""dang{i} AS (SELECT SUM(pr) AS d FROM dp{p} WHERE od = 0)"""
        )
        ctes.append(
            f"""dp{i} AS MATERIALIZED (
  SELECT v.id,
         0.15e0 / (SELECT n FROM nv2)
           + 0.85e0 * (COALESCE(m.mass, 0e0)
                       + COALESCE((SELECT d FROM dang{i}), 0e0)
                         / (SELECT n FROM nv2)) AS pr,
         v.od
  FROM dp{p} v LEFT JOIN (
    SELECT e.dst AS id, SUM(p.pr / p.od) AS mass
    FROM dedges e JOIN dp{p} p ON p.id = e.src GROUP BY e.dst
  ) m ON m.id = v.id)"""
        )
    return oracles.with_directed_edges(
        body=f"SELECT id, ROUND(pr, 6) AS pr FROM dp{iters}",
        extra_ctes=",\n".join(ctes),
    )


@register("directed_pagerank_5iter", _dpr_oracle(5))
def q_directed_pagerank_5iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank in its canonical DIRECTED form on the hash-oriented
    graph, including dangling-mass redistribution (sinks' rank
    returns uniformly — the detail web-scale PR cannot skip; the
    undirected kernels never see it because symmetrize kills sinks).
    Per round: one out-degree-divided mass join + one scalar dangling
    aggregate folded into the teleport term."""
    dedges = datasets.directed_user_graph(spark, sf_dir).localCheckpoint()
    verts = (
        dedges.select(F.col("src").alias("id"))
        .unionAll(dedges.select(F.col("dst").alias("id")))
        .distinct()
        .localCheckpoint()
    )
    nv = verts.count()
    odeg = dedges.groupBy(F.col("src").alias("id")).agg(F.count("*").alias("od"))
    st = (
        verts.join(odeg, "id", "left")
        .select(
            "id",
            F.lit(1.0 / nv).alias("pr"),
            F.coalesce("od", F.lit(0)).alias("od"),
        )
        .localCheckpoint()
    )
    for _ in range(5):
        dang = st.filter(F.col("od") == 0).agg(F.sum("pr")).collect()[0][0] or 0.0
        mass = (
            dedges.join(
                st.select(F.col("id").alias("src"), "pr", "od"), "src"
            )
            .select(F.col("dst").alias("id"), (F.col("pr") / F.col("od")).alias("m"))
            .groupBy("id")
            .agg(F.sum("m").alias("mass"))
        )
        st = (
            st.select("id", "od")
            .join(mass, "id", "left")
            .select(
                "id",
                (
                    F.lit(0.15 / nv)
                    + F.lit(0.85)
                    * (F.coalesce("mass", F.lit(0.0)) + F.lit(dang / nv))
                ).alias("pr"),
                "od",
            )
            .localCheckpoint()
        )
    return st.select("id", F.round("pr", 6).alias("pr"))


# ---------------------------------------------------------------------------
# diameter bounds via double sweep
# ---------------------------------------------------------------------------

_DIAM_ORACLE = oracles.with_user_edges(
    """
SELECT (SELECT CAST(MAX(dist) AS BIGINT) FROM d2) AS diameter_lb,
       (SELECT CAST(2 * MAX(dist) AS BIGINT) FROM d1) AS diameter_ub,
       (SELECT u FROM far1) AS sweep_vertex
""",
    extra_ctes="""
b1(id, dist) AS (
  SELECT (SELECT MIN(src) FROM user_edges), 0
  UNION
  SELECT e.dst, b.dist + 1 FROM user_edges e JOIN b1 b ON e.src = b.id
  WHERE b.dist < 32
),
d1 AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM b1 GROUP BY id),
far1 AS (SELECT id AS u FROM d1 ORDER BY dist DESC, id LIMIT 1),
b2(id, dist) AS (
  SELECT (SELECT u FROM far1), 0
  UNION
  SELECT e.dst, b.dist + 1 FROM user_edges e JOIN b2 b ON e.src = b.id
  WHERE b.dist < 32
),
d2 AS MATERIALIZED (SELECT id, MIN(dist) AS dist FROM b2 GROUP BY id)
""",
).replace("WITH ", "WITH RECURSIVE ", 1)


@register("diameter_bounds", _DIAM_ORACLE)
def q_diameter_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diameter bracketing by double sweep (Magnien/Latapy/Habib):
    BFS from the min-id root, re-BFS from the farthest vertex found —
    its eccentricity lower-bounds the diameter while twice the first
    eccentricity upper-bounds it; two BFS runs bracket what an exact
    all-pairs computation would cost |V| runs."""
    from .operators.bfs import bfs

    g = datasets.user_graph(spark, sf_dir)
    e = g.edges.select("src", "dst")
    source = int(e.agg(F.min("src")).collect()[0][0])
    d1 = bfs(e, source, max_depth=32).localCheckpoint()
    far = d1.orderBy(F.desc("dist"), "id").limit(1).collect()[0]
    ecc1 = int(d1.agg(F.max("dist")).collect()[0][0])
    d2 = bfs(e, int(far.id), max_depth=32)
    return d2.agg(
        F.max("dist").cast("long").alias("diameter_lb"),
    ).select(
        "diameter_lb",
        F.lit(2 * ecc1).cast("long").alias("diameter_ub"),
        F.lit(int(far.id)).cast("long").alias("sweep_vertex"),
    )


# ---------------------------------------------------------------------------
# greedy dominating set (closed-neighborhood cover, 5 rounds)
# ---------------------------------------------------------------------------


def _domset_oracle(rounds: int = 5) -> str:
    ctes = [
        """nbhd AS MATERIALIZED (
  SELECT src AS s, dst AS p FROM user_edges
  UNION
  SELECT DISTINCT src, src FROM user_edges)""",
        "du0 AS (SELECT DISTINCT p FROM nbhd)",
    ]
    for r in range(1, rounds + 1):
        pr = r - 1
        ctes.append(
            f"""dpick{r} AS MATERIALIZED (
  SELECT s, CAST(n AS BIGINT) AS gain, {r} AS round FROM (
    SELECT c.s, COUNT(*) AS n,
           ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, c.s) AS rn
    FROM nbhd c SEMI JOIN du{pr} u ON c.p = u.p
    GROUP BY c.s)
  WHERE rn = 1)"""
        )
        ctes.append(
            f"""du{r} AS MATERIALIZED (
  SELECT u.p FROM du{pr} u
  WHERE NOT EXISTS (SELECT 1 FROM nbhd c JOIN dpick{r} k ON c.s = k.s
                    WHERE c.p = u.p))"""
        )
    picks = " UNION ALL ".join(
        f"SELECT s, gain, CAST(round AS BIGINT) AS round FROM dpick{r}"
        for r in range(1, rounds + 1)
    )
    return oracles.with_user_edges(picks, extra_ctes=",\n".join(ctes))


@register("dominating_set_5round", _domset_oracle(5))
def q_dominating_set_5round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy dominating set: repeatedly pick the vertex whose CLOSED
    neighborhood covers the most still-uncovered vertices (ties to
    the smallest id) — sensor/monitor placement, the graph instance
    of the set-cover greedy; rounds go empty once everything is
    dominated."""
    g = datasets.user_graph(spark, sf_dir)
    nbhd = (
        g.edges.select(F.col("src").alias("s"), F.col("dst").alias("p"))
        .unionAll(
            g.edges.select(F.col("src").alias("s"), F.col("src").alias("p"))
        )
        .distinct()
        .localCheckpoint()
    )
    un = nbhd.select("p").distinct().localCheckpoint()
    picks = []
    # one scalar top-1 collect per round (TakeOrderedAndProject, a
    # 1-row driver fetch, not a data collect); the ROUND COUNT is the
    # scale knob — cost is rounds × one distributed aggregate
    for r in range(1, 6):
        gains = (
            nbhd.join(un, "p", "semi")
            .groupBy("s")
            .agg(F.count("*").cast("long").alias("gain"))
        )
        top = gains.orderBy(F.desc("gain"), "s").limit(1).collect()
        if not top:
            break
        best = top[0]
        picks.append((int(best.s), int(best.gain), r))
        covered = nbhd.filter(F.col("s") == int(best.s)).select("p")
        un = un.join(covered, "p", "left_anti").localCheckpoint()
    return spark.createDataFrame(picks, "s long, gain long, round long")


# ---------------------------------------------------------------------------
# Doulion: triangle count estimation by edge sampling (p = 1/4)
# ---------------------------------------------------------------------------

_DOULION_ORACLE = oracles.with_user_edges(
    """
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sampled_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM stri) AS sample_triangles,
       (SELECT CAST(64 * COUNT(*) AS BIGINT) FROM stri) AS est_triangles,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ftri) AS exact_triangles
""",
    extra_ctes="""
canon AS MATERIALIZED (SELECT DISTINCT src AS u, dst AS v FROM user_edges WHERE src < dst),
samp AS MATERIALIZED (
  SELECT u, v FROM canon
  WHERE ('0x' || substr(md5('tri-s|' || u::VARCHAR || '|' || v::VARCHAR),
         1, 8))::BIGINT % 4 = 0
),
stri AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM samp a JOIN samp b ON b.u = a.v
  JOIN samp c ON c.u = a.u AND c.v = b.v
),
ftri AS MATERIALIZED (
  SELECT a.u AS x, a.v AS y, b.v AS z
  FROM canon a JOIN canon b ON b.u = a.v
  JOIN canon c ON c.u = a.u AND c.v = b.v
)
""",
)


@register("triangle_sampling_estimate", _DOULION_ORACLE)
def q_triangle_sampling_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doulion (Tsourakakis et al., KDD'09): keep each edge with
    p = 1/4 (deterministic hash toss), count triangles in the sample,
    scale by 1/p³ = 64 — the sampling estimator that trades a 16×
    cheaper wedge join for bounded variance; the deterministic toss
    makes even the ESTIMATE hash-checkable, shown beside the exact
    census."""
    from .hashutil import hash_mod

    g = datasets.user_graph(spark, sf_dir)
    canon = (
        g.edges.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    samp = canon.filter(
        hash_mod("tri-s", [F.col("u"), F.col("v")], F.lit(4)) == 0
    ).localCheckpoint()

    # triangle counts through the guarded dense-adjacency kernel
    # (round-10): the u<v<w 3-way self-join materializes Σ outdeg²
    # wedge rows on the dense user fixture; exact_triangle_count
    # computes the identical total (dense row sums / 6 under the
    # guard, the oriented enumeration past it)
    from .operators.triangles import exact_triangle_count

    def tri_count(edges):
        return exact_triangle_count(
            edges.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            symmetric=False,
        )

    n_samp = samp.count()
    st = tri_count(samp)
    ft = tri_count(canon)
    return spark.createDataFrame(
        [(n_samp, st, 64 * st, ft)],
        "n_sampled_edges long, sample_triangles long,"
        " est_triangles long, exact_triangles long",
    )


# ---------------------------------------------------------------------------
# partition "performance" metric (correctly-classified vertex pairs)
# ---------------------------------------------------------------------------

_PERF_ORACLE = oracles.with_user_edges(
    """
SELECT nv, m, intra_edges, intra_pairs,
       CAST((nv * (nv - 1)) // 2 - intra_pairs - (m - intra_edges) AS BIGINT)
         AS inter_non_edges,
       CAST((1000 * (intra_edges + (nv * (nv - 1)) // 2 - intra_pairs
                     - (m - intra_edges))) // ((nv * (nv - 1)) // 2) AS BIGINT)
         AS performance_milli
FROM (
  SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM l3) AS nv,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM canon_e) AS m,
         (SELECT CAST(COUNT(*) AS BIGINT)
          FROM canon_e e JOIN l3 a ON a.id = e.u JOIN l3 b ON b.id = e.v
          WHERE a.label = b.label) AS intra_edges,
         -- (c*(c-1))//2 keeps everything BIGINT: DuckDB's / on ints
         -- yields DOUBLE, and // on a DOUBLE does NOT floor (the
         -- following CAST would then ROUND)
         (SELECT CAST(SUM((c * (c - 1)) // 2) AS BIGINT)
          FROM (SELECT label, COUNT(*) AS c FROM l3 GROUP BY label))
           AS intra_pairs
)
""",
    extra_ctes=_lpa_ctes(3)
    + """,
canon_e AS MATERIALIZED (
  SELECT DISTINCT src AS u, dst AS v FROM user_edges WHERE src < dst)
""",
)


@register("partition_performance", _PERF_ORACLE)
def q_partition_performance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'performance' clustering metric (Fortunato §3): fraction of
    vertex pairs classified correctly — intra-community edges plus
    inter-community NON-edges over all pairs, computed in closed form
    from edge/size counts (never materializing the pair space).
    Complements the edge-cut view (``partition_quality``) with the
    null-aware one."""
    from .operators.labelprop import label_propagation

    g = datasets.user_graph(spark, sf_dir)
    labels = label_propagation(g.edges, rounds=3).localCheckpoint()
    nv = labels.count()
    canon = (
        g.edges.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    m = canon.count()
    la = labels.select(F.col("id").alias("u"), F.col("label").alias("la"))
    lb = labels.select(F.col("id").alias("v"), F.col("label").alias("lb"))
    intra_edges = (
        canon.join(la, "u").join(lb, "v").filter(F.col("la") == F.col("lb")).count()
    )
    intra_pairs = (
        labels.groupBy("label")
        .agg(F.count("*").alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).cast("long"))
        .collect()[0][0]
    )
    pairs = nv * (nv - 1) // 2
    inter_non = pairs - intra_pairs - (m - intra_edges)
    return labels.sparkSession.createDataFrame(
        [
            (
                nv,
                m,
                intra_edges,
                int(intra_pairs),
                int(inter_non),
                (1000 * (intra_edges + inter_non)) // pairs,
            )
        ],
        "nv long, m long, intra_edges long, intra_pairs long,"
        " inter_non_edges long, performance_milli long",
    )


# ---------------------------------------------------------------------------
# k-core edge spectrum (edges classified by min endpoint coreness)
# ---------------------------------------------------------------------------


def _core_spectrum_oracle() -> str:
    inner = _core_numbers_oracle(8)
    return oracles.with_user_edges(
        """
SELECT CAST(LEAST(a.core, b.core) AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_edges
FROM spec_canon e JOIN spec_cores a ON a.id = e.u
JOIN spec_cores b ON b.id = e.v
GROUP BY 1
""",
        extra_ctes=f"""
spec_cores AS MATERIALIZED (SELECT * FROM ({inner})),
spec_canon AS MATERIALIZED (
  SELECT DISTINCT src AS u, dst AS v FROM user_edges WHERE src < dst)
""",
    )


@register("core_edge_spectrum", _core_spectrum_oracle())
def q_core_edge_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core-periphery edge spectrum: every edge classified by the
    minimum coreness of its endpoints (8-round h-index cores) — the
    histogram that separates a graph's dense nucleus from its fringe
    (robustness and seed-selection signal)."""
    from .operators.kcore import core_numbers

    g = datasets.user_graph(spark, sf_dir)
    cores = core_numbers(g.edges, max_rounds=8).localCheckpoint()
    canon = (
        g.edges.filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
    )
    ca = cores.select(F.col("id").alias("u"), F.col("core").alias("cu"))
    cb = cores.select(F.col("id").alias("v"), F.col("core").alias("cv"))
    return (
        canon.join(ca, "u")
        .join(cb, "v")
        .groupBy(F.least("cu", "cv").cast("long").alias("k"))
        .agg(F.count("*").cast("long").alias("n_edges"))
    )


# ---------------------------------------------------------------------------
# Borůvka minimum spanning forest (bounded rounds, exact oracle)
# ---------------------------------------------------------------------------


from .operators.mst import msf_oracle_sql as _msf_oracle_sql  # noqa: E402


@register(
    "boruvka_msf_6round",
    oracles.with_user_edges(
        "SELECT u, v, w, round FROM msf_result",
        extra_ctes=_msf_oracle_sql("user_edges", 6),
    ).replace("WITH ", "WITH RECURSIVE ", 1),
)
def q_boruvka_msf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the weighted user graph in 6
    Borůvka rounds — (w, u, v)-deterministic edge choice, recursive
    label contraction mirrored exactly by the DuckDB oracle."""
    from .operators.mst import boruvka_msf

    g = datasets.user_graph(spark, sf_dir)
    return boruvka_msf(g.edges, rounds=6)


# ---------------------------------------------------------------------------
# Eigenvector centrality (weighted power iteration, max-normalized)
# ---------------------------------------------------------------------------


def _eigenvector_oracle(iters: int = 5) -> str:
    ctes = [
        "everts AS MATERIALIZED (SELECT DISTINCT src AS id FROM user_edges)",
        "eig0 AS (SELECT id, 1e0 AS x FROM everts)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""eraw{i} AS MATERIALIZED (
  SELECT v.id, COALESCE(s.t, 0e0) AS x FROM everts v LEFT JOIN (
    SELECT e.dst AS id, SUM(e.wgt * r.x) AS t
    FROM user_edges e JOIN eig{p} r ON r.id = e.src GROUP BY e.dst) s
  ON s.id = v.id)"""
        )
        ctes.append(
            f"""eig{i} AS MATERIALIZED (
  SELECT id, x / (SELECT MAX(x) FROM eraw{i}) AS x FROM eraw{i})"""
        )
    return oracles.with_user_edges(
        body=f"SELECT id, ROUND(x, 6) AS eig FROM eig{iters}",
        extra_ctes=",\n".join(ctes),
    )


@register("eigenvector_5iter", _eigenvector_oracle(5))
def q_eigenvector_5iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the weighted user graph: 5 rounds of
    x := A·x (weight-scaled neighbor sum), max-normalized per round
    (order-independent normalizer; the SUM last-ulp risk is absorbed
    by ROUND 6, same discipline as the PageRank/HITS oracles).  Per
    round one edge ⋈ state join + one partial aggregation — the
    PageRank shuffle shape on the symmetric edge relation."""
    g = datasets.user_graph(spark, sf_dir)
    e = g.edges.localCheckpoint()
    verts = e.select(F.col("src").alias("id")).distinct().localCheckpoint()
    state = verts.select("id", F.lit(1.0).alias("x"))
    for _ in range(5):
        raw = (
            verts.join(
                e.join(state.select(F.col("id").alias("src"), "x"), "src")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("wgt") * F.col("x")).alias("t")),
                "id",
                "left",
            )
            .select("id", F.coalesce("t", F.lit(0.0)).alias("x"))
            .localCheckpoint()
        )
        xmax = raw.agg(F.max("x")).collect()[0][0]
        state = raw.select("id", (F.col("x") / F.lit(xmax)).alias("x"))
    return state.select("id", F.round("x", 6).alias("eig"))


# ---------------------------------------------------------------------------
# Edge betweenness (Girvan–Newman edge scores, 4 roots)
# ---------------------------------------------------------------------------


def _edge_brandes_oracle(n_roots: int = _N_ROOTS, levels: int = _LEVELS) -> str:
    """Per-edge Brandes dependency sums: the same forward/backward
    unroll as :func:`_brandes_oracle`, but the backward terms are
    collected per DAG edge before the vertex aggregation."""
    # every level CTE is MATERIALIZED: l{i}/v{i}/d{i} chain and are
    # referenced 2-3× each, so DuckDB's default inlining re-expands
    # the whole prefix per reference (the old sf0.1 watchdog
    # timeout), and ``ue`` stops the events self-join from being
    # rebuilt at every level
    ctes = [
        "ue AS MATERIALIZED (SELECT src, dst FROM user_edges)",
        f"roots AS (SELECT src AS root FROM ue GROUP BY src"
        f" ORDER BY src LIMIT {n_roots})",
        "l0 AS (SELECT root, root AS id, 1e0 AS sigma FROM roots)",
        "v0 AS (SELECT root, id FROM l0)",
    ]
    for i in range(1, levels):
        ctes.append(
            f"""l{i} AS MATERIALIZED (
  SELECT f.root, f.id, f.sigma FROM (
    SELECT l.root, e.dst AS id, SUM(l.sigma) AS sigma
    FROM ue e JOIN l{i - 1} l ON e.src = l.id
    GROUP BY l.root, e.dst
  ) f LEFT JOIN v{i - 1} v ON v.root = f.root AND v.id = f.id
  WHERE v.id IS NULL)"""
        )
        ctes.append(
            f"v{i} AS MATERIALIZED (SELECT root, id FROM v{i - 1}"
            f" UNION ALL SELECT root, id FROM l{i})"
        )
    last = levels - 1
    ctes.append(f"d{last} AS (SELECT root, id, sigma, 0e0 AS delta FROM l{last})")
    for i in range(last - 1, -1, -1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
  SELECT p.root, p.id, p.sigma, COALESCE(s.dep, 0e0) AS delta
  FROM l{i} p LEFT JOIN (
    SELECT p2.root, p2.id, SUM(p2.sigma / c.sigma * (1e0 + c.delta)) AS dep
    FROM l{i} p2
    JOIN ue e ON p2.id = e.src
    JOIN d{i + 1} c ON c.root = p2.root AND c.id = e.dst
    GROUP BY p2.root, p2.id
  ) s ON s.root = p.root AND s.id = p.id)"""
        )
    for i in range(0, last):
        ctes.append(
            f"""et{i} AS (
  SELECT LEAST(p2.id, c.id) AS u, GREATEST(p2.id, c.id) AS v,
         p2.sigma / c.sigma * (1e0 + c.delta) AS dep
  FROM l{i} p2
  JOIN user_edges e ON p2.id = e.src
  JOIN d{i + 1} c ON c.root = p2.root AND c.id = e.dst)"""
        )
    union = "\n  UNION ALL\n  ".join(
        f"SELECT u, v, dep FROM et{i}" for i in range(0, last)
    )
    body = f"""
SELECT u, v, ROUND(SUM(dep), 6) AS bc FROM (
  {union}
) GROUP BY u, v
"""
    return oracles.with_user_edges(body, extra_ctes=",\n".join(ctes))


@register("edge_betweenness_4roots", _edge_brandes_oracle())
def q_edge_betweenness_4roots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Girvan–Newman edge betweenness from the 4 smallest user ids —
    the edge-removal score of divisive community detection, computed
    with the all-roots-in-one-state Brandes sweep (see
    :func:`~graphdb_testing_spark.operators.betweenness.edge_betweenness`)."""
    from .operators.betweenness import edge_betweenness

    g = datasets.user_graph(spark, sf_dir)
    roots = [
        r.id
        for r in g.edges.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(_N_ROOTS)
        .collect()
    ]
    return edge_betweenness(g.edges, roots, max_depth=_LEVELS - 1)


# ---------------------------------------------------------------------------
# Greedy graph coloring (Jones-Plassmann, id priority, bounded rounds)
# ---------------------------------------------------------------------------

from .operators.coloring import greedy_coloring, coloring_oracle_sql  # noqa: E402


@register(
    "greedy_coloring_6round",
    oracles.with_user_edges(
        "SELECT id, color FROM coloring_result",
        extra_ctes="cue AS MATERIALIZED (SELECT src, dst FROM user_edges),\n"
        + coloring_oracle_sql("cue", rounds=6),
    ),
)
def q_greedy_coloring_6round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jones-Plassmann greedy coloring of the user graph, 6 unrolled
    rounds (= the sequential greedy coloring in id order once
    converged; ``-1`` reports unconverged residue honestly).  Each
    round finds the id-minimal independent frontier (the MIS winner
    rule), gathers already-assigned neighbor colors, and takes the
    mex JVM-side via ``aggregate(sort_array(...))`` — no Python in
    the loop, state shrinks geometrically.  Scheduling analog of the
    reference's independent-set-ordered kernels."""
    g = datasets.user_graph(spark, sf_dir)
    return greedy_coloring(g.edges, rounds=6)


# ---------------------------------------------------------------------------
# Spectral bisection (integer deflated power iteration on C·I − L)
# ---------------------------------------------------------------------------

from .operators.spectral import spectral_bisection, spectral_oracle_sql  # noqa: E402


@register(
    "spectral_bisection_6round",
    oracles.with_user_edges(
        "SELECT id, side, v FROM spectral_result",
        extra_ctes="sue AS MATERIALIZED (SELECT src, dst FROM user_edges),\n"
        + spectral_oracle_sql("sue", rounds=6),
    ),
)
def q_spectral_bisection_6round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign partition of the user graph from six exact-integer power
    steps on ``C·I − L`` with per-round mean deflation — a
    hash-checkable Fiedler approximation built only from integer
    shuffle sums and power-of-two truncating divisions
    (``operators/spectral.py``).  The spectral companion to the LPA /
    agglomeration partition kernels."""
    g = datasets.user_graph(spark, sf_dir)
    return spectral_bisection(g.edges, rounds=6)


@register(
    "spectral_cut_quality",
    oracles.with_user_edges(
        """
SELECT cut_edges, vol0, vol1,
       CAST(FLOOR(1e6 * (cut_edges / (1e0 * vol0) + cut_edges / (1e0 * vol1)))
            AS BIGINT) AS ncut_micro
FROM (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM sue e
     JOIN spectral_result a ON e.src = a.id
     JOIN spectral_result b ON e.dst = b.id
     WHERE a.side <> b.side) // 2 AS cut_edges,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM sue e
     JOIN spectral_result a ON e.src = a.id WHERE a.side = 0) AS vol0,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM sue e
     JOIN spectral_result a ON e.src = a.id WHERE a.side = 1) AS vol1
)
""",
        extra_ctes="sue AS MATERIALIZED (SELECT src, dst FROM user_edges),\n"
        + spectral_oracle_sql("sue", rounds=6),
    ),
)
def q_spectral_cut_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized-cut value of the spectral bisection — cut size over
    each side's volume (Shi & Malik's ncut, the objective the Fiedler
    split approximates).  One labels⋈edges join on each endpoint,
    exact integer cut/volumes, one float division at the end (micro-
    quantized after identical doubles)."""
    g = datasets.user_graph(spark, sf_dir)
    lab = spectral_bisection(g.edges, rounds=6).select("id", "side").localCheckpoint()
    e = g.edges.select("src", "dst")
    both = (
        e.join(lab.select(F.col("id").alias("src"), F.col("side").alias("sa")), "src")
        .join(lab.select(F.col("id").alias("dst"), F.col("side").alias("sb")), "dst")
    )
    agg = both.agg(
        (F.sum((F.col("sa") != F.col("sb")).cast("long")) / 2)
        .cast("long")
        .alias("cut_edges"),
        F.sum((F.col("sa") == 0).cast("long")).cast("long").alias("vol0"),
        F.sum((F.col("sa") == 1).cast("long")).cast("long").alias("vol1"),
    )
    return agg.select(
        "cut_edges",
        "vol0",
        "vol1",
        F.floor(
            F.lit(1e6)
            * (
                F.col("cut_edges") / F.col("vol0").cast("double")
                + F.col("cut_edges") / F.col("vol1").cast("double")
            )
        )
        .cast("long")
        .alias("ncut_micro"),
    )


# ---------------------------------------------------------------------------
# ANF / HADI: 2-hop neighborhood sizes via per-vertex HLL registers
# ---------------------------------------------------------------------------

from .functions.sketches import (  # noqa: E402
    HLL_ALPHA,
    HLL_M,
    hll_rho,
)


_ANF_ORACLE = oracles.with_user_edges(
    """
SELECT e.id, e.n_ball2_exact, h.est_milli
FROM anf_exact e JOIN anf_hll h USING (id)
""",
    extra_ctes="""aue AS MATERIALIZED (SELECT src, dst FROM user_edges),
averts AS (SELECT DISTINCT src AS id FROM aue),
ar0 AS (
  SELECT id,
         ('0x' || substr(md5('anf|' || CAST(id AS VARCHAR)), 1, 8))::BIGINT % 64
           AS register,
         CAST(27 - (CASE
"""
    + "\n".join(
        f"  WHEN (('0x' || substr(md5('anf|' || CAST(id AS VARCHAR)), 1, 8))::BIGINT // 64) >= {1 << (k - 1)} THEN {k}"
        for k in range(26, 0, -1)
    )
    + """
  ELSE 0 END) AS BIGINT) AS max_rho
  FROM averts
),
ar1 AS (
  SELECT id, register, MAX(max_rho) AS max_rho FROM (
    SELECT e.src AS id, r.register, r.max_rho FROM aue e JOIN ar0 r ON r.id = e.dst
    UNION ALL SELECT id, register, max_rho FROM ar0
  ) GROUP BY id, register
),
ar2 AS (
  SELECT id, register, MAX(max_rho) AS max_rho FROM (
    SELECT e.src AS id, r.register, r.max_rho FROM aue e JOIN ar1 r ON r.id = e.dst
    UNION ALL SELECT id, register, max_rho FROM ar1
  ) GROUP BY id, register
),
anf_hll AS (
  SELECT id,
         CAST(FLOOR(1000.0 * 0.709 * 4096 /
           ((64 - COUNT(*)) + SUM(POWER(2e0, -max_rho)))) AS BIGINT) AS est_milli
  FROM ar2 GROUP BY id
),
anf_exact AS (
  SELECT v.id, CAST(COUNT(DISTINCT b.ball) AS BIGINT) AS n_ball2_exact
  FROM averts v JOIN (
    SELECT a.src AS id, b.dst AS ball FROM aue a JOIN aue b ON a.dst = b.src
    UNION SELECT src AS id, dst AS ball FROM aue
    UNION SELECT src AS id, src AS ball FROM aue
  ) b ON b.id = v.id
  GROUP BY v.id
)""",
)


@register("anf_2hop_sizes", _ANF_ORACLE)
def q_anf_2hop_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF/HADI neighborhood function (Palmer et al., KDD'02; Kang et
    al., ICDM'08): per-vertex radius-2 ball size, estimated by 2
    rounds of register-wise-max message passing over per-vertex HLL
    sketches, next to the exact 2-hop count.  Register state is
    64 longs per vertex and merging is MAX — associative,
    order-independent, and exactly the shape that scales to
    billion-edge diameters where exact per-vertex balls cannot.  The
    estimate arithmetic is the dyadic-exact HLL formula (sums of
    2^-rho are exact doubles), so the whole query hash-matches.

    Cost note: ``n_ball2_exact`` (the ground-truth column) is the
    expensive side — it materializes every radius-2 pair, which is
    precisely what the sketch exists to avoid; at 100 TB you ship
    ONLY the register rounds and drop the exact column (58s of this
    query's 60s at sf0.1 is the ground truth, 2s is the sketch)."""
    g = datasets.user_graph(spark, sf_dir)
    e = g.edges.select("src", "dst").localCheckpoint()
    verts = e.select(F.col("src").alias("id")).distinct()
    reg, rho = hll_rho(F.col("id"), salt="anf")
    # register state as ONE 64-slot array row per vertex instead of 64
    # (id, register, max_rho) rows: each message-passing round then
    # joins |E| rows instead of 64·|E| (measured 50M -> 0.8M shuffled
    # rows per round at sf0.1).  Slot value 0 = empty register, which
    # contributes 2^-0 = 1 to the estimate denominator — exactly the
    # (m - n_regs) term of hll_estimate, so the arithmetic is
    # unchanged: every 2^-rho is a dyadic rational ≥ 2^-27 and the
    # 64-term sum is exact in a double regardless of order.
    r = verts.select(
        "id", reg.alias("reg"), rho.alias("rho")
    ).select(
        "id",
        F.expr(
            "transform(sequence(0, 63),"
            " j -> IF(j = CAST(reg AS INT), rho, CAST(0 AS BIGINT)))"
        ).alias("regs"),
    )
    slot_max = [
        F.max(F.element_at("regs", j + 1)).alias(f"m{j}") for j in range(64)
    ]
    for _ in range(2):
        nbr = e.join(
            r.select(F.col("id").alias("dst"), "regs"), "dst"
        ).select(F.col("src").alias("id"), "regs")
        r = (
            nbr.unionByName(r.select("id", "regs"))
            .groupBy("id")
            .agg(*slot_max)
            .select(
                "id",
                F.array(*[F.col(f"m{j}") for j in range(64)]).alias("regs"),
            )
            .localCheckpoint()
        )
    s = F.aggregate(
        "regs",
        F.lit(0.0),
        lambda acc, x: acc + F.pow(F.lit(2.0), -x.cast("double")),
    )
    est = r.select(
        "id",
        F.floor(
            F.lit(1000.0) * F.lit(HLL_ALPHA) * F.lit(float(HLL_M * HLL_M)) / s
        )
        .cast("long")
        .alias("est_milli"),
    )
    # exact ground-truth column: guarded dense-adjacency path
    # (operators/densegraph.py) replaces materializing every radius-2
    # pair (the measured 58-of-60s side) with one blocked product of
    # the closed adjacency; identical counts, wedge join past the guard
    from .operators.densegraph import dense_ctx, dense_two_hop_sizes

    ctx = dense_ctx(e, symmetric=True)
    if ctx is not None:
        two_hop = dense_two_hop_sizes(ctx)
    else:
        two_hop = (
            e.alias("a")
            .join(e.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("id"), F.col("b.dst").alias("ball"))
            .unionByName(
                e.select(F.col("src").alias("id"), F.col("dst").alias("ball"))
            )
            .unionByName(
                e.select(F.col("src").alias("id"), F.col("src").alias("ball"))
            )
            .distinct()
            .groupBy("id")
            .agg(F.count("*").cast("long").alias("n_ball2_exact"))
        )
    return two_hop.join(est, "id").select("id", "n_ball2_exact", "est_milli")


# ---------------------------------------------------------------------------
# Directed reciprocity of the temporal-precedence interaction graph
# ---------------------------------------------------------------------------

_RECIP_ORACLE = """
WITH rfirst AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, user_id,
         MIN(ROW(epoch_us(ts), event_id)) AS first_key
  FROM events GROUP BY 1, 2, 3
),
redges AS (
  SELECT DISTINCT a.user_id AS src, b.user_id AS dst
  FROM rfirst a JOIN rfirst b
    ON a.event_type = b.event_type AND a.hour = b.hour
   AND a.user_id <> b.user_id AND a.first_key < b.first_key
),
rstats AS (
  SELECT (SELECT COUNT(*) FROM redges) AS n_edges,
         (SELECT COUNT(*) FROM redges e
          SEMI JOIN redges r ON r.src = e.dst AND r.dst = e.src) AS n_recip
)
SELECT CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_recip AS BIGINT) AS n_reciprocal,
       CAST(FLOOR(1e6 * n_recip / n_edges) AS BIGINT) AS reciprocity_ppm
FROM rstats
"""


@register("graph_reciprocity", _RECIP_ORACLE)
def q_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the temporal-precedence interaction graph: u→v
    when u's earliest event precedes v's inside a shared
    (event_type, hour) bucket — pairs meeting repeatedly in both
    orders create reciprocal edges, the directed-graph health metric
    (Newman) the single-orientation SCC fixture can't express.
    One bucket self-join builds the edges; reciprocity is a semi-join
    against the transpose."""
    ev = datasets.load_table(spark, sf_dir, "events")
    first = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour"), "user_id"
    ).agg(F.min(F.struct(F.unix_micros("ts").alias("us"), "event_id")).alias("fk"))
    a = first.alias("a")
    b = first.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.hour") == F.col("b.hour"))
            & (F.col("a.user_id") != F.col("b.user_id"))
            & (F.col("a.fk") < F.col("b.fk")),
        )
        .select(F.col("a.user_id").alias("src"), F.col("b.user_id").alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    recip = edges.join(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        ["src", "dst"],
        "left_semi",
    )
    return recip.agg(F.count("*").alias("nr")).select(
        F.lit(n_edges).cast("long").alias("n_edges"),
        F.col("nr").cast("long").alias("n_reciprocal"),
        F.floor(F.lit(1e6) * F.col("nr") / F.lit(n_edges)).cast("long").alias(
            "reciprocity_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Deferred acceptance (Gale-Shapley) customer-supplier matching
# ---------------------------------------------------------------------------

from .operators.deferred import (  # noqa: E402
    deferred_acceptance,
    deferred_acceptance_oracle_sql,
)


@register(
    "deferred_acceptance_4round",
    "WITH dap AS (SELECT c_custkey AS c FROM customer),\n"
    "daa AS (SELECT s_suppkey AS s FROM supplier),\n"
    + deferred_acceptance_oracle_sql("dap", "daa", rounds=4, k=4)
    + "\nSELECT c, matched_s, n_proposals FROM da_result",
)
def q_deferred_acceptance_4round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gale-Shapley deferred acceptance between customers (proposers)
    and suppliers (one seat each), 4 synchronized rounds over
    hash-scored top-4 preference lists — the allocation/matching
    primitive behind ad auctions, shard placement, and school-choice
    style assignment, expressed as per-round joins + per-acceptor min
    (``operators/deferred.py``).  Unmatched proposers report ``-1``
    plus how many proposals they spent."""
    cust = datasets.load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("c")
    )
    sup = datasets.load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("s")
    )
    return deferred_acceptance(cust, sup, rounds=4, k=4)


# ---------------------------------------------------------------------------
# Global path-motif census: 2-paths and 3-paths via degree identities
# ---------------------------------------------------------------------------

_PATH3_ORACLE = oracles.with_user_edges(
    """
SELECT n_edges, n_p2, n_p3_raw - 3 * n_tri AS n_p3
FROM (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM p3e) AS n_edges,
    (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM p3d) AS n_p2,
    (SELECT CAST(SUM((da.d - 1) * (db.d - 1)) AS BIGINT)
     FROM p3e e JOIN p3d da ON da.id = e.src JOIN p3d db ON db.id = e.dst)
      AS n_p3_raw,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM (
       SELECT 1 FROM p3c ab JOIN p3c bc ON ab.dst = bc.src AND ab.src < bc.src
       JOIN p3c ac ON ac.src = ab.src AND ac.dst = bc.dst AND bc.src < bc.dst))
      AS n_tri
)
""",
    extra_ctes="""p3c AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM user_edges WHERE src < dst
),
p3e AS (SELECT src, dst FROM p3c),
p3d AS (
  SELECT src AS id, COUNT(*) AS d FROM (
    SELECT src, dst FROM p3c UNION ALL SELECT dst, src FROM p3c
  ) GROUP BY src
)""",
)


@register("path_motif_census", _PATH3_ORACLE)
def q_path_motif_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global path-motif counts from exact combinatorial identities:
    2-paths = Σ d(d−1)/2, 3-paths = Σ_{(u,v)∈E}(d_u−1)(d_v−1) − 3·T
    (each triangle is counted by all three of its edges but is not a
    path).  Degrees and the triangle count reuse the oriented
    enumeration; no path materialization at any scale — the same
    closed-form discipline as ``butterfly_count``."""
    g = datasets.user_graph(spark, sf_dir)
    canon = (
        g.edges.filter(F.col("src") < F.col("dst")).select("src", "dst").distinct()
        .localCheckpoint()
    )
    deg = (
        canon.select("src", "dst")
        .unionAll(canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .groupBy(F.col("src").alias("id"))
        .agg(F.count("*").alias("d"))
    )
    n_edges = canon.count()
    p2 = deg.agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_p2")
    )
    da = deg.select(F.col("id").alias("src"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("dst"), F.col("d").alias("db"))
    p3raw = (
        canon.join(da, "src")
        .join(db, "dst")
        .agg(
            F.sum((F.col("da") - 1) * (F.col("db") - 1)).cast("long").alias("n_p3_raw")
        )
    )
    from .operators.triangles import exact_triangle_count

    n_tri = exact_triangle_count(g.edges)
    return (
        p2.crossJoin(p3raw)
        .select(
            F.lit(n_edges).cast("long").alias("n_edges"),
            "n_p2",
            (F.col("n_p3_raw") - 3 * F.lit(n_tri)).cast("long").alias("n_p3"),
        )
    )


# ---------------------------------------------------------------------------
# Degree-dependent clustering curve c(k) (log-degree buckets)
# ---------------------------------------------------------------------------

from .functions.sketches import _bit_len as _ck_bit_len  # noqa: E402
from .functions.sketches import _bit_len_sql as _ck_bit_len_sql  # noqa: E402

_CK_ORACLE = oracles.with_user_edges(
    body=f"""
SELECT CAST({_ck_bit_len_sql("a.degree")} AS BIGINT) AS degree_bits,
       CAST(COUNT(*) AS BIGINT) AS n_vertices,
       CAST(MIN(a.degree) AS BIGINT) AS min_degree,
       CAST(MAX(a.degree) AS BIGINT) AS max_degree,
       CAST(SUM(CASE WHEN a.degree >= 2 THEN
         CAST(FLOOR(1e6 * COALESCE(2 * t.n, 0)
                    / (1e0 * a.degree * (a.degree - 1))) AS BIGINT)
         ELSE 0 END) AS BIGINT) AS sum_cc_micro
FROM (SELECT src AS id, COUNT(*) AS degree FROM user_edges GROUP BY src) a
LEFT JOIN (
  SELECT id, COUNT(*) AS n FROM (
    SELECT e1.src AS id FROM ckc e1 JOIN ckc e2 ON e1.dst = e2.src
                        JOIN ckc e3 ON e1.src = e3.src AND e2.dst = e3.dst
    UNION ALL
    SELECT e1.dst FROM ckc e1 JOIN ckc e2 ON e1.dst = e2.src
                  JOIN ckc e3 ON e1.src = e3.src AND e2.dst = e3.dst
    UNION ALL
    SELECT e2.dst FROM ckc e1 JOIN ckc e2 ON e1.dst = e2.src
                  JOIN ckc e3 ON e1.src = e3.src AND e2.dst = e3.dst
  ) GROUP BY id
) t ON a.id = t.id
GROUP BY 1
""",
    extra_ctes="ckc AS (SELECT DISTINCT src, dst FROM user_edges WHERE src < dst)",
)


@register("clustering_by_degree", _CK_ORACLE)
def q_clustering_by_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The c(k) curve: mean local clustering per log-degree bucket
    (bit-length buckets, the ``interevent_gaps`` ladder) — falling
    c(k) with degree is the hierarchical-structure signature
    (Ravasz-Barabási).  Per-vertex cc micro-quantizes from exact
    integers before the bucket sum, so the curve is hash-exact;
    downstream mean = sum_cc_micro / n_vertices."""
    from .operators.triangles import clustering_coefficients

    g = datasets.user_graph(spark, sf_dir)
    cc = clustering_coefficients(g.edges)
    per = cc.select(
        _ck_bit_len(F.col("degree")).cast("long").alias("degree_bits"),
        "degree",
        F.when(
            F.col("degree") >= 2,
            F.floor(
                F.lit(1e6)
                * F.col("ntri")
                / (F.col("degree").cast("double") * (F.col("degree") - 1))
            ).cast("long"),
        )
        .otherwise(F.lit(0))
        .alias("cc_micro"),
    )
    return per.groupBy("degree_bits").agg(
        F.count("*").cast("long").alias("n_vertices"),
        F.min("degree").cast("long").alias("min_degree"),
        F.max("degree").cast("long").alias("max_degree"),
        F.sum("cc_micro").cast("long").alias("sum_cc_micro"),
    )
