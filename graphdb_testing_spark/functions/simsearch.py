"""Similarity search over embedding columns (``array<float>``).

Brute-force cosine top-k is the exact baseline (one broadcast join,
JVM-side ``aggregate``/``zip_with`` arithmetic — no Python in the hot
path).  The scale paths are sign-bucket IVF and random-hyperplane LSH:
both turn the all-pairs scan into an equi-join on a coarse bucket id,
trading recall for a shuffle-bounded plan.  At 100 TB the bucketed
variants are the only viable shape; the brute-force baseline stays
broadcastable as long as the query set is small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> "F.Column":
    """Left-to-right fold dot product with element-wise DOUBLE cast —
    deterministic order, lockstep with the SQL oracle."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _pair_sim(a_vec: str, b_vec: str, a_norm: str, b_norm: str) -> "F.Column":
    """Rounded cosine between paired vectors with a zero-norm guard —
    the ONE statement of pair-similarity semantics shared by the
    top-k scorer and every near-duplicate variant (exact, bucketed,
    SemDeDup), so a rounding or degenerate-vector change lands in all
    of them at once."""
    den = F.col(a_norm) * F.col(b_norm)
    return F.round(
        F.when(den > 0, _dot(a_vec, b_vec) / den).otherwise(F.lit(0.0)), 6
    )


def with_norm(embeddings: DataFrame, vec_col: str = "embedding") -> DataFrame:
    return embeddings.withColumn(
        "_norm",
        F.sqrt(
            F.expr(
                f"aggregate({vec_col}, CAST(0 AS DOUBLE),"
                " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
            )
        ),
    )


#: shard count for the two-phase top-k: per-(query, shard) local
#: top-k first, then a global pass over the ≤ shards·k survivors.
_TOPK_SHARDS = 32


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k per ``query_id`` over ``(query_id, vec_id, sim)``
    WITHOUT a per-query megapartition.

    A single ``Window.partitionBy(query_id)`` funnels every scored
    candidate of a query into ONE task — with a 100-query batch over
    a 5M-vector corpus that is 5M rows sorted per task, the window
    skew that kills brute-force scoring at scale.  Instead: phase 1
    takes a local top-k inside each ``(query_id, hash-shard)`` —
    partitions of |candidates|/shards rows — and phase 2 re-ranks the
    ≤ ``shards·k`` survivors per query (hundreds of rows).  Exact,
    because the global top-k is contained in the union of shard
    top-ks, and the (sim desc, vec_id asc) tie-break is total — the
    two-phase plan is row-identical to the one-window plan."""
    shard = F.pmod(F.xxhash64("vec_id"), F.lit(_TOPK_SHARDS))
    w1 = Window.partitionBy("query_id", "_shard").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("_shard", shard)
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "sim")
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``(query_id, vec_id, rank, sim)``; ``sim`` rounded to 6 decimals
    and ranking is on (rounded sim desc, vec_id) so results are
    deterministic and oracle-comparable.  Self-matches excluded.

    **Brute-force baseline**: scores every (query, vector) pair with
    the query side broadcast — exact ground truth for bounded query
    sets (refuses more than :data:`MAX_BRUTE_QUERY_ROWS` queries);
    the scale path for large query sets is :func:`ivf_topk`.
    """
    # bounded guard scan: limit(cap+1) stops at the cap regardless of
    # the input's true size, so the check itself never pays O(n)
    nq = queries.limit(MAX_BRUTE_QUERY_ROWS + 1).count()
    if nq > MAX_BRUTE_QUERY_ROWS:
        raise ValueError(
            f"cosine_topk is a brute-force baseline (> "
            f"{MAX_BRUTE_QUERY_ROWS} queries ⇒ a broadcast that size "
            f"and n·q scoring); use ivf_topk for large query sets"
        )
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.col("_norm").alias("nv"),
    )
    qs = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q"),
        F.col("_norm").alias("nq"),
    )
    sim = _pair_sim("q", "v", "nq", "nv")
    scored = (
        base.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("sim"))
    )
    return _topk_per_query(scored, k)


#: :func:`cosine_topk` broadcasts its query set and scores n·q pairs
#: — exact ground truth for bounded query sets only; past this many
#: queries, refuse and point at :func:`ivf_topk` (same contract
#: discipline as the all-pairs guard below).
MAX_BRUTE_QUERY_ROWS = 100_000


#: :func:`embedding_near_duplicates` is O(n²) by construction — past
#: this row count the pair space exceeds ~10¹⁰ comparisons; refuse
#: and point at the bucketed twin (the ``write_graph_file`` guard
#: discipline: make the exact-baseline contract explicit rather than
#: letting a user launch an accidental quadratic job on big data).
MAX_EXACT_ALLPAIRS_ROWS = 100_000

#: row bound for the single-task exact-all-pairs kernel (n² sims in
#: one task, blocked ≤ 2^22 doubles per block); between this and
#: MAX_EXACT_ALLPAIRS_ROWS the distributed self-join still runs
LOCAL_EXACT_ROWS = 20_000


def embedding_near_duplicates(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine ≥ threshold: ``(a_id, b_id, sim)``.

    **Exact baseline — quadratic by construction** (self-join on
    ``a_id < b_id`` is a cross product with a filter).  Use only as
    ground truth at test scale; refuses inputs past
    :data:`MAX_EXACT_ALLPAIRS_ROWS`.  The scale path is
    :func:`embedding_near_duplicates_bucketed`, whose candidate set
    comes from a sign-bucket equi-join instead.
    """
    n = embeddings.count()
    if n > MAX_EXACT_ALLPAIRS_ROWS:
        raise ValueError(
            f"embedding_near_duplicates is an exact all-pairs baseline "
            f"({n} rows > {MAX_EXACT_ALLPAIRS_ROWS} ⇒ ~{n * (n - 1) // 2:.2g} "
            f"pairs); use embedding_near_duplicates_bucketed at this scale"
        )
    if n <= LOCAL_EXACT_ROWS:
        # guarded single-task fast path (round-10): the a_id < b_id
        # self-join is a nested-loop cross product evaluating a 64-dim
        # aggregate fold per pair (measured ~36 s for 2M pairs at
        # sf0.1).  The kernel reproduces the JVM arithmetic EXACTLY:
        # dot/norm accumulate dimension-by-dimension in the same
        # sequential fold order (rank-1 updates, identical IEEE adds),
        # and rounding is BigDecimal HALF_UP via decimal.Decimal on
        # the near-threshold band only.
        def run(batches):
            import numpy as np
            import pandas as pd
            from decimal import ROUND_HALF_UP, Decimal

            ids_l: list = []
            vecs_l: list = []
            for pdf in batches:
                ids_l.append(pdf[id_col].to_numpy(dtype=np.int64))
                vecs_l.append(np.stack(pdf[vec_col].to_numpy()))
            if not ids_l:
                yield pd.DataFrame(
                    {"a_id": [], "b_id": [], "sim": []}
                ).astype({"a_id": "int64", "b_id": "int64", "sim": "float64"})
                return
            ids = np.concatenate(ids_l)
            mat = np.concatenate(vecs_l).astype(np.float64)
            order = np.argsort(ids, kind="stable")
            ids, mat = ids[order], mat[order]
            m, dims = mat.shape
            acc = np.zeros(m, dtype=np.float64)
            for d in range(dims):  # same sequential fold as aggregate()
                acc = acc + mat[:, d] * mat[:, d]
            nrm = np.sqrt(acc)
            six = Decimal("1E-6")
            out_a: list = []
            out_b: list = []
            out_s: list = []
            step = max(1, (1 << 22) // max(m, 1))
            for lo in range(0, m, step):
                hi = min(lo + step, m)
                dot = np.zeros((hi - lo, m), dtype=np.float64)
                for d in range(dims):
                    dot = dot + mat[lo:hi, d, None] * mat[None, :, d]
                den = nrm[lo:hi, None] * nrm[None, :]
                raw = np.where(den > 0, dot / np.where(den > 0, den, 1.0), 0.0)
                ai, bi = np.nonzero(raw >= threshold - 2e-6)
                keep = (lo + ai) < bi  # a_id < b_id on id-sorted rows
                for i, j in zip(ai[keep], bi[keep]):
                    # round from the shortest round-trip decimal repr,
                    # not the double's exact binary expansion: the JVM
                    # path (F.round → BigDecimal.valueOf(double) →
                    # Double.toString) quantizes the SHORTEST repr, so
                    # a sim whose shortest repr ends in '5' at the 7th
                    # decimal but whose binary value sits just below
                    # (e.g. 0.1234565) must round UP here too
                    # (round-10 ADVICE; parity test in
                    # tests/test_simsearch_round_parity.py)
                    r = float(
                        Decimal(repr(float(raw[i, j]))).quantize(
                            six, rounding=ROUND_HALF_UP
                        )
                    )
                    if r >= threshold:
                        out_a.append(int(ids[lo + i]))
                        out_b.append(int(ids[j]))
                        out_s.append(r)
            yield pd.DataFrame(
                {"a_id": out_a, "b_id": out_b, "sim": out_s}
            ).astype({"a_id": "int64", "b_id": "int64", "sim": "float64"})

        return (
            embeddings.select(id_col, vec_col)
            .coalesce(1)
            .mapInPandas(run, "a_id long, b_id long, sim double")
        )
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), F.col("_norm").alias("n")
    ).localCheckpoint()  # feeds both sides of the self-join
    a = base.select(
        F.col("id").alias("a_id"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = base.select(
        F.col("id").alias("b_id"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    sim = _pair_sim("va", "vb", "na", "nb")
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# bucketed ANN (the scale path)
# ---------------------------------------------------------------------------


def sign_bucket(vec_col: str, dims: int) -> "F.Column":
    """IVF-style coarse bucket: sign bits of the first ``dims``
    components packed into an int."""
    expr = F.lit(0)
    for j in range(dims):
        expr = expr + F.when(
            F.expr(f"element_at({vec_col}, {j + 1})") > 0, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return expr


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bucket_dims: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket (equi-join instead of cross join), then exact cosine rank
    within the bucket.

    ``multiprobe`` additionally probes every Hamming-1 neighbor bucket
    (standard multi-probe LSH: near neighbors that flip one sign bit
    are recovered at the cost of ``bucket_dims``× more candidate
    lookups — still an equi-join, never a cross join).  Recall is
    measured against :func:`cosine_topk` in tests."""
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.col("_norm").alias("nv"),
        sign_bucket(vec_col, bucket_dims).alias("bucket"),
    )
    qs = with_norm(queries, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q"),
        F.col("_norm").alias("nq"),
        sign_bucket(vec_col, bucket_dims).alias("bucket"),
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(bucket_dims)
            ],
        )
        qs = qs.withColumn("bucket", F.explode(probes))
    sim = _pair_sim("q", "v", "nq", "nv")
    scored = (
        base.join(F.broadcast(qs), "bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("sim"))
    )
    return _topk_per_query(scored, k)


def embedding_near_duplicates_bucketed(
    embeddings: DataFrame,
    threshold: float = 0.4,
    bucket_dims: int = 8,
    multiprobe: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs via sign-bucket blocking — the 100 TB
    shape of :func:`embedding_near_duplicates`.

    One side carries its exact bucket; the other explodes to its
    bucket plus every Hamming-1 neighbor (``multiprobe``), so the
    candidate set is an **equi-join on the bucket id** — work is
    Σ|bucket|² over buckets instead of n², and the probe list is a
    fixed ``bucket_dims + 1`` fan-out.  Pairs whose sign patterns on
    the first ``bucket_dims`` components differ in ≥ 2 bits are
    missed — recall against the exact variant is measured in
    ``tests/test_pipeline.py``.  Exact cosine + threshold applied
    within candidates; output matches the exact variant's schema
    ``(a_id, b_id, sim)``.

    Recall is a function of the threshold: a pair at cosine ``t``
    agrees on each sign bit with probability ``1 − acos(t)/π``, so at
    true near-dup thresholds (0.9+ → ~0.90/bit) Hamming-1 blocking
    recovers nearly all pairs, while at weak-similarity thresholds
    (0.4 → ~0.63/bit, measured 22% recall on the near-orthogonal
    driver embeddings) no LSH scheme can block efficiently — that
    regime is a similarity *join*, not dedup, and needs the exact
    variant or an IVF with trained centroids.
    """
    bb = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"),
        sign_bucket(vec_col, bucket_dims).alias("bucket"),
    ).localCheckpoint()  # feeds both sides of the bucket join
    a = bb.select(
        F.col("id").alias("a_id"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
        "bucket",
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << j))
                for j in range(bucket_dims)
            ],
        )
        # probe buckets are pairwise distinct, so a qualifying pair is
        # produced at most once — no dedup pass needed
        a = a.withColumn("bucket", F.explode(probes))
    b = bb.select(
        F.col("id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
        "bucket",
    )
    sim = _pair_sim("va", "vb", "na", "nb")
    return (
        a.join(b, "bucket")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def hyperplane_lsh_signature(
    embeddings: DataFrame,
    num_planes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH signature ``(vec_id, sig)``.

    Plane coefficients are deterministic pseudo-randoms derived from
    md5 of ``(plane, dim)`` — reproducible across engines and runs
    with no driver-side RNG state.
    """
    sig = F.lit(0)
    for p in range(num_planes):
        coeffs = ", ".join(
            f"(CAST(conv(substring(md5('{p}_{d}'), 1, 8), 16, 10) AS BIGINT) % 2001 - 1000)"
            f" / 1000.0"
            for d in range(dim)
        )
        proj = F.expr(
            f"aggregate(zip_with({vec_col}, array({coeffs}),"
            " (x, c) -> CAST(x AS DOUBLE) * c), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        sig = sig + F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
    return embeddings.select(F.col(id_col).alias("vec_id"), sig.alias("sig"))


def derive_semdedup_k(n: int, target_cluster_size: int = 4096) -> int:
    """Cluster count for SemDeDup blocking: ``ceil(n /
    target_cluster_size)``, floored at 8 so tiny corpora still
    block.  Linear in n ⇒ Σ|cluster|² ≈ n·target_cluster_size stays
    linear in the corpus, the SemDeDup paper's operating regime
    (clusters of ~1-10k embeddings)."""
    return max(8, -(-n // target_cluster_size))


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = 4096,
) -> DataFrame:
    """SemDeDup-style near-duplicate pairs: k-means CLUSTER blocking
    (Abbas et al. 2023) — assign every embedding to its nearest of
    ``k`` deterministic centroids (:func:`kmeans_assign` semantics),
    then compare pairs ONLY within a cluster.

    ``(cluster_id, a_id, b_id, sim)`` for within-cluster cosine ≥
    ``threshold``.  Scale shape: the pair space is an equi-join on
    ``cluster_id`` — Σ|cluster|² work instead of n², the same
    blocking contract as the sign-bucket variant but with
    data-adaptive regions (clusters follow the embedding density, so
    semantically-close pairs co-locate even when their leading sign
    bits differ).  Misses only pairs straddling a cluster boundary —
    the documented SemDeDup trade; measure with the recall query.

    **k must scale with n**: with ``k`` fixed, Σ|cluster|² ≈ n²/k —
    a constant-factor discount, not a complexity class.  SemDeDup's
    own regime is clusters of ~1-10k embeddings (the paper uses 11k
    clusters over 100M+ docs).  When ``k`` is None (the default) it
    is derived as ``max(8, ceil(n / target_cluster_size))``, keeping
    per-cluster pair work bounded by ``target_cluster_size²``
    regardless of corpus size; the centroid relation stays
    broadcastable (n/4096 rows × dim floats — ~125 MB at n=10⁹,
    d=64).  Pass an explicit ``k`` only for small, parity-pinned
    inputs (the oracle queries pin k=8 at test SF).
    """
    if k is None:
        k = derive_semdedup_k(embeddings.count(), target_cluster_size)
    asg = kmeans_assign(embeddings, k=k, id_col=id_col, vec_col=vec_col).select(
        "vec_id", "cluster_id"
    )
    base = with_norm(embeddings, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("v"),
        F.col("_norm").alias("n"),
    )
    keyed = base.join(asg, "vec_id").localCheckpoint()
    a = keyed.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("a_id"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = keyed.select(
        F.col("cluster_id"),
        F.col("vec_id").alias("b_id"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    sim = _pair_sim("va", "vb", "na", "nb")
    return (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("cluster_id", "a_id", "b_id", sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def semdedup_retention(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cluster_size: int = 4096,
) -> DataFrame:
    """SemDeDup retention manifest — ``(vec_id, cluster_id,
    cluster_size, keep)`` for EVERY embedding: the per-item keep/drop
    decision table of semantic deduplication (Abbas et al. 2023 keep
    one representative per duplicate group; here the canonical is the
    component min id — the deterministic, oracle-checkable choice).

    Pipeline: cluster-blocked cosine pairs ≥ ``threshold``
    (:func:`semantic_dedup_pairs`) → connected components over the
    symmetrized semantic-duplicate graph (the same pointer-jumping
    kernel as the graph workloads) → canonical min id per component;
    unmatched embeddings are kept singletons.  The ``cluster_id``
    here is the CC label of the duplicate graph, NOT the k-means
    blocking cluster.

    Scale shape mirrors :func:`~graphdb_testing_spark.functions.dedup.
    dedup_retention`: the CC input is only the verified duplicate
    edge set, pair generation is Σ|cluster|²-bounded by the blocking
    contract, and the manifest join is a plain equi-join."""
    from ..operators.components import connected_components

    pairs = semantic_dedup_pairs(
        embeddings, threshold, k, id_col, vec_col, target_cluster_size
    ).select("a_id", "b_id")
    sym = pairs.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionAll(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    cc = connected_components(sym)
    sizes = cc.groupBy("label").agg(F.count("*").alias("n"))
    lab = cc.join(sizes, "label").select(F.col("id").alias("_rid"), "label", "n")
    return (
        embeddings.select(F.col(id_col).alias("vec_id"))
        .join(lab, F.col("vec_id") == F.col("_rid"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("label"), F.col("vec_id"))
            .cast("long")
            .alias("cluster_id"),
            F.coalesce(F.col("n"), F.lit(1)).cast("long").alias("cluster_size"),
            (F.col("vec_id") == F.coalesce(F.col("label"), F.col("vec_id")))
            .cast("long")
            .alias("keep"),
        )
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, cluster_id, dist)`` — one Lloyd assignment round
    against ``k`` deterministic centroids (the embeddings of the ``k``
    smallest ids, the reproducible seeding an iterative k-means would
    start from): nearest centroid by Euclidean distance, ties to the
    smallest centroid id.

    The assignment step is the embarrassingly-parallel heart of
    distributed k-means: broadcast the tiny centroid relation, one
    left-to-right-fold distance per (vector, centroid), one per-vector
    top-1.  The update step (new means) is a single groupBy-avg;
    it is not oracle-registered because float mean summation is
    partition-order-dependent — assignment is the exactly-checkable
    half."""
    dist = F.sqrt(
        F.expr(
            "aggregate(zip_with(v, c, (x, y) ->"
            " (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
            " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))),"
            " CAST(0 AS DOUBLE), (acc, d) -> acc + d)"
        )
    )
    base = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v"))
    cents = (
        base.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("cluster_id"), F.col("v").alias("c"))
    )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "vec_id", "cluster_id", F.round(dist, 6).alias("dist")
    )
    w = Window.partitionBy("vec_id").orderBy("dist", "cluster_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cluster_id", "dist")
    )


# ---------------------------------------------------------------------------
# Full Lloyd iteration in exact integer space (multi-round k-means)
# ---------------------------------------------------------------------------

_INT_DIST2 = (
    "aggregate(zip_with(p, c, (x, y) ->"
    " (1000 * x - y) * (1000 * x - y)),"
    " cast(0 as bigint), (acc, d) -> acc + d)"
)


def _integerize(
    embeddings: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """``(vec_id, p)`` with components integerized at 1024× — the
    cross-engine-exact representation every Lloyd path here uses."""
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.expr(
            f"transform({vec_col}, x -> cast(floor(cast(x as double) * 1024) as bigint))"
        ).alias("p"),
    )


#: cell count at and above which nearest-centroid assignment switches
#: from the Catalyst crossJoin (O(n·k) expression evals — fine for the
#: registry's small k) to the Arrow/BLAS path, which is bit-identical
#: (proof in :func:`_assign_cells`) but ~100× faster per pair.  At
#: √n-sized IVF indexes (k ≈ 2048 for 5M vectors) the Catalyst path is
#: hours; the BLAS path is seconds.
_ARROW_ASSIGN_MIN_CELLS = 128

#: exactness bound for the f64 BLAS path: with every |1000·p_i| and
#: |c_i| < 2^21 (raw components < ~2048 after the 1024× integerize —
#: unit-ish embeddings sit 3 orders of magnitude inside), each dot
#: product / squared distance is an integer < 2^53, so float64
#: arithmetic is EXACT and the argmin matches the bigint path bit for
#: bit regardless of BLAS summation order.
_F64_EXACT_BOUND = 1 << 21


def _assign_cells(pts: DataFrame, cents: DataFrame, k: int) -> DataFrame:
    """``(vec_id, cluster_id, dist2)`` — nearest centroid per point
    under the exact integer metric ``_INT_DIST2``, lowest
    ``cluster_id`` on ties.

    Two physically different, bitwise-identical plans:

    * ``k < _ARROW_ASSIGN_MIN_CELLS``: broadcast crossJoin + map-side
      ``min(struct(dist2, cluster_id))`` — the k·n scored rows never
      sort and never shuffle, only n partial minima do.
    * ``k ≥ _ARROW_ASSIGN_MIN_CELLS``: Arrow-batched ``mapInPandas``
      computing ``(1000p)² − 2(1000p)·Cᵀ + C²`` as one BLAS matmul in
      float64.  All intermediates are integers below 2^53 (guarded by
      ``_F64_EXACT_BOUND``; ValueError, never silent drift), so f64 is
      exact and ``np.argmin``'s first-index tie-break equals the
      struct-min's lowest-cluster_id tie-break because the centroid
      matrix rows are sorted by ``cluster_id``.  No shuffle at all:
      the centroid matrix (k·d ints) rides the closure; output is one
      narrow row per input row, partition-local.

    Parity is pinned by ``test_arrow_assign_parity`` on real
    embeddings across both regimes."""
    if k < _ARROW_ASSIGN_MIN_CELLS:
        return (
            pts.crossJoin(F.broadcast(cents))
            .select(
                "vec_id",
                F.struct(
                    F.expr(_INT_DIST2).alias("dist2"),
                    F.col("cluster_id").alias("cluster_id"),
                ).alias("dc"),
            )
            .groupBy("vec_id")
            .agg(F.min("dc").alias("m"))
            .select(
                "vec_id",
                F.col("m.cluster_id").alias("cluster_id"),
                F.col("m.dist2").alias("dist2"),
            )
        )

    import numpy as np

    rows = cents.orderBy("cluster_id").collect()  # bounded: k·d ints
    cid = np.asarray([int(r["cluster_id"]) for r in rows], dtype=np.int64)
    C = np.asarray([list(r["c"]) for r in rows], dtype=np.float64)
    if np.abs(C).max(initial=0.0) >= _F64_EXACT_BOUND:
        raise ValueError(
            "centroid component exceeds the f64-exact range "
            f"(|c| < {_F64_EXACT_BOUND}); vectors this large must use "
            "the Catalyst bigint assignment path"
        )
    c2 = (C * C).sum(axis=1)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            A = np.vstack(pdf["p"].to_numpy()).astype(np.float64) * 1000.0
            if np.abs(A).max(initial=0.0) >= _F64_EXACT_BOUND:
                raise ValueError(
                    "point component exceeds the f64-exact range "
                    f"(|1000·p| < {_F64_EXACT_BOUND}); vectors this "
                    "large must use the Catalyst bigint assignment path"
                )
            d2 = (A * A).sum(axis=1)[:, None] - 2.0 * (A @ C.T) + c2[None, :]
            j = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cluster_id": cid[j],
                    "dist2": d2[np.arange(len(j)), j].astype(np.int64),
                }
            )

    return pts.mapInPandas(
        assign, schema="vec_id long, cluster_id long, dist2 long"
    )


def _lloyd_iterate(pts: DataFrame, k: int, rounds: int):
    """Run ``rounds`` full assign+update Lloyd rounds over integerized
    points; returns ``(assign, cents)`` where ``assign`` is the final
    round's assignment (vs the centroids at that round's start) and
    ``cents`` is the post-update centroid relation ``(cluster_id, c)``
    in milli units.  Shared by :func:`kmeans_lloyd` (which returns the
    assignment) and :func:`ivf_kmeans_topk` (which wants the trained
    centroids)."""
    cents = (
        pts.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cluster_id"),
            F.expr("transform(p, x -> 1000 * x)").alias("c"),
        )
        .localCheckpoint()
    )
    assign = None
    for _ in range(rounds):
        # nearest-centroid via _assign_cells: map-side min(struct) for
        # small k (the k·|pts| scored rows never sort/shuffle), BLAS
        # matmul above _ARROW_ASSIGN_MIN_CELLS — bit-identical paths,
        # which is what makes √n-cell training affordable at 5M+ rows.
        assign = _assign_cells(pts, cents, k).localCheckpoint()
        sums = (
            assign.join(pts, "vec_id")
            .select("cluster_id", F.posexplode("p").alias("pos", "x"))
            .groupBy("cluster_id", "pos")
            .agg(F.count("*").alias("n"), F.sum("x").alias("sx"))
            .select(
                "cluster_id",
                "pos",
                F.expr("(1000 * sx) div n").alias("cm"),
            )
        )
        cents = (
            sums.groupBy("cluster_id")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "cm"))).alias("s"))
            .select("cluster_id", F.expr("transform(s, t -> t.cm)").alias("c"))
            .localCheckpoint()
        )
    return assign, cents


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = 8,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vec_id, cluster_id, dist2)`` after ``rounds`` full Lloyd
    iterations, bit-exact on any engine: points integerize at 1024×
    (the ``embedding_dim_stats`` convention), centroids live in
    1000×-finer "milli" units updated as ``(1000·Σx) // n``, and
    squared distances are pure BIGINT — associative sums, no float
    boundary anywhere, so the k-means loop itself (not just one
    assignment) is hash-checkable.

    Scale shape per round: broadcast the k×d centroid relation,
    map-only argmin per point (ties to the smaller cluster id),
    then one map-side-combined (cluster, dim) integer-sum shuffle of
    ≤ k·d groups.  Driver holds nothing; rounds chain through
    ``localCheckpoint`` like every iterative kernel here."""
    pts = _integerize(embeddings, id_col, vec_col).localCheckpoint()
    assign, _ = _lloyd_iterate(pts, k, rounds)
    return assign


def kmeans_lloyd_oracle_sql(
    dim: int = 64, k: int = 8, rounds: int = 3, source: str = "embeddings"
) -> str:
    """DuckDB CTE chain unrolling the same integer Lloyd rounds.
    Final relation: ``lloyd_result(vec_id, cluster_id, dist2)``.
    ``source`` is the input relation (a table or upstream CTE with
    ``vec_id, embedding``) so composed oracles — e.g. D4's prune-the-
    SemDeDup-survivors stage — can run Lloyd on a filtered corpus."""
    dist2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (1000 * p.p[i] - c.c[i]) * (1000 * p.p[i] - c.c[i])))"
    )
    ctes = [
        f"""lpts AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS p
  FROM {source}
)""",
        f"""lcent0 AS (
  SELECT vec_id AS cluster_id, list_transform(p, x -> 1000 * x) AS c
  FROM lpts ORDER BY vec_id LIMIT {k}
)""",
    ]
    for r in range(1, rounds + 1):
        prev = r - 1
        ctes.append(
            f"""lassign{r} AS MATERIALIZED (
  SELECT vec_id, cluster_id, dist2 FROM (
    SELECT p.vec_id, c.cluster_id, {dist2} AS dist2,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist2}, c.cluster_id) AS rn
    FROM lpts p CROSS JOIN lcent{prev} c)
  WHERE rn = 1
)"""
        )
        if r < rounds:
            ctes.append(
                f"""lcent{r} AS MATERIALIZED (
  SELECT cluster_id, list(cm ORDER BY dim) AS c FROM (
    SELECT a.cluster_id, t.i AS dim,
           (1000 * SUM(b.p[t.i])) // COUNT(*) AS cm
    FROM lassign{r} a JOIN lpts b USING (vec_id),
         UNNEST(generate_series(1, {dim})) t(i)
    GROUP BY a.cluster_id, t.i)
  GROUP BY cluster_id
)"""
            )
    ctes.append(
        f"""lloyd_result AS (
  SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
         CAST(dist2 AS BIGINT) AS dist2
  FROM lassign{rounds}
)"""
    )
    return ",\n".join(ctes)


# ---------------------------------------------------------------------------
# Learned-centroid IVF (Jégou et al. 2011's IVF-Flat, the standard
# coarse-quantizer ANN index) — k-means cells instead of sign buckets
# ---------------------------------------------------------------------------


def ivf_kmeans_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    rounds: int = 2,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with a LEARNED coarse quantizer: train
    ``n_cells`` centroids with ``rounds`` integer Lloyd iterations
    (:func:`_lloyd_iterate` — the bit-exact k-means the registry
    already oracle-checks), assign every corpus vector to its nearest
    cell, probe each query's ``nprobe`` nearest cells, and rank exact
    cosine within the probed candidates.

    This is IVF-Flat (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", 2011): cells adapt to the data distribution, so
    at equal recall the candidate set is smaller than data-oblivious
    sign buckets — the A/B driver ``scripts/bench_simsearch_scale.py``
    (commit ``67a05b5`` and earlier) measured both curves.

    Scale shape: training touches the corpus ``rounds + 1`` times with
    broadcast centroids (k·d integers) and ≤ k·d-group shuffles; the
    search is ONE equi-join on ``cell`` — candidate work is
    Σ_probed |cell|, never n², and the query side (queries × nprobe
    rows) broadcasts.  Every arithmetic step before the final cosine
    is BIGINT, so cells and probe sets are engine-exact; the cosine is
    rounded at 6dp like every similarity here."""
    pts = _integerize(embeddings, id_col, vec_col).localCheckpoint()
    _, cents = _lloyd_iterate(pts, n_cells, rounds)

    def nearest(points: DataFrame, n: int) -> DataFrame:
        if n == 1:
            # corpus-side assignment: shared exact path (map-side
            # min(struct) below _ARROW_ASSIGN_MIN_CELLS, BLAS matmul
            # at √n-sized indexes — see _assign_cells)
            return _assign_cells(points, cents, n_cells).select(
                "vec_id", F.col("cluster_id").alias("cell")
            )
        # query-side multi-probe: tiny relation, window rank is fine
        scored = points.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cluster_id", F.expr(_INT_DIST2).alias("dist2")
        )
        w = Window.partitionBy("vec_id").orderBy("dist2", "cluster_id")
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= n)
            .select("vec_id", F.col("cluster_id").alias("cell"))
        )

    cells = nearest(pts, 1)
    qpts = _integerize(queries, id_col, vec_col)
    qprobe = nearest(qpts, nprobe).withColumnRenamed("vec_id", "query_id")

    base = (
        with_norm(embeddings, vec_col)
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            F.col("_norm").alias("nv"),
        )
        .join(cells, "vec_id")
    )
    qs = (
        with_norm(queries, vec_col)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q"),
            F.col("_norm").alias("nq"),
        )
        .join(qprobe, "query_id")
    )
    sim = _pair_sim("q", "v", "nq", "nv")
    scored = (
        base.join(F.broadcast(qs), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("sim"))
    )
    return _topk_per_query(scored, k)


def ivf_kmeans_oracle_sql(
    dim: int = 64,
    k: int = 10,
    n_cells: int = 8,
    rounds: int = 2,
    nprobe: int = 2,
    query_pred: str = "vec_id % 100 = 0",
) -> str:
    """DuckDB oracle for :func:`ivf_kmeans_topk`: reuses the Lloyd CTE
    chain with ``rounds + 1`` assignments — ``lassign{rounds+1}`` IS
    the corpus cell assignment against the trained centroids
    ``lcent{rounds}`` — then probes, candidates, and ranked cosine.
    Returns a full SELECT (not a CTE fragment)."""
    lloyd = kmeans_lloyd_oracle_sql(dim=dim, k=n_cells, rounds=rounds + 1)
    dist2 = (
        f"list_sum(list_transform(generate_series(1, {dim}), "
        "i -> (1000 * p.p[i] - c.c[i]) * (1000 * p.p[i] - c.c[i])))"
    )
    return f"""
WITH {lloyd},
cells AS (SELECT vec_id, cluster_id AS cell FROM lassign{rounds + 1}),
qprobe AS (
  SELECT vec_id AS query_id, cell FROM (
    SELECT p.vec_id, c.cluster_id AS cell,
           ROW_NUMBER() OVER (PARTITION BY p.vec_id
                              ORDER BY {dist2}, c.cluster_id) AS rn
    FROM lpts p CROSS JOIN lcent{rounds} c
    WHERE p.{query_pred})
  WHERE rn <= {nprobe}
),
base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
scored AS (
  SELECT q.query_id, s.vec_id,
         ROUND(list_cosine_similarity(qv.v, b.v), 6) AS sim
  FROM qprobe q
  JOIN cells s USING (cell)
  JOIN base b ON b.vec_id = s.vec_id
  JOIN base qv ON qv.vec_id = q.query_id
  WHERE s.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, vec_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, sim
FROM ranked WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Prototype-based data pruning (Sorscher et al. 2022) and D4
# ---------------------------------------------------------------------------


def prototype_pruning(
    embeddings: DataFrame,
    k: int = 8,
    rounds: int = 3,
    keep_num: int = 1,
    keep_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SSL-prototype data pruning manifest — ``(vec_id, cluster_id,
    dist2, proto_rank, keep)``: cluster the corpus with ``rounds``
    exact-integer Lloyd iterations (:func:`kmeans_lloyd`), rank every
    point within its cluster by distance-to-prototype DESCENDING
    (hardest first), and keep the hardest ``keep_num/keep_den``
    fraction of each cluster.

    This is the self-supervised prototype metric of Sorscher et al.
    2022 ("Beyond neural scaling laws: beating power law scaling via
    data pruning", NeurIPS 2022): examples far from their k-means
    prototype are the informative ones when data is abundant, so the
    keep set is the per-cluster distance tail.  Ceiling semantics:
    a cluster of n points keeps ``ceil(n * keep_num / keep_den)`` —
    every non-empty cluster retains at least one point, so coverage
    of the embedding space survives aggressive pruning.

    Exactness: ``dist2`` is the BIGINT integer-space distance of
    :func:`kmeans_lloyd` (no float boundary), ranking ties break on
    ``vec_id``, and the keep threshold is integer arithmetic — the
    whole manifest is hash-checkable against the DuckDB twin.

    Scale shape: inherits Lloyd's broadcast-centroid map-only rounds;
    the ranking window partitions by cluster_id (bounded by cluster
    size, the same contract as the retention manifests), and the keep
    rule adds one integer comparison — no extra shuffle beyond the
    per-cluster window.
    """
    assign = kmeans_lloyd(embeddings, k=k, rounds=rounds, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("dist2"), "vec_id")
    return (
        assign.withColumn("proto_rank", F.row_number().over(w).cast("long"))
        .withColumn("_n", F.count("*").over(Window.partitionBy("cluster_id")))
        .select(
            "vec_id",
            "cluster_id",
            "dist2",
            "proto_rank",
            (
                F.col("proto_rank")
                <= F.expr(f"({keep_num} * _n + {keep_den} - 1) div {keep_den}")
            )
            .cast("long")
            .alias("keep"),
        )
    )


def prototype_pruning_oracle_sql(
    dim: int = 64,
    k: int = 8,
    rounds: int = 3,
    keep_num: int = 1,
    keep_den: int = 2,
    source: str = "embeddings",
) -> str:
    """DuckDB CTE chain for :func:`prototype_pruning` — Lloyd rounds
    plus the per-cluster hardest-first rank and ceiling keep rule.
    Final relation: ``proto_result(vec_id, cluster_id, dist2,
    proto_rank, keep)``."""
    return (
        kmeans_lloyd_oracle_sql(dim=dim, k=k, rounds=rounds, source=source)
        + f""",
proto_result AS (
  SELECT vec_id, cluster_id, dist2,
         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY dist2 DESC, vec_id) AS BIGINT)
           AS proto_rank,
         CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                                 ORDER BY dist2 DESC, vec_id)
              <= ({keep_num} * COUNT(*) OVER (PARTITION BY cluster_id)
                  + {keep_den} - 1) // {keep_den} AS BIGINT) AS keep
  FROM lloyd_result
)"""
    )


def d4_retention(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k: int = 8,
    rounds: int = 3,
    keep_num: int = 1,
    keep_den: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """D4 retention manifest — ``(vec_id, sem_keep, proto_cluster,
    proto_rank, keep)`` for EVERY embedding: semantic dedup first,
    prototype pruning on the survivors (Tirumala et al. 2023, "D4:
    Improving LLM Pretraining via Document De-Duplication and
    Diversification", NeurIPS 2023).

    Stage 1 is :func:`semdedup_retention` (cluster-blocked cosine
    pairs → CC over the duplicate graph → canonical per component);
    stage 2 re-clusters ONLY the semantic-dedup survivors with exact
    Lloyd and keeps each cluster's hardest ``keep_num/keep_den``
    tail (:func:`prototype_pruning`).  ``keep = sem_keep AND
    proto_keep``; documents dropped at stage 1 carry ``proto_cluster
    = proto_rank = -1`` so the manifest stays one row per input.

    Scale shape: stage 1's pair set is Σ|cluster|²-bounded and its CC
    runs on verified duplicate edges only; stage 2 inherits Lloyd's
    broadcast-centroid rounds over the (smaller) survivor set — the
    composition adds one left join, no new corpus-spanning stage.
    """
    sem = semdedup_retention(embeddings, threshold, k, id_col, vec_col)
    surv_ids = sem.filter(F.col("keep") == 1).select("vec_id")
    survivors = embeddings.join(
        surv_ids, embeddings[id_col] == surv_ids.vec_id, "left_semi"
    )
    proto = prototype_pruning(
        survivors,
        k=k,
        rounds=rounds,
        keep_num=keep_num,
        keep_den=keep_den,
        id_col=id_col,
        vec_col=vec_col,
    )
    return (
        sem.select("vec_id", F.col("keep").alias("sem_keep"))
        .join(
            proto.select(
                F.col("vec_id").alias("_pid"),
                F.col("cluster_id").alias("proto_cluster"),
                "proto_rank",
                F.col("keep").alias("proto_keep"),
            ),
            F.col("vec_id") == F.col("_pid"),
            "left",
        )
        .select(
            "vec_id",
            F.col("sem_keep").cast("long").alias("sem_keep"),
            F.coalesce("proto_cluster", F.lit(-1)).cast("long").alias("proto_cluster"),
            F.coalesce("proto_rank", F.lit(-1)).cast("long").alias("proto_rank"),
            (F.col("sem_keep") * F.coalesce("proto_keep", F.lit(0)))
            .cast("long")
            .alias("keep"),
        )
    )
