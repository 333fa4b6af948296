"""Deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Cross-engine-stable hashing: every hash is derived from ``md5`` hex
(``conv(substr(md5(x),1,8),16,10)`` in Spark ≡
``('0x' || substr(md5(x),1,8))::BIGINT`` in DuckDB), so each operator
has an exact SQL oracle.

Scale design (100 TB): all stages are shuffle-bounded by design —
shingling is a narrow explode, MinHash is one partial-aggregating
``groupBy(doc_id)``, LSH banding turns the quadratic all-pairs
problem into an equi-join on ``(band, band_key)`` whose output is
only true candidate pairs, and verification touches candidates only.
No stage materializes the full cross product.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SHINGLE_K = 8
DEFAULT_NUM_HASHES = 16
DEFAULT_BANDS = 4


from ..hashutil import hash_prefix as _hash_prefix_shared


def _hash32(col) -> "F.Column":
    """First 32 bits of md5 as a BIGINT (see :mod:`hashutil` — the one
    portable cross-engine hash; 32 bits here because MinHash/LSH only
    need selection-grade uniformity, not identity)."""
    return _hash_prefix_shared(col, 8)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """``(doc_id, fingerprint, canonical_id)`` — exact-content groups
    via content hash; canonical = min id per group.  Drop rows with
    ``doc_id != canonical_id`` to dedup."""
    w = Window.partitionBy("fingerprint")
    return (
        docs.select(F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("fingerprint"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
    )


def dedup_exact(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep one representative (min id) per exact-content group."""
    marked = exact_duplicates(docs, id_col, text_col)
    keep = marked.filter(F.col("doc_id") == F.col("canonical_id")).select("doc_id")
    return docs.join(keep, docs[id_col] == keep.doc_id, "left_semi")


# ---------------------------------------------------------------------------
# shingling + MinHash + LSH
# ---------------------------------------------------------------------------


def char_shingles(
    docs: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Distinct character k-grams per document: ``(doc_id, sh)``."""
    if not docs.isStreaming:
        # the corpus often arrives as one parquet split — without this
        # the explode (the expensive map stage) runs on ONE task before
        # the distinct shuffle (guide §2.5 input skew); round-robin of
        # the compact doc rows is far cheaper than exploding serially
        docs = docs.repartition(
            docs.sparkSession.sparkContext.defaultParallelism
        )
    return (
        docs.filter(F.length(text_col) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {k - 1}),"
                    f" i -> substring({text_col}, i, {k}))"
                )
            ).alias("sh"),
        )
        .distinct()
    )


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = DEFAULT_NUM_HASHES
) -> DataFrame:
    """Wide MinHash signature ``(doc_id, mh_0 .. mh_{n-1})``.

    One partial-aggregating groupBy; hash family = md5 seeded by the
    hash index (seed string prefix), identical to the SQL oracle.

    Round-10 A/B (rejected alternative): hashing each DISTINCT shingle
    once and joining the 16-column hash table back measured 16.5-22.2s
    vs 3.0-4.4s for this inline form at sf0.1 (alternating reps, noop
    sink) — md5 over short shingles is cheap codegen work, while the
    distinct + broadcast-join + 17-column-wide pre-aggregation rows
    cost far more than the duplicate hashing saves.
    """
    aggs = [
        F.min(_hash32(F.concat(F.lit(f"{s}|"), F.col("sh")))).alias(f"mh_{s}")
        for s in range(num_hashes)
    ]
    return shingles.groupBy("doc_id").agg(*aggs)


def lsh_bands(
    signatures: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """``(doc_id, band, bkey)`` — md5 over each band's signature rows."""
    rows = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)]
                )
            ).alias("bkey"),
        )
        for b in range(bands)
    ]
    return signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def lsh_candidate_pairs(bands_df: DataFrame) -> DataFrame:
    """Distinct ``(a_id, b_id)`` pairs sharing ≥1 band bucket — the
    equi-join that replaces the quadratic all-pairs comparison.

    The band table is materialized first: Spark does not share common
    subplans across a self-join, so joining the lazy band plan against
    itself would re-shingle and re-hash the whole corpus once per side
    (audited as 8 parquet scans of ``documents`` at 4 bands).
    """
    bands_df = bands_df.localCheckpoint()
    a = bands_df.select(F.col("doc_id").alias("a_id"), "band", "bkey")
    b = bands_df.select(F.col("doc_id").alias("b_id"), "band", "bkey")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )


def jaccard_for_pairs(shingles: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact shingle-SET Jaccard for candidate pairs:
    ``(a_id, b_id, inter, a_size, b_size, jaccard)``.

    Set semantics throughout: sizes are ``countDistinct`` and the
    overlap is the distinct-set intersection, so a non-distinct
    ``(doc_id, sh)`` input yields the same answer as its
    deduplicated form (multiplicity never leaks into the ratio)."""
    sizes = shingles.groupBy("doc_id").agg(F.countDistinct("sh").alias("sz"))
    # PPJoin-style verify (see _verify_intersections): zero-overlap
    # pairs survive because the set join is on doc ids, not items
    inter = _verify_intersections(pairs, shingles, "sh")
    return (
        inter
        .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_size"), "a_id")
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_size"), "b_id")
        .select(
            "a_id",
            "b_id",
            "inter",
            "a_size",
            "b_size",
            F.round(
                F.col("inter") / (F.col("a_size") + F.col("b_size") - F.col("inter")), 6
            ).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.5,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → signature → band join →
    exact-Jaccard verify ≥ threshold.

    Round-10 restructure (measured at sf0.1, stage-profiled): the old
    flow materialized the 1.35 M-row distinct shingle relation
    (explode + distinct shuffle + localCheckpoint ≈ 5-11 s) to share
    it between signatures and verification.  But verification only
    ever touches the candidate docs (545 pairs at sf0.1), so the full
    corpus explode now happens exactly once, non-distinct, straight
    into the signature aggregation (min is duplicate-blind;
    ``countDistinct`` folds the exact set sizes into the same pass),
    and the verify step re-shingles only the candidate docs.  Values
    identical; the 1.35 M-row distinct + checkpoint is gone.

    ``shingles`` (round-11, guide §2.4 — remove the duplicate scan):
    a caller that has ALREADY materialized the distinct
    ``(doc_id, sh)`` relation (``minhash_recall`` / ``lsh_s_curve``
    need it for their exact ground-truth side regardless) passes it
    here and the pipeline derives signatures AND verification from
    that one scan instead of re-exploding the corpus.  Every
    downstream expression is duplicate-blind (min, countDistinct,
    collect_set), so the result is identical whichever input feeds
    it.
    """
    spark = docs.sparkSession
    if shingles is not None:
        raw = shingles.select("doc_id", "sh")
    else:
        # the corpus often arrives as one parquet split — without this
        # the fused explode+hash+aggregate pipeline runs single-task
        # (measured 19 s vs 4 s at sf0.1); a round-robin repartition of
        # the compact doc rows is far cheaper than exploding on one core
        raw = (
            docs.repartition(spark.sparkContext.defaultParallelism)
            .filter(F.length("text") >= k)
            .select(
                F.col("doc_id"),
                F.explode(
                    F.expr(
                        f"transform(sequence(1, length(text) - {k - 1}),"
                        f" i -> substring(text, i, {k}))"
                    )
                ).alias("sh"),
            )
        )
    aggs = [
        F.min(_hash32(F.concat(F.lit(f"{s}|"), F.col("sh")))).alias(f"mh_{s}")
        for s in range(num_hashes)
    ] + [F.countDistinct("sh").alias("sz")]
    sig = raw.groupBy("doc_id").agg(*aggs).localCheckpoint()
    cand = lsh_candidate_pairs(lsh_bands(sig, bands, num_hashes))
    # exact verification over candidate docs only
    pair_ids = (
        cand.select(F.col("a_id").alias("doc_id"))
        .unionAll(cand.select(F.col("b_id").alias("doc_id")))
        .distinct()
    )
    if shingles is not None:
        # the caller's materialized distinct shingles already hold the
        # candidate docs' sets — no re-shingling scan
        sh_cand = shingles.join(pair_ids, "doc_id", "left_semi")
    else:
        sh_cand = char_shingles(
            docs.join(pair_ids, "doc_id", "left_semi"), k
        )
    inter = _verify_intersections(cand, sh_cand, "sh")
    sizes = sig.select("doc_id", "sz")
    return (
        inter
        .join(
            sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_size"),
            "a_id",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_size"),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            "inter",
            "a_size",
            "b_size",
            F.round(
                F.col("inter") / (F.col("a_size") + F.col("b_size") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_retention(
    docs: DataFrame,
    threshold: float = 0.8,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_policy: str = "min_id",
    stage_times: dict | None = None,
) -> DataFrame:
    """Near-dup retention manifest — the decision table a dedup pass
    writes for EVERY document before the filtered corpus is
    materialized: ``(doc_id, cluster_id, cluster_size, keep)``.

    Pipeline: MinHash+LSH candidates → exact-Jaccard ≥ ``threshold``
    verification (:func:`minhash_near_duplicates`) → connected
    components over the symmetrized duplicate graph (the same
    pointer-jumping kernel as the graph workloads) → canonical =
    component min id; ``keep = 1`` exactly for the cluster's chosen
    representative.  Documents in no verified pair are singleton
    clusters of themselves (``cluster_size = 1, keep = 1``).

    ``keep_policy`` picks the representative: ``"min_id"`` (default —
    the component min id, which is also the ``cluster_id``) or
    ``"longest"`` (the member with the longest text, ties to the
    smallest id — the choice public web pipelines make so the dedup
    pass keeps the most complete copy).  ``cluster_id`` is always the
    min id (a stable cluster key independent of the policy); only the
    ``keep`` flag moves.  The longest-policy window partitions by
    ``cluster_id`` — work bounded by cluster size, never the corpus.

    Scale shape: EXACT duplicates are collapsed first (one md5
    groupBy; in web corpora they dominate duplication), so the
    shingle/LSH/verify pipeline sees each distinct content exactly
    once and pair listing is O(Σ cluster²) over *distinct-content*
    clusters — exact multiplicity can never explode the pair set.
    Candidate generation is the banded equi-join (never all-pairs),
    the CC input is only the verified duplicate edge set, and the
    final manifest join is a plain equi-join on the fingerprint whose
    build side AQE can broadcast when the duplicate set is small; no
    stage touches O(corpus²) rows and no window spans the corpus.

    The collapse is exact-result-preserving: identical texts have
    identical shingle sets, hence identical signatures, band keys and
    Jaccard-1.0 pairs, so clustering representatives and expanding by
    fingerprint yields the same manifest as the uncollapsed pipeline
    (parity-tested).  Texts shorter than ``k`` get a per-document
    fingerprint — they carry no shingles, so the uncollapsed pipeline
    never pairs them, even when byte-identical.

    ``stage_times`` (benchmark mode): pass a dict to have the LSH+
    verify and connected-components stages materialized eagerly and
    their wall-times recorded under ``"lsh_verify_s"`` / ``"cc_s"`` —
    the manifest is unchanged, only the materialization boundaries
    move (the disk-resident retention A/B of ``RETENTION_AB_r07.json``
    used it to report where a run spends its time; its one-off driver
    ``scripts/bench_retention_collapse.py`` is in commit ``67a05b5`` and
    earlier).
    """
    from ..operators.components import connected_components

    # checkpoint ONLY (doc_id, fp, length) — the columns reused across
    # stages.  Text is deliberately NOT materialized (at 100 TB that
    # checkpoint would be a second full-corpus write); the one place
    # that needs it (`reps`) reads it straight off the source scan via
    # a semi-join on the representative ids.
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    fpd = src.select(
        "doc_id",
        F.when(F.length("text") >= k, F.md5(F.col("text")))
        .otherwise(F.concat(F.lit("short|"), F.col("doc_id").cast("string")))
        .alias("fp"),
        F.length("text").alias("_len"),
    ).localCheckpoint()
    groups = fpd.groupBy("fp").agg(
        F.min("doc_id").alias("rep_id"),
        F.count("*").cast("long").alias("n_exact"),
    )
    reps = src.join(
        groups.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
    )
    dup = minhash_near_duplicates(reps, threshold, k, num_hashes, bands).select(
        "a_id", "b_id"
    )
    if stage_times is not None:
        import time as _time

        t0 = _time.time()
        dup = dup.localCheckpoint()
        stage_times["lsh_verify_s"] = round(_time.time() - t0, 2)
    sym = dup.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionAll(dup.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
    if stage_times is not None:
        t0 = _time.time()
        cc = connected_components(sym).localCheckpoint().withColumnRenamed(
            "id", "rep_id"
        )
        stage_times["cc_s"] = round(_time.time() - t0, 2)
    else:
        cc = connected_components(sym).withColumnRenamed("id", "rep_id")
    repc = (
        groups.join(cc, "rep_id", "left")
        .withColumn("cluster_id", F.coalesce(F.col("label"), F.col("rep_id")))
        .select("fp", "cluster_id", "n_exact")
    )
    csize = repc.groupBy("cluster_id").agg(
        F.sum("n_exact").cast("long").alias("cluster_size")
    )
    manifest = (
        fpd.select("doc_id", "fp", "_len")
        .join(repc.select("fp", "cluster_id"), "fp")
        .join(csize, "cluster_id")
    )
    if keep_policy == "min_id":
        keep = F.col("doc_id") == F.col("cluster_id")
    elif keep_policy == "longest":
        pick = F.struct(F.col("_len"), (-F.col("doc_id")).alias("_nid"))
        keep = pick == F.max(pick).over(Window.partitionBy("cluster_id"))
    else:
        raise ValueError(f"unknown keep_policy {keep_policy!r}")
    return manifest.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
        keep.cast("long").alias("keep"),
    )


def minhash_signature_rows(
    docs: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, sig array<long>)`` — the MinHash signature computed
    PER ROW with JVM higher-order functions (``transform`` +
    ``array_min`` over the shingle array): no explode, no groupBy, no
    shuffle.  Equals :func:`minhash_signatures` exactly because the
    min over the shingle *multiset* is the min over the distinct set.

    Being aggregation-free makes it legal on a streaming DataFrame —
    this is the signature stage of the streaming near-dup twin — and
    at 100 TB it is a map-only stage that pipelines into the scan."""
    sh = docs.filter(F.length(text_col) >= k).select(
        F.col(id_col).alias("doc_id"),
        F.expr(
            f"transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> substring({text_col}, i, {k}))"
        ).alias("_sh"),
    )
    def _seeded(i: int):
        # NB: a factory, not a default-arg lambda — pyspark treats a
        # two-parameter lambda in transform() as (element, index)
        return lambda s: _hash32(F.concat(F.lit(f"{i}|"), s))

    mins = [
        F.array_min(F.transform(F.col("_sh"), _seeded(i)))
        for i in range(num_hashes)
    ]
    return sh.select("doc_id", F.array(*mins).alias("sig"))


def sig_band_keys(
    sig_df: DataFrame,
    bands: int = DEFAULT_BANDS,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """``(doc_id, sig, band, bkey)`` from a row-level signature table —
    same band-key derivation as :func:`lsh_bands` (md5 over the
    ``|``-joined band slice), one narrow explode per document."""
    rows = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.element_at("sig", b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ],
                )
            ).alias("bkey"),
        )
        for b in range(bands)
    ]
    return sig_df.select(
        "doc_id", "sig", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", "sig", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))


def signature_agreement_pairs(
    docs: DataFrame,
    min_agree: int = 8,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """``(a_id, b_id, n_agree, est_jaccard)`` — LSH band-collision
    candidates verified by SIGNATURE agreement (the Broder estimator:
    the fraction of agreeing MinHash components is an unbiased
    Jaccard estimate, σ ≈ 1/√num_hashes) instead of the exact shingle
    re-join.  One corpus pass: verification reads only the two 16-long
    signatures already carried by the band join — at 100 TB this is
    the cheap dedup path when estimator precision suffices, and it is
    the batch twin of the streaming near-dup operator."""
    # the corpus often arrives as one parquet split — the map-only
    # signature stage (16 md5s per shingle occurrence) would then run
    # on ONE task (measured 21.7s vs ~3s spread at sf0.1); round-robin
    # repartition of the compact doc rows first (same fix as
    # minhash_near_duplicates)
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sig = minhash_signature_rows(docs, k, num_hashes).localCheckpoint()
    bnd = sig_band_keys(sig, bands, num_hashes)
    a = bnd.select(F.col("doc_id").alias("a_id"), F.col("sig").alias("a_sig"), "band", "bkey")
    b = bnd.select(F.col("doc_id").alias("b_id"), F.col("sig").alias("b_sig"), "band", "bkey")
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "a_sig", "b_sig")
        .distinct()
    )
    n_agree = F.expr(
        "aggregate(zip_with(a_sig, b_sig, (x, y) -> CAST(x = y AS INT)),"
        " 0L, (acc, v) -> acc + v)"
    )
    return (
        cand.withColumn("n_agree", n_agree)
        .filter(F.col("n_agree") >= min_agree)
        .select(
            "a_id",
            "b_id",
            "n_agree",
            F.round(F.col("n_agree") / F.lit(float(num_hashes)), 6).alias(
                "est_jaccard"
            ),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 32
) -> DataFrame:
    """``(doc_id, simhash)`` — 32-bit SimHash over whitespace tokens.

    Bit j of the fingerprint is the sign of ``Σ_tokens (2·bit_j(h)−1)``
    where ``h`` = 32-bit md5 of the token.  Pure column arithmetic
    (integer div/mod, no shifts) so the SQL oracle is identical.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).filter(F.col("tok") != "")
    h = _hash32(F.col("tok"))
    toks = toks.select("doc_id", h.alias("h"))
    aggs = [
        F.sum(2 * ((F.col("h") / (1 << j)).cast("long") % 2) - 1).alias(f"s_{j}")
        for j in range(bits)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    fingerprint = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sums.select("doc_id", fingerprint.cast("long").alias("simhash"))


def simhash_near_duplicates(
    docs: DataFrame, max_hamming: int = 3, bits: int = 32
) -> DataFrame:
    """Pairs whose SimHashes differ in ≤ ``max_hamming`` of ``bits`` bits.

    100%-recall pigeonhole blocking: the fingerprint is partitioned into
    ``max_hamming + 1`` disjoint contiguous bit blocks; any pair within
    the Hamming budget has too few differing bits to touch every block,
    so it agrees *exactly* on at least one block.  Candidates come from
    per-block equi-joins (banded LSH shape — a shuffle join on
    ``(block, value)``, never an all-pairs cross), then the exact
    popcount filter (``bit_count`` is JVM-side in Spark ≥ 3.4) removes
    false positives.  Scale note: block width ``bits/(h+1)`` governs
    bucket sizes; at corpus scale add more fingerprint bits rather than
    shrinking blocks below ~8 bits.
    """
    nblocks = max_hamming + 1
    bounds = [round(i * bits / nblocks) for i in range(nblocks + 1)]
    # materialize: the fingerprint table feeds both sides of the
    # self-join (Spark re-executes unshared subplans per side)
    sh = simhash(docs, bits=bits).localCheckpoint()
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        (
                            (F.col("simhash") / (1 << lo)).cast("long")
                            % (1 << (hi - lo))
                        ).alias("val"),
                    )
                    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:]))
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "simhash", F.col("bv.block").alias("block"), F.col("bv.val").alias("val"))
    a = bands.select(
        F.col("doc_id").alias("a_id"), F.col("simhash").alias("ha"), "block", "val"
    )
    b = bands.select(
        F.col("doc_id").alias("b_id"), F.col("simhash").alias("hb"), "block", "val"
    )
    cand = (
        a.join(b, ["block", "val"])
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id", "ha", "hb")
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.select("a_id", "b_id", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


# ---------------------------------------------------------------------------
# word n-gram Jaccard
# ---------------------------------------------------------------------------


def pairwise_shared_item_counts(
    items: DataFrame,
    item_col: str = "sh",
    min_jaccard_prefilter: float | None = None,
) -> DataFrame:
    """``(a_id, b_id, i)`` — exact shared-item counts for every
    unordered pair (``a_id < b_id``) sharing ≥ 1 item, over a DISTINCT
    ``(doc_id, item)`` relation.

    This is the ground-truth enumeration of ``minhash_recall`` /
    ``lsh_s_curve``.  The join formulation generates ``Σ_item df²``
    rows (measured 280 M rows → 12.3 M pairs on the sf0.1 shingle
    fixture); the guarded packed-bitmap kernel
    (:mod:`~graphdb_testing_spark.functions.bitsets`) computes the
    identical counts as integer popcounts with no pair shuffle, and
    falls back to the join past its bounds.
    """
    from . import bitsets

    # min_jaccard_prefilter is a SUPERSET row reduction inside the
    # bitmap sweep (slack 1e-9); callers whose downstream predicate
    # implies J ≥ t re-apply the exact predicate themselves, so this
    # can only shrink the materialized pair set, never change results.
    # The join fallback ignores it (the full pair set is correct too).
    fast = bitsets.pairwise_intersection_counts(
        items, "doc_id", item_col,
        min_jaccard_prefilter=min_jaccard_prefilter,
    )
    if fast is not None:
        return fast.withColumnRenamed("inter", "i")
    # distinct-set semantics on BOTH branches (round-10 ADVICE): the
    # bitmap kernel is idempotent in duplicates by construction, so the
    # join fallback dedupes its input too — a non-distinct caller gets
    # the same answer on either side of the scale guard.  For the
    # contract-respecting (already-distinct) callers this is one
    # already-unique aggregation pass, not a semantic change.
    di = items.select("doc_id", item_col).distinct()
    a = di.select(F.col("doc_id").alias("a_id"), item_col)
    b = di.select(F.col("doc_id").alias("b_id"), item_col)
    return (
        a.join(b, item_col)
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("i"))
    )


def _verify_intersections(
    cands: DataFrame, items: DataFrame, item_col: str
) -> DataFrame:
    """Exact ``|A ∩ B|`` for every candidate pair — the PPJoin-style
    *verification* step (Xiao et al. 2008 verify candidates by merging
    the two records' sorted token lists): join each side's sorted
    distinct-item array onto the pair once and count the overlap
    map-side, instead of re-exploding candidates into (pair × item)
    rows and aggregating them back.

    Shuffle volume is |cands| rows (each carrying two document item
    arrays) versus |cands| · |A| exploded rows plus a groupBy for the
    join-per-item shape; per-row memory is bounded by the two
    documents' distinct-set sizes — the bound the documents themselves
    already impose on the scan.  ``items`` is a ``(doc_id, item)``
    relation — duplicates are collapsed here (``collect_set``), so the
    overlap is always the distinct-set intersection ``array_intersect``
    computes, whether or not the caller pre-deduplicated; ``cands`` has
    columns ``(a_id, b_id)``.  Returns ``(a_id, b_id, inter)``.
    """
    sets_ = items.groupBy("doc_id").agg(
        F.sort_array(F.collect_set(item_col)).alias("_tset")
    )
    return (
        cands.join(
            sets_.select(F.col("doc_id").alias("a_id"), F.col("_tset").alias("_ta")),
            "a_id",
        )
        .join(
            sets_.select(F.col("doc_id").alias("b_id"), F.col("_tset").alias("_tb")),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("_ta", "_tb")).cast("long").alias("inter"),
        )
    )


def word_ngrams(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Distinct word n-grams per document: ``(doc_id, ng)``.

    Tokenization = whitespace split with empties dropped (same as
    :mod:`textstats`); n-grams are space-rejoined token windows.
    """
    toks = f"filter(split({text_col}, ' '), t -> t <> '')"
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, greatest(size({toks}) - {n - 1}, 0)),"
                    f" i -> concat_ws(' ', slice({toks}, i, {n})))"
                )
            ).alias("ng"),
        )
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate pairs by exact word-n-gram Jaccard.

    Scale path: candidate generation is blocked on **rare** n-grams
    (document frequency ≤ ``max_df``) — an inverted-index equi-join,
    never an all-pairs cross product.  High-DF n-grams are useless for
    dedup (any truly similar pair shares many rare ones) and would
    otherwise produce quadratic candidate blowup on common phrases.
    Jaccard is then verified exactly over the full n-gram sets of the
    candidates only.  Output: ``(a_id, b_id, jaccard)``.
    """
    # materialize: the n-gram set feeds the DF counts, the inverted
    # index, and the exact-Jaccard verification
    ng = word_ngrams(docs, n, id_col, text_col).localCheckpoint()
    df_counts = ng.groupBy("ng").agg(F.count("*").alias("df"))
    rare = ng.join(
        df_counts.filter(F.col("df") <= max_df).select("ng"), "ng", "left_semi"
    )
    a = rare.select(F.col("doc_id").alias("a_id"), "ng")
    b = rare.select(F.col("doc_id").alias("b_id"), "ng")
    cand = (
        a.join(b, "ng")
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    sizes = ng.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = _verify_intersections(cand, ng, "ng")
    return (
        inter.join(sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("a_sz")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("b_sz")), "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("inter") / (F.col("a_sz") + F.col("b_sz") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# exact set-similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------


def jaccard_prefix_join(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(a_id, b_id, inter, jaccard)`` — EVERY pair of documents whose
    distinct-word-set Jaccard is ≥ ``threshold``, found without an
    all-pairs comparison: the prefix-filtering principle of
    PPJoin/AllPairs (Bayardo et al. 2007, Xiao et al. 2008).

    Completeness: order each document's tokens by ascending global
    document frequency (rare first; ties by token).  If
    ``J(x, y) ≥ t`` then ``|x ∩ y| ≥ ceil(t·|x|)``, so a pair must
    share a token within the first ``|x| - ceil(t·|x|) + 1`` tokens of
    each side — the *prefix*.  Candidates therefore come from an
    inverted-index equi-join on prefix tokens only, then one
    verification (PPJoin-style sorted-set merge) computes the exact
    intersection.  Unlike
    ``ngram_jaccard_pairs`` (which drops n-grams above ``max_df`` and
    can miss all-frequent-token pairs) this join is EXACT — the DuckDB
    oracle brute-forces all pairs and must agree bit-for-bit.

    Scale shape: the global order is the tuple ``(df, tok)`` itself —
    no global rank table, no global sort; per-document positions come
    from a window partitioned by document.  Prefix tokens are rare by
    construction (ascending df), so the inverted index is skew-light;
    hot-token joins are exactly what the prefix order avoids.
    """
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
        .localCheckpoint()
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # guarded packed-bitmap fast path (functions/bitsets.py): exact
    # popcount intersections for all pairs with inter ≥ 1 — a superset
    # of every J ≥ t pair, so the threshold filter below is complete.
    # Measured motivation at sf0.1: the token vocabulary is 31 words
    # with min df 250, so the rare-first prefix barely filters (23.6 M
    # candidate pairs out of 25 M) and verification shuffles string
    # arrays per pair; the bitmap sweep does the same exact work as
    # integer popcounts with no pair shuffle.  Past the bitmap bounds
    # this returns None and the prefix-filter plan below remains the
    # 100 TB path.
    from . import bitsets

    inter = bitsets.pairwise_intersection_counts(toks, "doc_id", "tok")
    if inter is None:
        dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
        sized = toks.join(dfreq, "tok").withColumn(
            "sz", F.count("*").over(Window.partitionBy("doc_id"))
        )
        pos = sized.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "tok")
            ),
        )
        # prefix length |T| - ceil(t*|T|) + 1
        prefix = pos.filter(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        ).select("doc_id", "tok")
        cands = (
            prefix.alias("a")
            .join(prefix.alias("b"), "tok")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
            )
            .distinct()
        )
        inter = _verify_intersections(cands, toks, "tok")
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"),
            "a_id",
        )
        .join(
            sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "b_sz"),
            "b_id",
        )
        .select(
            "a_id",
            "b_id",
            "inter",
            F.round(
                F.col("inter") / (F.col("a_sz") + F.col("b_sz") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_join(
    docs: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """``(a_id, b_id, inter, containment)`` — every ORDERED pair with
    ``|A ∩ B| / |A| ≥ threshold`` (A's distinct word set mostly inside
    B's): the asymmetric twin of :func:`jaccard_prefix_join`, the
    criterion for quote/excerpt/subset near-duplication that symmetric
    Jaccard misses when sizes differ.

    Exact via one-sided prefix filtering: if ``c(A,B) ≥ t`` then
    ``|A∩B| ≥ ceil(t·|A|)``, so A must share a token within the first
    ``|A| - ceil(t·|A|) + 1`` of its rare-first (df, tok) order with
    B's FULL token set — candidates are A-prefix ⋈ full inverted
    index, then one PPJoin-style set-merge verification.  Self-pairs and duplicate
    candidates removed; both orders can appear (A⊂B and B⊂A are
    different facts).
    """
    toks = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
        .localCheckpoint()
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # guarded packed-bitmap fast path — same rationale as in
    # :func:`jaccard_prefix_join` (the measured sf0.1 degenerate case
    # is worse here: the one-sided prefix joins against the FULL
    # inverted index).  The kernel returns unordered pairs with
    # inter ≥ 1; containment is asymmetric, so both orders are
    # materialized before the per-order threshold filter — exactly
    # the pair population of the prefix plan (any pair with
    # c(A,B) ≥ t > 0 shares ≥ 1 token).
    from . import bitsets

    sym = bitsets.pairwise_intersection_counts(toks, "doc_id", "tok")
    if sym is not None:
        # the union references the sweep twice and Catalyst does not
        # share subplans — deliberately NOT checkpointed: re-running
        # the 2-3s popcount sweep measured 14.6s end-to-end vs 27.3s
        # with a localCheckpoint of the 11.8M-row pair table (the
        # materialization costs more than the recompute)
        inter = sym.unionAll(
            sym.select(
                F.col("b_id").alias("a_id"),
                F.col("a_id").alias("b_id"),
                "inter",
            )
        )
    else:
        dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
        sized = toks.join(dfreq, "tok").withColumn(
            "sz", F.count("*").over(Window.partitionBy("doc_id"))
        )
        pos = sized.withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "tok")
            ),
        )
        prefix = pos.filter(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
        ).select(F.col("doc_id").alias("a_id"), "tok")
        cands = (
            prefix.join(toks.withColumnRenamed("doc_id", "b_id"), "tok")
            .filter(F.col("a_id") != F.col("b_id"))
            .select("a_id", "b_id")
            .distinct()
        )
        inter = _verify_intersections(cands, toks, "tok")
    return (
        inter.join(
            sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "a_sz"),
            "a_id",
        )
        .select(
            "a_id",
            "b_id",
            "inter",
            F.round(F.col("inter") / F.col("a_sz"), 6).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def repeated_spans(
    docs: DataFrame,
    span_len: int = 32,
    stride: int = 1,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact repeated-substring detection, span granularity —
    ``(span_hash, n_docs, n_occ)`` for every length-``span_len``
    character window (sampled every ``stride`` positions) that occurs
    in at least ``min_docs`` distinct documents.

    This is the span-level primitive of exact-substring training-data
    dedup (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL 2022): their suffix-array pass finds verbatim
    repeats ≥ L chars; rolling fixed-length windows + a distributed
    groupBy find the same repeats with shuffle-friendly shape.  With
    ``stride = s`` every verbatim repeat of length ≥ ``span_len + s -
    1`` still contains a sampled window on both sides (pigeonhole on
    window start offsets mod s), so coverage degrades gracefully —
    stride thins the explode factor from ~|text| rows per doc to
    ~|text|/s, the knob that matters at 100 TB.

    Entirely JVM-side: sequence → transform → explode → hash →
    groupBy; the 60-bit md5-prefix span hash is the portable identity
    digest (see ``hashutil``), so the DuckDB twin reproduces it
    exactly.
    """
    spans = (
        docs.filter(F.length(text_col) >= span_len)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {span_len} + 1,"
                    f" {stride}), i -> substring({text_col}, i, {span_len}))"
                )
            ).alias("span"),
        )
        .select("doc_id", _hash_prefix_shared(F.col("span"), 15).alias("span_hash"))
    )
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def remove_repeated_spans(
    docs: DataFrame,
    spans: DataFrame | None = None,
    span_len: int = 32,
    stride: int = 1,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut every repeated span out of the corpus — the *removal* half
    of exact-substring dedup (Lee et al., ACL 2022, remove verbatim
    repeats rather than whole documents).  Returns ``(id_col,
    clean_text, removed_chars)`` for every input document.

    ``spans`` is the output of :func:`repeated_spans` (computed here
    with the same parameters when omitted).  Every sampled window
    whose hash is in that set is excised from its document;
    overlapping hits are handled by a running cursor inside a single
    JVM higher-order ``aggregate`` over the doc's sorted hit
    positions — for each hit at 1-based position ``i`` the kept text
    extends ``[cursor, i)`` and the cursor jumps to ``max(cursor,
    i + span_len)``, which merges overlaps without a separate
    interval-merge pass.  Shape per doc is one sorted array of ints
    (≤ |text|/stride entries), so state is bounded and the whole
    transform is explode → equi-join → groupBy → one expression —
    no Python in the row path.
    """
    if spans is None:
        spans = repeated_spans(
            docs, span_len, stride, min_docs, id_col=id_col, text_col=text_col
        )
    hits = (
        docs.filter(F.length(text_col) >= span_len)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - {span_len} + 1,"
                    f" {stride}), i -> named_struct('pos', i,"
                    f" 'span', substring({text_col}, i, {span_len})))"
                )
            ).alias("w"),
        )
        .select(
            "doc_id",
            F.col("w.pos").alias("pos"),
            _hash_prefix_shared(F.col("w.span"), 15).alias("span_hash"),
        )
        .join(spans.select("span_hash"), "span_hash")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("starts"))
        .withColumnRenamed("doc_id", "_rs_id")
    )
    splice = F.expr(
        f"""aggregate(
            starts,
            named_struct('pos', 1, 'out', cast('' as string)),
            (acc, i) -> named_struct(
                'pos', greatest(acc.pos, i + {span_len}),
                'out', concat(acc.out,
                              substring({text_col}, acc.pos,
                                        greatest(i - acc.pos, 0)))),
            acc -> concat(acc.out, substring({text_col}, acc.pos,
                                             length({text_col})))
        )"""
    )
    return (
        docs.join(hits, docs[id_col] == hits["_rs_id"], "left")
        .select(
            F.col(id_col),
            F.when(F.col("starts").isNull(), F.col(text_col))
            .otherwise(splice)
            .alias("clean_text"),
            F.col(text_col).alias("_orig"),
        )
        .select(
            id_col,
            "clean_text",
            (F.length("_orig") - F.length("clean_text"))
            .cast("long")
            .alias("removed_chars"),
        )
    )


# ---------------------------------------------------------------------------
# SoftDeDup: duplication-aware sampling weights (He et al., ACL 2024)
# ---------------------------------------------------------------------------


def softdedup_commonness(
    docs: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document data *commonness* for soft deduplication —
    ``(doc_id, n_grams, sum_logf_micro, avg_logf_micro)`` over every
    document with at least ``k`` words.

    SoftDeDup (He et al., "SoftDedup: an Efficient Data Reweighting
    Method for Speeding Up Language Model Pre-training", ACL 2024)
    replaces hard duplicate *removal* with duplication-aware
    *down-weighting*: a document's commonness is the (log-space)
    product of its word n-grams' corpus frequencies, and its sampling
    weight decreases in that commonness.  This returns the measurable
    half — the exact commonness scores; turning them into sampling
    probabilities is a normalization the trainer owns.

    Arithmetic is the registry's micro-log idiom (``bigram_lm_scores``):
    each occurrence contributes ``ROUND(1e6 · ln(corpus_freq))`` as a
    BIGINT, so the per-doc sum is associative integer math —
    hash-identical on any engine and partition order.
    ``avg_logf_micro`` is the integer mean (``div``), the
    length-normalized score a cutoff would threshold on.

    Scale shape: one explode (≈ |words| rows per doc), one
    map-side-combined n-gram frequency aggregate, one equi-join back,
    one per-doc aggregate — the exact shape of the TF-IDF and bigram-LM
    pipelines, no windows, no driver state.
    """
    grams = (
        docs.filter(F.size(F.split(F.col(text_col), " ")) >= k)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(split({text_col}, ' ')) - {k - 1}),"
                    f" i -> array_join(slice(split({text_col}, ' '), i, {k}), ' '))"
                )
            ).alias("gram"),
        )
    )
    freq = grams.groupBy("gram").agg(F.count("*").alias("cnt"))
    micro = F.expr("cast(round(1e6 * ln(cnt)) as bigint)")
    return (
        grams.join(freq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(micro).cast("long").alias("sum_logf_micro"),
        )
        .select(
            "doc_id",
            "n_grams",
            "sum_logf_micro",
            F.expr("sum_logf_micro div n_grams").cast("long").alias("avg_logf_micro"),
        )
    )


def lsh_s_curve(
    docs: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    floor_j: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH S-curve calibration — per Jaccard bucket of width 0.05,
    the MEASURED detection rate of the banded index against the exact
    shared-shingle ground truth, next to the THEORETICAL detection
    probability ``1 - (1 - j^r)^b`` at the bucket midpoint (the
    standard MinHash-LSH S-curve, r = rows per band, b = bands).

    ``(j_bucket, j_lo, n_true, n_detected, detect_rate, p_theory)`` —
    the table that tells an operator what their ``(bands, rows)``
    configuration actually detects at each similarity level, and
    whether the corpus behaves like the independence assumption says
    it should.  The ANN twin of this diagnostic is ``ivf_recall``.

    Exactness: the theoretical curve is built from explicit
    multiplication chains (never ``pow``, whose rounding is not
    specified identically across engines); ground truth comes from
    the shared-shingle inverted join (a pair with zero shared
    shingles has J = 0 < floor, so the join loses nothing).

    Scale: ground-truth enumeration is the same verification-heavy
    shape as ``minhash_recall`` — a calibration you run on a sample,
    not the full corpus; the LSH candidate side stays banded.
    """
    rows = num_hashes // bands
    sh = char_shingles(docs, k, id_col, text_col).localCheckpoint()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = pairwise_shared_item_counts(
        sh, "sh", min_jaccard_prefilter=floor_j
    )
    truth = (
        inter.join(sizes.select(F.col("doc_id").alias("a_id"), F.col("sz").alias("za")), "a_id")
        .join(sizes.select(F.col("doc_id").alias("b_id"), F.col("sz").alias("zb")), "b_id")
        .withColumn("j", F.col("i") / (F.col("za") + F.col("zb") - F.col("i")))
        .filter(F.col("j") >= floor_j)
        .select("a_id", "b_id", "j")
    )
    cand = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(sh, num_hashes), bands, num_hashes)
    ).withColumn("_f", F.lit(1))
    det = truth.join(cand, ["a_id", "b_id"], "left").select(
        "j", F.coalesce("_f", F.lit(0)).alias("f")
    )
    bk = det.groupBy(
        F.floor(F.col("j") * 20).cast("long").alias("j_bucket")
    ).agg(
        F.count("*").cast("long").alias("n_true"),
        F.sum("f").cast("long").alias("n_detected"),
    )
    jm = F.least(F.col("j_bucket") / F.lit(20.0) + F.lit(0.025), F.lit(1.0))
    jr = jm
    for _ in range(rows - 1):
        jr = jr * jm
    q = F.lit(1.0) - jr
    qb = q
    for _ in range(bands - 1):
        qb = qb * q
    return bk.select(
        "j_bucket",
        F.round(F.col("j_bucket") / F.lit(20.0), 6).alias("j_lo"),
        "n_true",
        "n_detected",
        F.round(F.col("n_detected") / F.col("n_true"), 6).alias("detect_rate"),
        F.round(F.lit(1.0) - qb, 6).alias("p_theory"),
    )


def shared_span_pairs(
    docs: DataFrame,
    n: int = 10,
    max_doc_freq: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Document pairs sharing ≥ 1 contiguous ``n``-word span —
    ``(a_id, b_id, n_shared_spans)``, the k-gram approximation of
    exact-substring deduplication (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better", which finds ≥ 50-
    token shared substrings with a suffix array; here a shared
    ``n``-gram IS a shared n-token substring witness, and
    ``n_shared_spans`` counts distinct witnesses).

    Scale shape: spans reduce to DISTINCT ``(doc_id, span_hash)``
    digests (60-bit md5 prefix — one long per span, never text) and
    the pair set comes from an equi-join on the span hash, so work is
    Σ f(span)² over span frequencies, bounded by the corpus's real
    substring duplication.  The known hazard is boilerplate: one
    corpus-wide span (a license header) makes f ≈ |corpus| and the
    join quadratic — ``max_doc_freq`` drops spans appearing in more
    than that many documents BEFORE the join (standard in the
    suffix-array pipelines too: ubiquitous substrings carry no
    pairing information).  ``None`` = exact.
    """
    from .curation import word_ngrams as _wg  # queries-side helper
    from ..hashutil import hash_prefix

    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_wg(text_col, n)).alias("gram"),
        )
        .select("doc_id", hash_prefix(F.col("gram"), 15).alias("gh"))
        .distinct()
    )
    if max_doc_freq is not None:
        keep = grams.groupBy("gh").agg(F.count("*").alias("_df")).filter(
            F.col("_df") <= max_doc_freq
        )
        grams = grams.join(keep.select("gh"), "gh")
    grams = grams.localCheckpoint()  # feeds both join sides
    a = grams.select(F.col("doc_id").alias("a_id"), "gh")
    b = grams.select(F.col("doc_id").alias("b_id"), "gh")
    return (
        a.join(b, "gh")
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("long").alias("n_shared_spans"))
    )


def span_duplication_exposure(
    docs: DataFrame,
    n: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document duplication exposure — ``(doc_id, n_spans,
    n_shared_spans, shared_frac)``: of a document's distinct ``n``-word
    spans, how many also occur in at least one OTHER document.

    The remove-vs-trim signal of substring-level dedup (Lee et al.
    2021 REMOVE the duplicated span, not the document): a doc at
    ``shared_frac ≈ 1`` is wholly duplicated material (drop it), one
    at 0.1 has a boilerplate fragment (trim it), and the corpus
    histogram of this column is the substring-duplication health
    report.  Documents shorter than ``n`` words have zero spans and
    exposure 0.

    Scale shape: one distinct span-digest relation, one document-
    frequency aggregate on the digest key, one join back — all
    map-side-combined group-bys on 60-bit longs; no pair enumeration
    at all (unlike :func:`shared_span_pairs`, this never materializes
    the quadratic witness set).
    """
    from .curation import word_ngrams as _wg
    from ..hashutil import hash_prefix

    grams = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(_wg(text_col, n)).alias("gram"),
        )
        .select("doc_id", hash_prefix(F.col("gram"), 15).alias("gh"))
        .distinct()
        .localCheckpoint()  # feeds the df aggregate and the join
    )
    span_df = grams.groupBy("gh").agg(F.count("*").alias("_df"))
    per_doc = (
        grams.join(span_df, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum((F.col("_df") >= 2).cast("long")).alias("n_shared_spans"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_shared_spans", F.lit(0)).cast("long").alias("n_shared_spans"),
            F.when(
                F.coalesce("n_spans", F.lit(0)) > 0,
                F.round(F.col("n_shared_spans") / F.col("n_spans"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("shared_frac"),
        )
    )
