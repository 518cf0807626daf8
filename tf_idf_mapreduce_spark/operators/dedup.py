"""Deduplication operators over the ``documents`` table — the LLM-data
pipeline surface (BASELINE.json north star): exact, MinHash+LSH banding,
n-gram Jaccard verification, SimHash, and embedding-cosine near-dup.

Scale design (the whole point at 100 TB):
- Exact dedup: hash-groupBy on md5(text) — one shuffle keyed on a 32-byte
  digest, never on the text itself.
- MinHash: per-doc signature is k=12 strings computed in one scan (no
  shuffle); LSH banding turns the O(n²) pair problem into an equi-join on
  (band, key) — only docs sharing a band key ever meet. Band keys are
  re-hashed to fixed 32-hex strings so shuffle width is constant.
- Jaccard verification runs only on LSH candidates, not all pairs.
- SimHash: one int64 per doc; near-dup candidates via 8-bit band equi-join
  (a hamming-≤3 pair must agree on ≥1 of 4 bands by pigeonhole).
- Embedding near-dup at sf scale scores every block pair (exact); the
  LSH-bucketed variant in similarity.py is the 100 TB path. Both run the
  one tile kernel, ``similarity._tile_cosines``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.grid import r6
from ..functions.hashing import (
    MINHASH_K,
    MINHASH_P,
    MINHASH_PERMS,
    band_keys,
    norm_words,
    shingle_rows,
    word_hash32,
)
from ..sources.io import load_table
from .guard import EXACT_QUADRATIC_MAX_ROWS, guard_exact_quadratic
from .similarity import NEARDUP_MIN_COSINE, lsh_bucket_pairs


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: content hash → group size + canonical keeper.

    ``n_docs > 1`` rows are the duplicates; emitting all groups keeps the
    result a total content inventory. One shuffle on the digest.
    """
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct — shared base for jaccard/minhash.
    Row-level shingle build (``shingle_rows``) keeps it whole-stage codegen."""
    return shingle_rows(_docs(spark, sf_dir), ["doc_id"]).distinct()


def minhash_bands(docs: DataFrame) -> DataFrame:
    """The shared signature/banding relation — (doc_id, sig, band, key),
    one row per (doc, band). SINGLE definition read by the candidate
    join (``minhash_candidate_pairs``), the load report
    (``lsh_bucket_stats``), and ``scripts/scale_probe.py``, so the
    monitoring surfaces can never disagree with the join they monitor.

    Row-level shingles → 12 plain min() aggregates: stays inside
    whole-stage codegen end to end (both the shingle transform and the
    signature fold run ~12x slower interpreted) and partial-aggregates
    map-side, so the shuffle carries one 12-int row per doc regardless
    of doc length.
    """
    sh = shingle_rows(docs, ["doc_id"])
    hashed = sh.select("doc_id", word_hash32(F.col("shingle")).alias("h"))
    sigs = hashed.groupBy("doc_id").agg(
        F.array(
            *[
                F.min((F.col("h") * F.lit(a) + F.lit(b)) % MINHASH_P)
                for a, b in MINHASH_PERMS
            ]
        ).alias("sig")
    )
    return sigs.select(
        "doc_id", "sig", F.explode(band_keys(F.col("sig"))).alias("bk")
    ).select(
        "doc_id", "sig", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidates.

    Pipeline: signature (map-only) → explode b band keys → self-join on
    (band, key) → distinct pairs + signature-agreement estimate of Jaccard.
    Returns (doc_a, doc_b, n_bands_shared, est_jaccard).
    """
    # NB: measured — a localCheckpoint barrier on the bands relation to
    # dedupe the self-join's two subtree computations costs MORE than the
    # recompute (serialization + lost plan fusion); at 100 TB persist the
    # signature table explicitly instead
    bands = minhash_bands(_docs(spark, sf_dir))

    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"), "band", "key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"), "band", "key"
    )
    pairs = a.join(b, ["band", "key"]).where(F.col("doc_a") < F.col("doc_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m
        )
    )
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(
            F.count("*").alias("n_bands_shared"),
            F.first(agree).alias("n_minhash_agree"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_bands_shared",
            F.col("n_minhash_agree").cast("long").alias("n_minhash_agree"),
            (F.col("n_minhash_agree") / MINHASH_K).alias("est_jaccard"),
        )
    )


def lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH bucket-size distribution: bucket count, singleton
    count, max bucket, and the verify-stage candidate-pair load
    Σ sz·(sz-1)/2 — the monitoring report a production dedup pipeline
    reads BEFORE the verify join runs (SCALE_PROBE.md P2: the max bucket
    bounds one join task's fanout; a corpus whose duplication inflates
    buckets shows up here first, and the mitigation — exact-hash dedup
    before MinHash, or bucket splitting — is chosen from this table).

    Same signature/banding relation as ``minhash_candidate_pairs`` —
    literally: both read ``minhash_bands`` (one scan, map-only band
    keys); the stats are one (band, key) aggregate plus a |bands|-row
    rollup. Integer-exact, no rounding.
    """
    bands = minhash_bands(_docs(spark, sf_dir)).select("band", "key")
    bs = bands.groupBy("band", "key").agg(F.count("*").alias("sz"))
    return (
        bs.groupBy("band")
        .agg(
            F.count("*").cast("long").alias("n_buckets"),
            F.sum((F.col("sz") == 1).cast("long")).alias("n_singleton"),
            F.max("sz").cast("long").alias("max_bucket"),
            # integer-exact (sum of sz*(sz-1) is even; double division
            # only matches the DuckDB //2 oracle below 2^53)
            F.expr("sum(cast(sz * (sz - 1) as bigint)) div 2").alias(
                "candidate_pairs"
            ),
        )
        .select(
            F.col("band").cast("long").alias("band"),
            "n_buckets",
            "n_singleton",
            "max_bucket",
            "candidate_pairs",
        )
        .orderBy("band")
    )


def jaccard_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard for the LSH candidates only (the verify stage
    of the dedup pipeline — never all-pairs).

    The distinct (doc, shingle) table is materialized ONCE
    (``localCheckpoint``) and every downstream branch — MinHash signatures
    (min over distinct == min over all, so dedup first is free), band
    self-join, intersection counts, and per-doc sizes — reads the
    materialization instead of re-running the tokenizer per branch
    (measured ~7s → ~4.3s at sf0.1; the naive plan tokenizes 5×). At
    100 TB the same barrier is an explicit temp-table write of the shingle
    relation, not a block-manager checkpoint.

    Returns (doc_a, doc_b, n_common, jaccard).
    """
    base = _candidate_overlap(spark, sf_dir)
    return base.select(
        "doc_a",
        "doc_b",
        "n_common",
        (
            F.col("n_common")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
        ).alias("jaccard"),
    )


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT for the LSH candidates —
    ``n_common/sz_a`` and ``n_common/sz_b`` (Broder's containment): the
    near-dup signal Jaccard underrates when one document embeds the other
    (quote inclusion, boilerplate wrapping, truncated mirrors — a short
    doc fully inside a long one has tiny Jaccard but containment 1.0).

    Same candidate generation and single materialized shingle relation as
    ``jaccard_verified_pairs`` — only the final projection differs, so the
    100 TB posture is identical. Returns (doc_a, doc_b, n_common,
    containment_a, containment_b, max_containment).
    """
    base = _candidate_overlap(spark, sf_dir)
    ca = F.col("n_common") / F.col("sz_a")
    cb = F.col("n_common") / F.col("sz_b")
    return base.select(
        "doc_a",
        "doc_b",
        "n_common",
        ca.alias("containment_a"),
        cb.alias("containment_b"),
        F.greatest(ca, cb).alias("max_containment"),
    )


def cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage detector: LSH near-duplicate candidate pairs whose
    documents live in DIFFERENT sources — the check that catches a
    training subset contaminating a held-out subset (or one crawl
    mirroring another) BEFORE the split ships. Same candidate generation
    and verify base as ``jaccard_verified_pairs``; the source labels ride
    in on two joins against the (doc_id, source) projection, and
    same-source pairs — ordinary intra-corpus duplication — are filtered
    out. Returns (doc_a, doc_b, source_a, source_b, n_common, jaccard).
    """
    base = _candidate_overlap(spark, sf_dir)
    srcs = _docs_sources(spark, sf_dir)
    sa = srcs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a"))
    sb = srcs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b"))
    return (
        base.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(F.col("source_a") != F.col("source_b"))
        .select(
            "doc_a",
            "doc_b",
            "source_a",
            "source_b",
            "n_common",
            (
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def _docs_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", "source")


def _candidate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, n_common, sz_a, sz_b) for every LSH candidate pair —
    the shared verify-stage base of jaccard and containment, checkpointed
    once per session (candidate-sized by LSH construction) in the
    package memo. The semantic_keep accounting: the first registry
    consumer in declaration order (``dedup_jaccard_pairs``) is pinned
    WITH the shingle + minhash + band-join + intersection
    materialization; the other ten consumers (containment, leakage,
    clusters, keeper, precision, agreement, graph stats, threshold
    sweep, split leakage, cross-media agreement, cluster sizes) ride the
    checkpoint. At 100 TB the same reuse is an explicit pair-table write
    shared by the dedup DAG's branches."""
    from ..sources.io import memo, plan_confs, table_fingerprint

    return memo(
        spark,
        sf_dir,
        "candidate_overlap",
        (table_fingerprint(sf_dir, "documents"), *plan_confs(spark)),
        lambda: _candidate_overlap_compute(spark, sf_dir),
    )


def _candidate_overlap_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = doc_shingles(spark, sf_dir).localCheckpoint()

    hashed = sh.select("doc_id", word_hash32(F.col("shingle")).alias("h"))
    sigs = hashed.groupBy("doc_id").agg(
        F.array(
            *[
                F.min((F.col("h") * F.lit(a) + F.lit(b)) % MINHASH_P)
                for a, b in MINHASH_PERMS
            ]
        ).alias("sig")
    )
    bands = sigs.select(
        "doc_id", F.explode(band_keys(F.col("sig"))).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))

    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    # the candidate PAIR LIST is small by LSH construction, so it is hinted
    # broadcast; the candidate x shingle intersection relation is NOT — on a
    # boilerplate-heavy corpus (many near-identical docs) it can exceed any
    # broadcast threshold, and a forced hint would fail the job with a
    # driver OOM where a shuffle join merely degrades. AQE picks the
    # strategy for the second join from the actual post-LSH size.
    inter = (
        F.broadcast(cand)
        .join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    # sizes is corpus-sized (one row per doc): never force-broadcast it.
    # AQE broadcasts whichever side is actually small at runtime.
    return inter.join(sz_a, "doc_a").join(sz_b, "doc_b").localCheckpoint()


def simhash_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash (+ token count), one int per doc.

    explode_outer → 32 conditional sums → bit reassembly: all whole-stage
    codegen (the array-fold formulation pays 32 interpreted lambda passes
    per doc). explode_outer keeps zero-word docs (simhash 0, n_words 0),
    matching the oracle's LEFT JOIN. Map-side partial aggregation means the
    shuffle is one 33-int row per doc.
    """
    words = _docs(spark, sf_dir).select(
        "doc_id", F.explode_outer(norm_words(F.col("text"))).alias("w")
    )
    h = words.select("doc_id", word_hash32(F.col("w")).alias("h"))
    bit_sums = [
        F.sum(
            F.when(F.col("h").isNull(), F.lit(0)).otherwise(
                F.shiftright("h", b).bitwiseAND(F.lit(1)) * 2 - 1
            )
        ).alias(f"s{b}")
        for b in range(32)
    ]
    agg = h.groupBy("doc_id").agg(*bit_sums, F.count("h").alias("n_words"))
    simhash = None
    for b in range(32):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        simhash = term if simhash is None else simhash + term
    return agg.select(
        "doc_id", simhash.alias("simhash"), F.col("n_words").cast("long").alias("n_words")
    )


def hamming_band_pairs(h: DataFrame, n_bits: int, n_bands: int) -> DataFrame:
    """The one banded Hamming near-pair join over ``(doc_id, h long)``.

    Band i is the ``n_bits // n_bands``-bit chunk
    ``shiftrightunsigned(h, i * width) & mask``. Two docs are candidates
    iff they agree on >= 1 band: one equi-join on ``(band, band_val)``
    with ``doc_a < doc_b``, never a cross join. By pigeonhole a pair
    within Hamming ``n_bands - 1`` always shares a clean band. Returns
    ``(doc_a, doc_b, n_bands_shared, hamming)`` per candidate, with the
    exact distance ``bit_count(h_a ^ h_b)`` over the whole word (a hash
    packed into a signed long counts its sign bit too). A NULL hash
    nulls its band values and drops out of the equi-join. The band
    numbering is immaterial: the bands are the same set of disjoint
    chunks whichever way they are numbered."""
    width = n_bits // n_bands
    bands = h.select(
        "doc_id",
        "h",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("h", i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.h").alias("h_a"),
            F.col("b.h").alias("h_b"),
        )
        .agg(F.count("*").cast("long").alias("n_bands_shared"))
        .select(
            "doc_a",
            "doc_b",
            "n_bands_shared",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
            .cast("long")
            .alias("hamming"),
        )
    )


def simhash_near_pairs(
    spark: SparkSession, sf_dir: str, max_hamming: int = 3
) -> DataFrame:
    """SimHash near-dup pairs via the banded equi-join.

    Pigeonhole: a pair with hamming <= 3 over 32 bits agrees exactly on
    at least one of the 4 disjoint 8-bit bands, so the candidates come
    from ``hamming_band_pairs`` — never a cross join — and the exact
    hamming filters them.
    """
    sv = simhash_values(spark, sf_dir).select(
        "doc_id", F.col("simhash").alias("h")
    )
    return (
        hamming_band_pairs(sv, 32, 4)
        .select("doc_a", "doc_b", "hamming")
        .where(F.col("hamming") <= max_hamming)
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 20
) -> DataFrame:
    """Min-label propagation: each round, every node takes the min label
    among itself and its neighbors; converges in O(component diameter)
    rounds. ``nodes``: (doc_id), the full node set; ``edges``:
    (doc_a, doc_b) undirected. Returns (doc_id, label) for every node of
    ``nodes``, label = its component's min doc_id (a node no edge
    touches labels itself).

    This is the engine's iterative-algorithm surface: a driver loop over
    DISTRIBUTED steps (the driver only sees a 1-row convergence count per
    round, never data), with ``localCheckpoint`` truncating lineage so
    plans don't grow per round. The edges are materialized once, and the
    loop runs only over the nodes they touch: candidate edges are a tiny
    fraction of a corpus by construction (LSH banding, IVF cells), so
    every round shuffles candidate-sized tables, and the corpus-sized
    remainder is labeled by one broadcast left join at the end.

    Convergence is VERIFIED, never assumed: the loop only returns after
    a round in which no label moved. A component whose diameter exceeds
    ``max_iter`` (a long near-dup CHAIN — template drift, not a clique)
    raises ``IterationLimitExceeded`` instead of silently returning
    half-propagated labels that would split one true cluster into many;
    diameter rounds suffice, so the remedy is a larger ``max_iter``.
    """
    from .guard import IterationLimitExceeded

    edges = edges.select("doc_a", "doc_b").localCheckpoint()
    sym = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    labels = (
        sym.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.doc_a == labels.doc_id)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
                    "label"
                ),
                (F.col("nlabel") < F.col("label")).alias("_chg"),
            )
        ).localCheckpoint()
        changed = new_labels.where(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            return nodes.join(
                F.broadcast(labels.withColumnRenamed("label", "conn_label")),
                "doc_id",
                "left",
            ).select("doc_id", F.coalesce("conn_label", "doc_id").alias("label"))
    raise IterationLimitExceeded(
        f"connected_components did not converge in {max_iter} rounds — a "
        f"component's diameter exceeds max_iter (labels were still moving "
        f"in the final round). Raise max_iter to at least the longest "
        f"chain's diameter plus one verifying round."
    )


def duplicate_clusters(
    spark: SparkSession, sf_dir: str, max_iter: int = 20
) -> DataFrame:
    """Connected components over the MinHash candidate graph: every doc
    labeled with its cluster's minimum doc_id (singletons label themselves);
    ``is_keeper`` marks the one row per cluster a dedup pass would keep —
    the end-to-end shape of a corpus dedup: sketch → candidates → clusters
    → keepers.
    """
    labels = connected_components(
        _docs(spark, sf_dir).select("doc_id"),
        minhash_candidate_pairs(spark, sf_dir),
        max_iter=max_iter,
    )
    return labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"),
    )


def embedding_near_pairs(
    spark: SparkSession,
    sf_dir: str,
    min_cosine: float = NEARDUP_MIN_COSINE,
    max_rows: int | None = EXACT_QUADRATIC_MAX_ROWS,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact, all-pairs) via blocked
    matrix multiply.

    Naive all-pairs ships O(n²) duplicated vectors through the shuffle; the
    blocked form (``similarity._block_rows``) groups vectors into fixed-size
    blocks, pairs each block with itself and every later block, and scores
    each row with one numpy matmul inside ``mapInPandas`` — the same tile
    kernel as the bucketed twin — so data transfer drops from O(n²·d) to
    O(n²·d/B), and the kernel is BLAS instead of per-pair folds. Exactness
    is unchanged — this is the verification baseline for the LSH-bucketed
    scale path (similarity.lsh_bucket_pairs). Rounded @6dp (summation-order
    differences across engines are ~1e-15); null, dimension-mismatched and
    NaN embeddings drop.

    Still quadratic by design: ``max_rows`` refuses inputs past the
    exact-path cap with a pointer to the bucketed twin.
    """
    from .similarity import _block_rows, _cosine_tile_kernel

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    guard_exact_quadratic(
        e,
        what="dedup.embedding_near_pairs",
        twin="similarity.lsh_bucket_pairs",
        max_rows=max_rows,
    )
    return _block_rows(e).mapInPandas(
        _cosine_tile_kernel(float(min_cosine), emit_sim=True),
        "vec_a long, vec_b long, cos_sim double",
    )


def embedding_lsh_recall(
    spark: SparkSession, sf_dir: str, min_cosine: float = NEARDUP_MIN_COSINE
) -> DataFrame:
    """Recall of the banded-LSH embedding near-dup path
    (``similarity.lsh_bucket_pairs``) against the exact all-pairs
    baseline — the number the band/bit parameters are tuned by before
    switching a 100 TB dedup off the quadratic scan.

    LSH pairs are exact-cosine verified, so they are a subset of the
    exact pairs by construction; the join still computes the overlap
    rather than assuming it. One row: n_hits, n_exact, recall
    (denominator = the exact side's actual pair count).
    """
    exact = embedding_near_pairs(spark, sf_dir, min_cosine=min_cosine).select(
        "vec_a", "vec_b"
    )
    approx = lsh_bucket_pairs(spark, sf_dir, min_cosine=min_cosine).select(
        "vec_a", "vec_b"
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    hits = exact.join(approx, ["vec_a", "vec_b"], "left_semi").agg(
        F.count("*").alias("n_hits")
    )
    return hits.crossJoin(F.broadcast(n_exact)).select(
        "n_hits",
        F.col("n_exact").cast("long").alias("n_exact"),
        r6(F.col("n_hits") / F.col("n_exact")).alias("recall"),
    )


def keeper_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's final act: per duplicate cluster, keep the
    highest-quality member (most words, doc_id tiebreak) — sketch →
    candidates → clusters → quality-ranked keeper, composed end to end.

    The cluster labels join the per-doc quality scan on doc_id, then one
    window per cluster_id picks the keeper; cluster count rides the same
    window partition. Returns (cluster_id, keep_doc_id, keep_n_words,
    n_docs) — n_docs > 1 rows are the clusters an actual dedup would
    collapse.
    """
    from pyspark.sql.window import Window

    clusters = duplicate_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    qual = _docs(spark, sf_dir).select(
        "doc_id", F.size(norm_words(F.col("text"))).cast("long").alias("n_words")
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_words"), F.asc("doc_id"))
    ranked = clusters.join(qual, "doc_id").select(
        "cluster_id",
        "doc_id",
        "n_words",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("cluster_id")).alias("n_docs"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("n_words").alias("keep_n_words"),
        "n_docs",
    )


MINHASH_PRECISION_THRESHOLD = 0.5

#: r values swept by ``banding_sweep`` (b = MINHASH_K // r). r=1 is the
#: high-recall/low-precision end (any single agreeing minhash is a
#: candidate), r=3 the opposite.
BANDING_SWEEP_ROWS = [1, 2, 3]


def banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (r, b) banding TUNING LOOP as one distributed pass: for every
    swept config, candidate count, verified-true count, precision, and
    recall against the union of all configs' true pairs.

    This is the report an engineer reads before fixing the production
    banding: P[candidate] = 1-(1-J^r)^b trades verify cost (precision)
    against missed near-dups (recall), and the right point depends on
    the corpus's Jaccard distribution — measured here, not assumed.

    Scale shape: the k-int signature relation is computed ONCE
    (``localCheckpoint``; at 100 TB an explicit temp table) and every
    config derives its band keys from it map-only — the sweep costs
    |configs| band self-joins over one-row-per-doc relations plus ONE
    exact-Jaccard verify over the UNION of candidates, not a re-shingle
    per config. Candidates that share a band key but no shingle (a
    permuted-min collision) count toward precision's denominator with
    J = 0 via the left join, matching the oracle.
    """
    sh = doc_shingles(spark, sf_dir).localCheckpoint()
    hashed = sh.select("doc_id", word_hash32(F.col("shingle")).alias("h"))
    sigs = (
        hashed.groupBy("doc_id")
        .agg(
            F.array(
                *[
                    F.min((F.col("h") * F.lit(a) + F.lit(b)) % MINHASH_P)
                    for a, b in MINHASH_PERMS
                ]
            ).alias("sig")
        )
        .localCheckpoint()
    )
    cands = None
    for r in BANDING_SWEEP_ROWS:
        b = MINHASH_K // r
        bands = sigs.select(
            "doc_id", F.explode(band_keys(F.col("sig"), r=r, b=b)).alias("bk")
        ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
        x = bands.select(F.col("doc_id").alias("doc_a"), "band", "key")
        y = bands.select(F.col("doc_id").alias("doc_b"), "band", "key")
        cfg = (
            x.join(y, ["band", "key"])
            .where(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
            .withColumn("r", F.lit(r))
        )
        cands = cfg if cands is None else cands.unionByName(cfg)

    union_pairs = cands.select("doc_a", "doc_b").distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        F.broadcast(union_pairs)
        .join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    jacc = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
    truth_total = jacc.where(
        F.col("jaccard") >= MINHASH_PRECISION_THRESHOLD
    ).agg(F.count("*").cast("long").alias("n_true_total"))

    n_true = F.sum(
        F.when(
            F.coalesce(F.col("jaccard"), F.lit(0.0))
            >= MINHASH_PRECISION_THRESHOLD,
            1,
        ).otherwise(0)
    ).cast("long")
    per_r = (
        cands.join(jacc, ["doc_a", "doc_b"], "left")
        .groupBy("r")
        .agg(F.count("*").cast("long").alias("n_candidates"), n_true.alias("n_true"))
    )
    # a swept (r, b) config with ZERO candidates must still report its
    # zero row — left join from the literal swept-r list, exactly as
    # threshold_sweep does for thresholds (precision is NULL at 0/0 in
    # both engines)
    swept = spark.createDataFrame([(int(r),) for r in BANDING_SWEEP_ROWS], "r long")
    nc = F.coalesce(F.col("n_candidates"), F.lit(0)).cast("long")
    nt = F.coalesce(F.col("n_true"), F.lit(0)).cast("long")
    return (
        F.broadcast(swept)
        .join(per_r, "r", "left")
        .crossJoin(F.broadcast(truth_total))
        .select(
            F.col("r").cast("long").alias("r"),
            F.floor(F.lit(MINHASH_K) / F.col("r")).cast("long").alias("b"),
            nc.alias("n_candidates"),
            nt.alias("n_true"),
            r6(nt / nc).alias("precision_at_05"),
            r6(nt / F.col("n_true_total")).alias("recall_vs_union"),
        )
        .orderBy("r")
    )


def minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-quality metric for the MinHash/LSH stage: what fraction
    of LSH candidate pairs survive exact-Jaccard verification at the
    dedup threshold — the number the (r, b) banding parameters are tuned
    by (low precision = wasted verify work; tune alongside recall).

    One aggregate over the existing verify stage — no new shuffles. The
    >= threshold comparison happens on the RAW jaccard double (identical
    division in both engines), not a rounded value.
    """
    jp = jaccard_verified_pairs(spark, sf_dir)
    hit = F.sum(
        F.when(
            F.col("jaccard") >= MINHASH_PRECISION_THRESHOLD, 1
        ).otherwise(0)
    ).cast("long")
    return jp.agg(
        F.count("*").alias("n_candidates"),
        hit.alias("n_true_pairs"),
        r6(hit / F.count("*")).alias("precision"),
    )


def semantic_lexical_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal dedup diagnostic: how much do the LEXICAL near-dup
    pairs (exact shingle-Jaccard over LSH candidates, >= threshold) and
    the SEMANTIC near-dup pairs (embedding cosine over banded-LSH
    candidates, >= threshold) agree? The 1-row report — pair counts per
    modality, their intersection, and the Jaccard of the two pair SETS —
    is what decides whether one dedup pass subsumes the other on a given
    corpus, measured rather than assumed.

    Both inputs are the engine's scale paths (banded candidates, never
    all-pairs); the agreement join is between two candidate-sized pair
    relations — broadcast-sized by LSH construction.
    """
    lex = (
        jaccard_verified_pairs(spark, sf_dir)
        .where(F.col("jaccard") >= MINHASH_PRECISION_THRESHOLD)
        .select("doc_a", "doc_b")
    )
    sem = lsh_bucket_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
    )
    both = lex.withColumn("_lex", F.lit(1)).join(
        sem.withColumn("_sem", F.lit(1)), ["doc_a", "doc_b"], "full_outer"
    )
    n_lex = F.sum(F.coalesce(F.col("_lex"), F.lit(0))).cast("long")
    n_sem = F.sum(F.coalesce(F.col("_sem"), F.lit(0))).cast("long")
    n_both = F.sum(
        F.when(F.col("_lex").isNotNull() & F.col("_sem").isNotNull(), 1).otherwise(0)
    ).cast("long")
    n_union = F.count("*").cast("long")
    return both.agg(
        n_lex.alias("n_lexical_pairs"),
        n_sem.alias("n_semantic_pairs"),
        n_both.alias("n_both"),
        n_union.alias("n_union"),
        F.when(n_union > 0, r6(n_both / n_union))
        .otherwise(F.lit(0.0))
        .alias("pair_set_jaccard"),
    )


#: cosine thresholds swept by ``threshold_sweep`` — all >= the LSH
#: candidate floor NEARDUP_MIN_COSINE, so one candidate pass covers all
THRESHOLD_SWEEP = (0.45, 0.6, 0.75)


def threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-dedup aggressiveness curve: near-dup pair count and the
    number of documents touched at each cosine threshold — the report
    that sets the production cutoff (too low deletes singletons' nearest
    neighbors; too high ships duplicates). ``dedup_banding_sweep``'s
    and ``sim_ivf_probe_sweep``'s sibling for the threshold axis.

    ONE banded-LSH candidate pass (at the lowest swept threshold) feeds
    every cutoff — the sweep re-filters the candidate-sized scored-pair
    relation, never re-scans the corpus. Counts are monotone in the
    threshold by construction.
    """
    pairs = lsh_bucket_pairs(
        spark, sf_dir, min_cosine=min(THRESHOLD_SWEEP)
    ).localCheckpoint(eager=False)
    th = F.explode(
        F.array(*[F.lit(t) for t in THRESHOLD_SWEEP])
    ).alias("threshold")
    tagged = pairs.select("vec_a", "vec_b", "cos_sim", th).where(
        F.col("cos_sim") >= F.col("threshold")
    )
    n_pairs = tagged.groupBy("threshold").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    docs = tagged.select(
        "threshold", F.explode(F.array("vec_a", "vec_b")).alias("doc")
    )
    n_docs = docs.groupBy("threshold").agg(
        F.countDistinct("doc").cast("long").alias("n_docs_involved")
    )
    # a cutoff that kills every pair must still report its zero — left
    # join from the swept threshold list
    ths = spark.createDataFrame(
        [(float(t),) for t in THRESHOLD_SWEEP], "threshold double"
    )
    return (
        ths.join(n_pairs, "threshold", "left")
        .join(n_docs, "threshold", "left")
        .select(
            "threshold",
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_involved", F.lit(0))
            .cast("long")
            .alias("n_docs_involved"),
        )
        .orderBy("threshold")
    )


#: SemDeDup prune threshold — the same cosine floor as the lexical
#: embedding family, so the two prune passes answer at one scale.
SEMDEDUP_COSINE = NEARDUP_MIN_COSINE


def semantic_keep(spark: SparkSession, sf_dir: str, max_iter: int = 20) -> DataFrame:
    """SemDeDup-style semantic prune, end to end: IVF-cell candidate
    blocking → within-cell cosine edges → connected components → one
    keeper per semantic cluster by the corpus quality rule (most words,
    doc_id tiebreak — the same rule as ``keeper_by_quality``). Output is
    shaped exactly like ``curate_keep_list`` — (doc_id, lang, source,
    status) with status in {kept, semantic_dup} — so the lexical and
    semantic prune passes compose into one manifest join.

    Scale shape (the SemDeDup recipe, Abbas et al. 2023): candidate
    pairs form ONLY within a k-means cell — the quadratic is per-cell
    (|cell| ~ n/k; at 100 TB k grows with n, pinned by
    ``ivf_cell_histogram``'s occupancy report), never corpus-wide, and
    the pair relation is an equi-join on cid. ``connected_components``
    iterates over the candidate subgraph only (tiny by construction) and
    labels the corpus-sized remainder by one broadcast join, as for
    ``duplicate_clusters``. The k-means fit is the deterministic @6dp
    IVF fit (``ivf_centroids``), so a DuckDB oracle replays cells, edges,
    components (recursive closure), and keeper choice exactly.
    The composed relation is cached per (sf_dir, documents+embeddings
    fingerprints, partition conf) in the session memo over the durable
    table (``_semantic_keep_table``) — the SemDeDup disposition is consumed by this query, the attrition
    funnel, the e2e manifest, and the agreement report in one bench
    session, and a production pipeline writes it to disk once for the
    same reason. The cache holds a checkpointed DataFrame (executor-side
    blocks), NOT driver-collected rows — corpus-sized data never moves.
    """
    from ..sources.io import memo, plan_confs, table_fingerprint
    from .similarity import IVF_ITERS, IVF_K
    from .similarity import quantizer_generation as _quantizer_generation

    version = (
        table_fingerprint(sf_dir, "documents"),
        table_fingerprint(sf_dir, "embeddings"),
        *plan_confs(spark),
        max_iter,
        # governing hyperparameters (round-8 ADVICE): the durable table
        # must refit, not silently reload, when the algorithm changes
        IVF_K,
        IVF_ITERS,
        SEMDEDUP_COSINE,
        # disposition blocks on IVF cells, so it is a quantizer
        # DEPENDENT: a refit-decision generation bump re-keys it too
        _quantizer_generation(spark, sf_dir),
    )
    return memo(
        spark,
        sf_dir,
        "semantic_keep",
        version,
        lambda: _semantic_keep_table(spark, sf_dir, version, max_iter),
    )


def _semantic_keep_table(
    spark: SparkSession, sf_dir: str, version: tuple, max_iter: int
) -> DataFrame:
    """The SemDeDup disposition behind the durable model store: computed
    once, WRITTEN once as a parquet table under the store, and read back
    by every consumer in every session — the production shape (a dedup
    pipeline persists its disposition; downstream joins read the table).
    The durable key drops the applicationId (files outlive the context);
    when the store is disabled, the store's own ``localCheckpoint``
    fallback keeps consumers on one materialization."""
    from ..sources.model_store import load_or_compute_table

    return load_or_compute_table(
        "semantic_keep",
        ("semantic_keep", sf_dir) + version,
        spark,
        lambda: _semantic_keep_compute(spark, sf_dir, max_iter),
    )[0]


def _semantic_keep_compute(
    spark: SparkSession, sf_dir: str, max_iter: int
) -> DataFrame:
    from pyspark.sql.window import Window

    from .similarity import _nearest_centroid_udf, ivf_centroids

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    # consumed by the cell-tile kernel and the final labeling —
    # materialize the (tiny) assignment once
    assigned = e.select(
        "vec_id",
        "embedding",
        _nearest_centroid_udf(cents)(F.col("embedding")).alias("cid"),
    ).localCheckpoint()
    # within-cell edges on the shared bucket tiles: each IVF cell gathers
    # its members (hash-sharded tile pairs above ``BUCKET_TILE_CAP``, so
    # a mega-cell stays a bounded task) and one matmul scores every pair.
    # Tiles partition the cell, so every unordered pair is emitted exactly
    # once (no dedup step). Corrupt-row scope: the tile kernel drops
    # null/mismatched embeddings, but THIS pipeline is still fail-fast
    # overall — the quantizer assignment upstream (_nearest_centroid_udf,
    # kmeans partial sums) np.stack's the raw column (corrupt embeddings
    # are an ingest-screen problem for the fit path).
    from .similarity import _cosine_tile_kernel, _tiled_bucket_rows

    edges = (
        _tiled_bucket_rows(
            assigned,
            key_cols=["cid"],
            payload_cols=["vec_id", "embedding"],
        )
        .mapInPandas(
            _cosine_tile_kernel(float(SEMDEDUP_COSINE), emit_sim=False),
            "vec_a long, vec_b long",
        )
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    labeled = connected_components(
        e.select(F.col("vec_id").alias("doc_id")), edges, max_iter=max_iter
    ).withColumnRenamed("label", "cluster_id")
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        F.size(norm_words(F.col("text"))).cast("long").alias("n_words"),
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_words"), F.asc("doc_id"))
    result = (
        labeled.join(docs, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("rn") == 1, F.lit("kept"))
            .otherwise(F.lit("semantic_dup"))
            .alias("status"),
        )
    )
    return result


# ---------------------------------------------------------------------------
# Incremental (batch-vs-corpus) dedup — the daily-crawl verb
# ---------------------------------------------------------------------------

#: Minimum signature-agreement Jaccard estimate for an incremental match.
#: Shares the verify threshold with ``minhash_precision`` so "near-dup"
#: means the same thing in the one-shot and incremental pipelines.
INCREMENTAL_EST_JACCARD = MINHASH_PRECISION_THRESHOLD


def _incremental_screen_table(
    spark: SparkSession, sf_dir: str, name: str, compute,
    params: tuple = (),
) -> DataFrame:
    """Durable-table wrapper for an arrival screen: computed once,
    written once under the model store, read by every consumer in every
    session (the production pipeline persists the day's screen verdicts
    for exactly this reason); the store itself falls back to a
    ``localCheckpoint`` when it is disabled. The two arrival screens are
    batch-sized relations consumed by dedup_incremental (OWNER, first in
    registry order), the semantic twin's consumers, the admission
    manifest and the composed index update; the memo entry is named
    after the screen's family.

    ``params`` folds the screen's governing hyperparameters (MinHash
    shape, thresholds, LSH geometry, batch-slice rule) into the durable
    key so an algorithm change mints a NEW hash instead of silently
    serving a stale verdict table (round-8 ADVICE)."""
    from ..sources.io import memo, plan_confs, table_fingerprint

    version = (
        table_fingerprint(sf_dir, "documents"),
        table_fingerprint(sf_dir, "embeddings"),
        *plan_confs(spark),
        params,
    )

    def build() -> DataFrame:
        from ..sources.model_store import load_or_compute_table

        return load_or_compute_table(
            name, ("incremental", name, sf_dir) + version, spark, compute
        )[0]

    return memo(spark, sf_dir, name, version, build)


def corpus_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-side MinHash band relation AS THE PERSISTED ARTIFACT
    the incremental screens' docstrings promise: (c_doc, sig_c, band,
    key), computed once per documents fingerprint, written under the
    model store, and READ by every consumer — the batch arrival screen
    (``incremental_dedup``) and the live one
    (``streaming.q_stream_incremental_dedup``), which previously each
    re-signed the whole corpus per run. At 100 TB this is the signature
    index a dedup service maintains; the daily cost is the arrival
    slice's signatures only. Keyed on the MinHash shape + batch-slice
    rule like every durable screen (a hyperparameter edit refits)."""
    from ..functions.hashing import MINHASH_B, MINHASH_R
    from ..sources.io import plan_confs, table_fingerprint
    from ..sources.model_store import load_or_compute_table
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    key = (
        "corpus_band_index",
        sf_dir,
        table_fingerprint(sf_dir, "documents"),
        MINHASH_K,
        MINHASH_R,
        MINHASH_B,
        SAMPLE_BUCKET_MAX,
        # content is AQE-invariant, but every sibling durable key carries
        # this conf — uniform key discipline beats a per-key exception
        # (round-9 ADVICE)
        *plan_confs(spark),
    )

    def compute() -> DataFrame:
        corpus = _docs(spark, sf_dir).where(
            ~(_sample_bucket() <= SAMPLE_BUCKET_MAX)
        )
        return minhash_bands(corpus).select(
            F.col("doc_id").alias("c_doc"),
            F.col("sig").alias("sig_c"),
            "band",
            "key",
        )

    return load_or_compute_table("corpus_band_index", key, spark, compute)[0]


def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screen: a NEW BATCH of documents against the
    EXISTING corpus — the verb a daily-crawl pipeline runs, where the
    corpus is already deduped and only arrivals need checking.

    The batch is the deterministic ~10% content-hash slice the sampling
    surface already defines (``curation.hash_sample``'s bucket rule), so
    the split is reproducible and engine-replayable; everything else is
    the standard MinHash/LSH machinery (``minhash_bands``), but the band
    join is BATCH x CORPUS instead of the corpus self-join: candidate
    volume scales with |batch| x duplication, not |corpus|², and the
    corpus side never pairs with itself.

    100 TB posture: the corpus band relation is an INDEX — in production
    it is computed once, persisted bucketed by (band, key), and each
    day's batch (a ~0.1% arrival slice) broadcasts or shuffles only
    itself against it. Re-signing the corpus per batch, as this
    self-contained query must at fixture scale, is exactly what the
    persisted signature table amortizes away; the join topology — the
    expensive part — is identical. Reference parity: extends the
    one-shot dedup family (no reference analogue; the reference's corpus
    is static — DocumentWordCount.java:1-60 rereads everything per run).

    Returns one row per batch doc: ``(doc_id, status, match_doc_id,
    n_matches, best_est)`` where status is ``drop`` iff some corpus doc
    shares >=1 LSH band AND the signature-agreement Jaccard estimate
    clears ``INCREMENTAL_EST_JACCARD``; ``match_doc_id`` is the smallest
    matching corpus doc (stable under re-partitioning).
    """
    from ..functions.hashing import MINHASH_B, MINHASH_R
    from .curation import SAMPLE_BUCKET_MAX

    return _incremental_screen_table(
        spark,
        sf_dir,
        "incremental_dedup",
        lambda: _incremental_dedup_compute(spark, sf_dir),
        params=(
            MINHASH_K, MINHASH_R, MINHASH_B,
            INCREMENTAL_EST_JACCARD, SAMPLE_BUCKET_MAX,
        ),
    )


def _incremental_dedup_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    docs = _docs(spark, sf_dir)
    is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX
    batch_docs = docs.where(is_batch)

    bb = minhash_bands(batch_docs).select(
        F.col("doc_id").alias("b_doc"), F.col("sig").alias("sig_b"), "band", "key"
    )
    # the corpus side is the persisted signature index (shared with the
    # streaming screen) — only the arrival slice is signed per run
    cb = corpus_band_index(spark, sf_dir)
    agree = F.size(
        F.filter(F.zip_with("sig_b", "sig_c", lambda x, y: x == y), lambda m: m)
    )
    pairs = (
        bb.join(cb, ["band", "key"])
        .groupBy("b_doc", "c_doc")
        .agg(F.first(agree).alias("n_agree"))
        .where(F.col("n_agree") / MINHASH_K >= INCREMENTAL_EST_JACCARD)
    )
    per_batch = pairs.groupBy("b_doc").agg(
        F.min("c_doc").alias("match_doc_id"),
        F.count("*").cast("long").alias("n_matches"),
        (F.max("n_agree") / MINHASH_K).alias("best_est"),
    )
    return (
        batch_docs.select("doc_id")
        .join(per_batch, F.col("doc_id") == F.col("b_doc"), "left")
        .select(
            "doc_id",
            F.when(F.col("match_doc_id").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("status"),
            "match_doc_id",
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            "best_est",
        )
    )


def incremental_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EMBEDDING-side arrival screen — ``incremental_dedup``'s
    semantic twin: batch vectors against the corpus's hyperplane-LSH
    buckets, exact-cosine verify at ``NEARDUP_MIN_COSINE``, same output
    shape (keep/drop + matched corpus doc). Together the two incremental
    screens cover both failure modes: lexical near-copies that embed
    differently, and paraphrases that share no shingles.

    Band join is BATCH x CORPUS on (band_idx, band_val) — the corpus
    signature side is the persisted ANN index at 100 TB — and the
    verify cosine runs only on bucket-collision candidates, scored per
    bucket tile with ``lsh_bucket_pairs``' tile kernel (one matmul per
    tile, its batch x corpus entries kept). Rounding
    mirrors the lsh-pairs convention: floor(cos*1e6+0.5)/1e6,
    threshold applied to the rounded value.
    """
    from .curation import SAMPLE_BUCKET_MAX
    from .similarity import BAND_BITS, N_BANDS

    return _incremental_screen_table(
        spark,
        sf_dir,
        "incremental_semantic_dedup",
        lambda: _incremental_semantic_compute(spark, sf_dir),
        params=(BAND_BITS, N_BANDS, NEARDUP_MIN_COSINE, SAMPLE_BUCKET_MAX),
    )


def _incremental_semantic_compute(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket
    from .similarity import (
        _band_rows,
        _tile_kernel,
        _tiled_bucket_rows,
        lsh_signatures,
    )

    tag = _docs(spark, sf_dir).select(
        "doc_id", (_sample_bucket() <= SAMPLE_BUCKET_MAX).alias("is_batch")
    )
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bands = (
        _band_rows(lsh_signatures(spark, sf_dir))
        .join(tag, F.col("vec_id") == F.col("doc_id"))
        .join(e, "vec_id")
    )
    # candidates are scored per BUCKET-TILE (``similarity._tile_cosines``
    # over ``_tiled_bucket_rows``: bounded task size at any skew); the
    # screen keeps the batch-row x corpus-column entries of each block.
    # A pair colliding in several bands is deduped by PAIR IDENTITY
    # (``max(cos_sim)``), not by float equality of recomputations.
    rows = _tiled_bucket_rows(
        bands,
        key_cols=["band_idx", "band_val"],
        payload_cols=["vec_id", "is_batch", "embedding"],
    )
    thr = float(NEARDUP_MIN_COSINE)

    def batch_x_corpus(m, r, c, sims):
        isb = m["is_batch"].astype(bool)
        ia, ib = np.nonzero(isb[r][:, None] & ~isb[c][None, :] & (sims >= thr))
        return {
            "b_vec": m["vec_id"][r][ia],
            "c_vec": m["vec_id"][c][ib],
            "cos_sim": sims[ia, ib],
        }

    scored = (
        rows.mapInPandas(
            _tile_kernel(batch_x_corpus), "b_vec long, c_vec long, cos_sim double"
        )
        .groupBy("b_vec", "c_vec")
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    per_batch = scored.groupBy("b_vec").agg(
        F.min("c_vec").alias("match_doc_id"),
        F.count("*").cast("long").alias("n_matches"),
        F.max("cos_sim").alias("best_cos"),
    )
    return (
        tag.where(F.col("is_batch"))
        .join(per_batch, F.col("doc_id") == F.col("b_vec"), "left")
        .select(
            "doc_id",
            F.when(F.col("match_doc_id").isNotNull(), F.lit("drop"))
            .otherwise(F.lit("keep"))
            .alias("status"),
            "match_doc_id",
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            "best_cos",
        )
    )


def exact_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after CANONICALIZATION — lowercase + whitespace
    collapse + trim before hashing — the variant real pipelines run
    next to raw-byte dedup (`exact_dedup_groups`): a mirrored page that
    differs only in case or reflowed whitespace is the most common
    trivial duplicate raw hashing misses. Emits the same inventory
    shape plus how many RAW-distinct variants each canonical group
    absorbs — `n_variants > 1` rows are exactly the docs the raw pass
    left behind.

    Same one-digest-shuffle cost as the raw pass; normalization is
    map-only codegen regex."""
    canon = F.trim(
        F.regexp_replace(F.lower(F.col("text")), "[ \\t\\n\\r\\f]+", " ")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.md5("text").alias("raw_hash"), canon.alias("c"))
        .groupBy(F.md5("c").alias("canon_hash"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("raw_hash").alias("n_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


#: signature sizes swept by the MinHash accuracy report (prefixes of the
#: one k=12 signature — smaller-k sketches are exact prefix subsets).
MINHASH_K_SWEEP = (4, 8, 12)


def minhash_k_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signature-size sensitivity report: how accurate is the MinHash
    Jaccard ESTIMATE at k = 4 / 8 / 12 hashes, measured against the
    exact shingle Jaccard on the same candidate pairs — the sketch-
    sizing decision report (the banding/threshold-sweep pattern turned
    on the signature itself; E[err] ~ 1/sqrt(k), now measured not
    recited).

    ONE signature pass serves every k: a k-prefix of the permutation
    list is itself a valid k-hash MinHash sketch, so the sweep slices
    the stored signature instead of re-hashing the corpus per k; the
    candidate set (k=12 banding) and the exact-Jaccard verify base are
    the already-characterized passes. Per-pair errors round @6dp before
    the DECIMAL mean, so both engines aggregate identical values."""
    bands = minhash_bands(_docs(spark, sf_dir))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
        "band", "key",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
        "band", "key",
    )
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.first("sig_a").alias("sig_a"),
            F.first("sig_b").alias("sig_b"),
        )
    )
    truth = jaccard_verified_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", "jaccard"
    )
    j = pairs.join(truth, ["doc_a", "doc_b"])
    parts = []
    for k in MINHASH_K_SWEEP:
        agree_k = F.size(
            F.filter(
                F.zip_with(
                    F.slice("sig_a", 1, k),
                    F.slice("sig_b", 1, k),
                    lambda x, y: x == y,
                ),
                lambda m: m,
            )
        )
        err = F.round(F.abs(agree_k / F.lit(k) - F.col("jaccard")), 6)
        parts.append(
            j.select(err.alias("e")).agg(
                F.count("*").alias("n_pairs"),
                r6(
                    F.sum(F.col("e").cast("decimal(38,6)")).cast("double")
                    / F.count("*")
                ).alias("mean_abs_err"),
                F.max("e").alias("max_abs_err"),
            ).select(
                F.lit(k).cast("long").alias("k"),
                "n_pairs",
                "mean_abs_err",
                "max_abs_err",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("k")


def cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How duplicated is this corpus, at one glance: the distribution of
    near-duplicate cluster sizes (size 1 = unique docs) plus each size's
    share of documents — the number that decides whether dedup is a
    rounding error or halves the corpus, and the monitoring row a daily
    ingest charts over time. Composes ``duplicate_clusters``; two tiny
    aggregates over its labels; share on the @6dp grid."""
    labels = duplicate_clusters(spark, sf_dir)
    sizes = labels.groupBy("cluster_id").agg(F.count("*").alias("sz"))
    hist = sizes.groupBy("sz").agg(F.count("*").alias("n_clusters"))
    # total as a broadcast 1-row aggregate (A4 pattern) — no driver
    # scalar collect for something the plan can attach itself
    total = hist.agg(
        F.sum(F.col("sz") * F.col("n_clusters")).alias("n_total")
    )
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            F.col("sz").alias("cluster_size"),
            "n_clusters",
            (F.col("sz") * F.col("n_clusters")).alias("n_docs"),
            r6(
                F.col("sz") * F.col("n_clusters") / F.col("n_total")
            ).alias("doc_share"),
        )
        .orderBy("cluster_size")
    )


def graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structure report of the verified near-duplicate graph: nodes,
    edges, wedges, triangles, and global transitivity (3*triangles /
    wedges) — the one-row health check that tells a dedup pass whether
    its pair relation is chains (transitivity ~0: drift, template
    families) or cliques (~1: true duplicate clusters safe to collapse
    to one keeper). Complements ``dedup_clusters`` (which only sees
    connectivity, not density).

    Edges are the jaccard-verified pairs at the shared precision
    threshold (never all-pairs — the banded candidates bound them).
    Triangle counting is the classic two-join formulation over the
    a<b-canonical edge list: E(a,b) ⋈ E(b,c) builds open wedges, the
    third join closes them — at 100 TB the join keys are edge
    endpoints, so skew follows degree; the production hardening is
    degree-ordered orientation (each edge stored low-degree→high-degree
    caps fan-out at sqrt(E)); at the candidate-bounded edge volumes the
    verify stage emits, AQE's skew split covers the fixture-to-PB
    range. Every output but transitivity is an exact BIGINT."""
    pairs = jaccard_verified_pairs(spark, sf_dir).where(
        F.col("jaccard") >= MINHASH_PRECISION_THRESHOLD
    )
    e = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    deg = (
        e.select(F.col("doc_a").alias("v"))
        .union(e.select(F.col("doc_b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("deg"))
    )
    wedges = deg.agg(
        # integral all the way: deg*(deg-1) is even so `div 2` is exact
        # per-term; a double sum would lose exactness past 2^53 wedges
        F.expr("sum(deg * (deg - 1) div 2)")
        .cast("long")
        .alias("n_wedges"),
        F.count("*").cast("long").alias("n_nodes"),
        F.max("deg").cast("long").alias("max_degree"),
    )
    e1 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = e.select(F.col("doc_a").alias("b"), F.col("doc_b").alias("c"))
    e3 = e.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("c"))
    tri = (
        e1.join(e2, "b")
        .join(e3, ["a", "c"])
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    edges_n = e.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        wedges.crossJoin(F.broadcast(edges_n))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "max_degree",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                r6(3.0 * F.col("n_triangles") / F.col("n_wedges")),
            )
            .otherwise(F.lit(0.0))
            .alias("transitivity"),
        )
    )
