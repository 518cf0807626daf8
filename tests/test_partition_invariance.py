"""Partition invariance: a distributed engine's answers must not depend on
HOW the data is partitioned — shuffle partition count and AQE re-planning
are the two knobs a cluster changes out from under a query. Every operator
with order-sensitive internals (windows, tiles, checkpointed candidate
relations, prefix sums, iterative label propagation) runs here under two
deliberately different configurations and must return identical rows."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

# the operators whose implementations most plausibly COULD leak a
# partitioning dependence: numpy tile kernels, two-phase prefix sums,
# iterative convergence loops, window tiebreaks, sampling top-k
QUERIES = [
    "tfidf_docsim",
    "tfidf_docsim_lsh",
    "curate_shard_pack",
    "curate_train_manifest",
    "curate_weighted_sample",
    "dedup_clusters",
    "sim_knn_graph_ann",
    "temporal_asof_join",
    # fixed-point iteration: integer sums make it BIT-exact, not just
    # value-equal, under any partitioning
    "sim_pagerank",
    # the same walk with all restart mass on one seed
    "sim_personalized_pagerank",
    # k-means fit sums members via Spark partial sums — the @6dp grid
    # must absorb the partition-count-dependent association order
    "sim_ivf_topk",
    # four per-subspace fits + ADC lookups: same grid argument, four
    # chances to leak a partitioning dependence
    "sim_pq_topk",
    # checkpointed signature base + per-config band joins + a left-join
    # precision denominator — candidate SETS must not depend on layout
    "dedup_banding_sweep",
    # DECIMAL sum of @6dp KL terms — any-order addition must be exact
    "curate_source_kl",
    # distributed two-phase exact ntile: value-interval buckets + offset
    # join must rank identically under any layout
    "events_rfm",
    # one candidate pass re-filtered per cutoff; left-join zeros included
    "dedup_threshold_sweep",
    # per-language exact percentile thresholds (sort-based aggregate)
    "curate_quality_buckets",
    # keep-first tile removal: the min-(doc,tile) keeper choice and the
    # collect_list/array_sort rebuild must not depend on layout
    "text_clean_corpus",
    # k-means cells + cosine edges + label propagation + keeper window
    "dedup_semantic_keep",
    # the full composition: every invariance above stacked, plus the
    # Gumbel-top-m boundary and the selected-set prefix sum
    "curate_e2e_manifest",
    # corpus-wide pair aggregate with a top-k boundary tiebreak
    "text_bpe_pairs",
    # grid-integer gradient sums: the GD trajectory must not depend on
    # partition count or row order (exact integer arithmetic claim)
    "curate_quality_classifier",
    # per-doc lead window over (opos, ipos): adjacency must not depend
    # on how the exploded token rows are partitioned
    "tfidf_phrase_search",
    # probe-threshold bound prune: the candidate SET may vary at the
    # margin but the final rounded top-k must not
    "sim_mips_topk",
    # additive df merge + scalar-N rebuild must equal the one-shot index
    # under any layout of either side
    "tfidf_incremental_index",
    # two ranked lists + row_number fusion: rank ties break on rounded
    # score + doc, never on arrival order
    "tfidf_hybrid_search",
    # six stacked screens incl. both batch-vs-corpus dup joins
    "curate_incremental_manifest",
    # k-means cells + per-cell quota window over the md5 uniform
    "curate_cluster_sample",
    # iterative argmax trainer: exact long pair sums + lexicographic
    # tiebreak per round — the full merge TRAJECTORY must replay
    # identically (cache keys include the partition conf, so this
    # exercises the real recompute, not a memoized result)
    "text_bpe_train",
    # per-type ignore-nulls prev/next windows over the spine join
    "temporal_gap_fill",
    # DECIMAL(38,18) sums make the matrix bit-exact under any layout —
    # including the small-scan spread repartition branch
    "sim_embedding_covariance",
    # 12-round iterative matvec: the whole trajectory (matvec, norm,
    # Rayleigh) is decimal-summed, so bit-exact under any partitioning
    "sim_pca_power",
    # deflation + second chain + per-vector index-ordered dot folds
    "sim_pca_project",
    # rounded sqdist folds + a floor bucket boundary over a self-join
    "sim_rp_distortion",
    # min_by/max_by selections must combine identically map-side
    # whatever the partial-aggregate merge order
    "events_downsample_m4",
    # two stacked windows + collapse: island numbering must not depend
    # on how the user partition arrives
    "temporal_interval_union",
    # DECIMAL sums at two aggregation levels feeding rounded cos/ratio
    "sim_drift_report",
    # iterative min-label propagation over checkpointed media edges
    "mm_phash_clusters",
    # window lag gaps + exact integer moment sums
    "events_bot_score",
    # checkpointed signature base + per-pair first(sig) selections +
    # decimal error means across three k-slices
    "dedup_minhash_k_sweep",
    # broadcast-centroid argmax + two stacked aggregates
    "sim_centroid_classify",
    # three chained-window funnels unioned
    "events_funnel_window_sweep",
    # per-query row_number top-k over the broadcast query block
    "sim_batch_topk",
    # six audit arms composed (incl. the clusters iteration)
    "curate_audit_dashboard",
    # round 10: the promoted chain — store keys include the partition
    # conf, so each configuration builds (and folds against) its OWN
    # versioned index tables; the served relation must be identical
    "tfidf_incremental_chain_persisted",
    # the drift report + thresholded verdict: centroid fits are
    # @6dp-grid k-means per conf, counts exact integers
    "sim_ivf_refit_decision",
    # the promoted production day: screens + admitted fold + promote
    # under both layouts must serve the same rows
    "tfidf_e2e_promoted",
]


def _rows(spark, sf_dir, name):
    df = entrymod.queries()[name](spark, sf_dir)
    return sorted(map(tuple, df.collect()))


def test_pagerank_deep_iteration_invariant(spark, sf_dir):
    """25 rounds crosses several checkpoint boundaries
    (PAGERANK_CHECKPOINT_EVERY=4): lineage truncation must not change a
    single nano-unit, under either partitioning."""
    from tf_idf_mapreduce_spark.operators.similarity import pagerank

    orig_parts = spark.conf.get("spark.sql.shuffle.partitions")
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        a = sorted(map(tuple, pagerank(spark, sf_dir, iters=25).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        b = sorted(map(tuple, pagerank(spark, sf_dir, iters=25).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_parts)
        spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
    assert a == b, "deep pagerank depends on partitioning"


@pytest.mark.parametrize("name", QUERIES)
def test_results_invariant_to_shuffle_partitioning(spark, sf_dir, name):
    orig_parts = spark.conf.get("spark.sql.shuffle.partitions")
    orig_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        a = _rows(spark, sf_dir, name)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        b = _rows(spark, sf_dir, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig_parts)
        spark.conf.set("spark.sql.adaptive.enabled", orig_aqe)
    assert a == b, f"{name} depends on partitioning"
