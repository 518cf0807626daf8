"""Physical-plan invariants: the scale properties the engine is designed
around must be visible in the executed plans, not just intended."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name",
    ["rel_revenue_by_nation", "rel_brand_revenue", "temporal_range_join",
     "dedup_minhash_pairs", "rel_sql_q18", "curate_train_manifest",
     "text_clean_corpus", "curate_features", "text_bpe_pairs",
     "tfidf_phrase_search"],
)
def test_no_nested_loop_joins(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


#: The nine TF-IDF pipeline and search heads (the benchmark's
#: ``tfidf-corpus`` workload), all derived from one TF-IDF core.
TFIDF_CORE_HEADS = (
    "tfidf_word_count", "tfidf_doc_totals", "tfidf_doc_freq", "tfidf_full",
    "tfidf_top30", "tfidf_search", "tfidf_keywords", "tfidf_bm25",
    "tfidf_postings",
)


@pytest.mark.parametrize("name", TFIDF_CORE_HEADS)
def test_tfidf_head_scans_and_tokenizes_text_once(spark, name):
    # the executed (final AQE) plan, where a reused exchange is a leaf:
    # every branch (df, query terms, avgdl) must reuse the core's
    # exchanges, so the corpus text is read and tokenized exactly once
    df = entrymod.queries()[name](spark, SF)
    df.collect()
    adaptive = df._jdf.queryExecution().executedPlan()
    assert adaptive.nodeName() == "AdaptiveSparkPlan"
    plan = adaptive.executedPlan().toString()
    scans = re.findall(r"FileScan parquet [^\n]*", plan)
    text_scans = [s for s in scans if re.search(r"ReadSchema: struct<[^>]*\btext:", s)]
    assert len(text_scans) == 1, plan


def test_tfidf_scalar_broadcast_is_the_only_nested_loop(spark):
    # the 1-row total_docs broadcast cross join (A4) is the ONE legitimate
    # BroadcastNestedLoopJoin — build side is a single aggregate row
    plan = _plan(spark, "tfidf_search")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= plan.count("Cross")


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "rel_revenue_by_nation")
    assert plan.count("BroadcastHashJoin") >= 3  # nation, customer, orders chain
    assert "SortMergeJoin" not in plan


def test_tfidf_scan_prunes_columns(spark):
    plan = _plan(spark, "tfidf_full")
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text"}


def test_filter_pushed_to_scan(spark):
    plan = _plan(spark, "temporal_asof_join")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("event_type" in p or "IsNotNull" in p for p in pushed)


def test_partial_aggregation_planned(spark):
    # Catalyst must plan partial+final hash aggregation for the word count
    # (the map-side combine the reference never configured)
    plan = _plan(spark, "tfidf_word_count")
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["text_pii_scan", "curate_hash_sample"])
def test_curation_scans_are_shuffle_free(spark, name):
    # map-only passes: zero exchanges, and the scan reads only the columns
    # the operator touches (a 100 TB filter pass runs at scan speed)
    plan = _plan(spark, name)
    assert "Exchange" not in plan
    schemas = re.findall(r"ReadSchema: struct<([^>]*)", plan)
    assert schemas
    for s in schemas:
        cols = {c.split(":")[0] for c in s.split(",") if c}
        assert cols <= {"doc_id", "text", "source"}


def test_contamination_broadcasts_small_sides(spark):
    # the benchmark n-gram set and the per-pair hit counts are both
    # candidate-sized — the corpus-wide tables must never sort-merge
    plan = _plan(spark, "curate_contamination")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_postings_and_repetition_partial_aggregate(spark):
    # both shuffle only post-partial-agg rows, never raw tokens
    for name in ("tfidf_postings", "text_repetition"):
        plan = _plan(spark, name)
        assert plan.count("HashAggregate") >= 2, name


@pytest.mark.parametrize(
    "name",
    ["rel_q20_nested", "rel_q21_waiting", "rel_sql_q3", "events_wau",
     "temporal_asof_forward", "temporal_scd2"],
)
def test_new_round2_plans_avoid_nested_loops(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q20_part_filter_broadcasts_onto_fact(spark):
    # the 'small%' part list must reach lineitem as a broadcast, not a
    # shuffle of the fact table
    plan = _plan(spark, "rel_q20_nested")
    assert "BroadcastHashJoin" in plan
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    assert any("l_shipdate" in p for p in pushed)  # date range at the scan


def test_sql_q3_pushes_both_date_filters(spark):
    plan = _plan(spark, "rel_sql_q3")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed
    assert "TakeOrderedAndProject" in plan  # LIMIT 10 never sorts everything


def test_jaccard_verify_broadcasts_only_the_pair_list(spark):
    # the candidate PAIR LIST may be hinted broadcast (small by LSH
    # construction), but the candidate x shingle intersection relation and
    # the corpus-sized per-doc size table must never be forced — on a
    # boilerplate-heavy corpus a forced hint OOMs the driver where a
    # shuffle join degrades. The logical plan must carry at most one
    # user-supplied broadcast hint (the pair list).
    df = entrymod.queries()["dedup_jaccard_pairs"](spark, SF)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert logical.count("UnresolvedHint") == 0
    hints = re.findall(r"ResolvedHint \(strategy=broadcast\)", logical)
    assert len(hints) <= 1


def test_doc_freq_is_agg_join_not_window(spark):
    # A3 document frequency must plan as partial agg + join, never a
    # window partitioned on word: a word-partitioned window puts every
    # posting of the hottest term in one task (skew), while the agg
    # partial-combines map-side and the join sees one row per word.
    # (The A2 doc-totals window partitioned on doc is fine — per-doc
    # groups are bounded by document length, not corpus size.)
    plan = _plan(spark, "tfidf_doc_freq")
    assert not re.search(r"windowspecdefinition\(word", plan)
    assert plan.count("HashAggregate") >= 2


def test_doc_freq_salted_joins_on_composite_key(spark):
    # the salted variant's whole point: the join back is keyed on
    # (word, _salt) — a hot word spreads over n_salts join tasks — and
    # no window on word appears. Counting is two stacked aggregates
    # ((word,_salt) partials then word), each partial-combined.
    plan = _plan(spark, "tfidf_doc_freq_salted")
    assert not re.search(r"windowspecdefinition\(word", plan)
    assert "_salt" in plan
    assert re.search(r"\[word#\d+, _salt#\d+[L]?\], \[word#\d+, _salt#\d+",
                     plan), "join keys must be (word, _salt)"
    assert plan.count("HashAggregate") >= 4


@pytest.mark.parametrize(
    "name",
    ["tfidf_docsim_lsh", "dedup_embedding_lsh_pairs", "sim_knn_graph_ann",
     "mm_ahash_pairs", "dedup_semantic_lexical_agreement", "mm_phash_pairs",
     "dedup_simhash_pairs"],
)
def test_lsh_candidate_paths_have_no_allpairs_join(spark, name):
    # the whole point of the banded-LSH paths: candidates come from an
    # EQUI-join on (band, key) — any cartesian/nested-loop in the plan
    # means the quadratic surface snuck back in
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_banding_sweep_single_scalar_cross_join(spark):
    # per-config candidates come from band equi-joins; the only nested
    # loop allowed is the 1-row n_true_total broadcast for the recall
    # denominator
    plan = _plan(spark, "dedup_banding_sweep")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_ivf_topk_single_scalar_cross_join(spark):
    # the only nested loop allowed is the 1-row broadcast query vector;
    # cell probing must be a plain filter, never a join against the corpus
    plan = _plan(spark, "sim_ivf_topk")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_asof_directions_share_one_exchange_shape(spark):
    # both directions: exactly one hash exchange keyed on user_id for the
    # window (plus AQE wrappers) — no join operator at all
    for name in ("temporal_asof_join", "temporal_asof_forward"):
        plan = _plan(spark, name)
        assert "Join" not in plan, name
        assert plan.count("Exchange hashpartitioning(user_id") >= 1, name


def test_weighted_sample_is_scan_plus_topm(spark):
    # A-ES sampling must run at scan speed: zero exchanges before the
    # top-m, and the m-row result via TakeOrderedAndProject (never a
    # global sort of the corpus)
    plan = _plan(spark, "curate_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_shard_pack_has_no_global_window(spark):
    # the prefix sum must be two-phase: every window partitioned (by
    # bucket, or over the tiny per-bucket totals) — a window over the
    # full corpus in one partition would show an Exchange SinglePartition
    # feeding a corpus-sized relation; the only single-partition exchange
    # allowed is the |buckets|-row offsets relation
    plan = _plan(spark, "curate_shard_pack")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_sql_q6_is_scan_bound(spark):
    # every predicate reaches the scan; aggregate partial-combines to one
    # row — no join, no window, nothing else allowed in the plan
    plan = _plan(spark, "rel_sql_q6")
    # Spark truncates long PushedFilters lists in toString — assert on the
    # scan node text instead of a fully-parsed bracket list
    scan = plan[plan.index("FileScan"):]
    assert "PushedFilters: [IsNotNull(l_shipdate)" in scan
    assert "IsNotNull(l_discount)" in scan and "IsNotNull(l_quantity)" in scan
    assert plan.count("HashAggregate") >= 2
    assert "Join" not in plan


def test_sql_q10_broadcasts_nation_and_caps_sort(spark):
    plan = _plan(spark, "rel_sql_q10")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "l_returnflag" in pushed and "o_orderdate" in pushed


def test_sql_q7_prunes_nations_before_fact_join(spark):
    # the nation-pair disjunction must reach the nation scans as filters
    # (each role pruned to 2 rows) and every dim must broadcast
    plan = _plan(spark, "rel_sql_q7")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "n_name" in plan


def test_sql_q8_broadcasts_all_dims(spark):
    # 7-relation join: every dim (part, supplier, customer, 2x nation,
    # region) must broadcast onto the lineitem-orders backbone; a
    # SortMergeJoin on a dim or any cartesian means Catalyst failed to
    # reorder the comma joins
    plan = _plan(spark, "rel_sql_q8")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 5


def test_sql_q5_broadcasts_dims_and_pushes_date(spark):
    # the c_nationkey = s_nationkey cross-dimension predicate must not
    # degrade the plan: customer, supplier, nation, region all broadcast
    # onto the lineitem-orders backbone, the one-year window reaches the
    # orders scan, and nothing plans as a cartesian
    plan = _plan(spark, "rel_sql_q5")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    assert "o_orderdate" in pushed
    assert "r_name" in pushed


def test_sql_q19_factors_single_side_conjuncts_out_of_the_or(spark):
    # the OR-of-ANDs spans both join sides; the factored-out residues
    # must reach BOTH scans (brand IN-list on part, quantity range on
    # lineitem) and the join must broadcast the filtered part side
    plan = _plan(spark, "rel_sql_q19")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # long OR-lists truncate in toString — assert on the scan node text
    assert re.search(r"PushedFilters: \[[^\n]*p_brand", plan)
    assert re.search(r"PushedFilters: \[[^\n]*l_quantity", plan)


def test_sql_q9_filters_part_before_the_fact_join(spark):
    # the LIKE filter evaluates on the part scan (visible as a Filter
    # over the part FileScan, contains can't push to parquet stats) and
    # every dim broadcasts; only lineitem-orders shuffles
    plan = _plan(spark, "rel_sql_q9")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_sql_q15_max_subquery_is_not_a_rescan(spark):
    # the scalar max() compares against the aggregated revenue relation;
    # lineitem must be scanned at most twice (CTE + subquery — Spark does
    # not share the CTE across the scalar), never per-supplier
    plan = _plan(spark, "rel_sql_q15")
    assert plan.count("FileScan parquet") <= 3
    assert "CartesianProduct" not in plan


def test_e2e_manifest_plan_no_new_barriers(spark):
    """The composed pipeline must stay ONE lazy plan: no cartesian
    products, the m-row selected set and its shard relation join as
    broadcasts, and the only materialization barriers are the component
    algorithms' own localCheckpoints (visible as Scan ExistingRDD), not
    new ones added by the composition glue."""
    plan = _plan(spark, "curate_e2e_manifest")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every data-sized join in the final assembly is a hash equi-join;
    # the DSIR scalar cross-attaches live behind the selected-set
    # barrier, so the assembled plan has NO nested-loop span at all
    assert plan.count("BroadcastNestedLoopJoin") == 0
    # the assembly reads exactly the two owned barriers (disposition +
    # selected set, the latter twice: broadcast + shard branch) plus the
    # shard branch's re-read — no further materialization sneaks in
    assert plan.count("Scan ExistingRDD") <= 6


@pytest.mark.parametrize(
    "name",
    ["rel_sql_q4_exact", "rel_sql_q12", "rel_sql_q13", "rel_sql_q22",
     "dedup_graph_stats"],
)
def test_round7_plans_avoid_cartesian(spark, name):
    """The derived-column TPC-H closures and the near-dup graph report
    must plan without cartesian products; any BroadcastNestedLoopJoin
    span must be a 1-row scalar attach (the A4 shape), which these
    queries keep under 2 per plan."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_markov_scalar_attaches_bounded_by_checkpoint_cadence(spark):
    """events_markov_stationary attaches TWO 1-row broadcasts per
    iteration (type count + dangling mass); localCheckpoint every 4
    rounds truncates lineage, so the executed plan may carry at most
    2 x cadence of those A4-shape spans — and never a cartesian."""
    plan = _plan(spark, "events_markov_stationary")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 8


def test_pareto_local_shrink_precedes_coalesce(spark):
    """The skyline pass must run the per-partition frontier kernel
    BEFORE the single-partition coalesce — the corpus-sized relation
    never crosses to one task whole. (The registry query checkpoints
    each layer, hiding the kernel from its final plan, so this pins the
    uncheckpointed pass directly.)"""
    from tf_idf_mapreduce_spark.operators.curation import _skyline_of

    feats = spark.range(1000).selectExpr(
        "id AS doc_id", "id % 97 AS n_words", "id % 53 AS n_types",
        "id % 11 AS n_digits"
    )
    merged = _skyline_of(feats, max_merge_rows=None)
    plan = merged._jdf.queryExecution().executedPlan().toString()
    # the local pass is checkpointed (guard counts it without recompute),
    # so the merge plan reads the ALREADY-SHRUNK RDD: final kernel above
    # Coalesce(1) above the checkpoint scan — never the raw input
    kernel = plan.find("MapInPandas")
    coalesce = plan.find("Coalesce 1")
    scan = plan.find("Scan ExistingRDD")
    assert -1 < kernel < coalesce < scan
    assert "Range" not in plan  # raw input never reaches the merge task
    # and the shrink is real: the merge input is smaller than the corpus
    assert merged.count() < 1000


def test_persist_screens_policy_resolution(spark):
    """Explicit flag > conf > default-persist: the durable screen
    tables measured faster than the lazy composition on local disk too
    (P9 round-8 cold re-measurement), so auto resolves to persist
    everywhere; lazy stays forcible via flag or conf."""
    from tf_idf_mapreduce_spark.operators.curation import (
        SCREEN_BARRIER_CONF,
        resolve_persist_screens,
    )

    assert resolve_persist_screens(spark, SF, None) is True
    assert resolve_persist_screens(spark, "s3a://bucket/sf1000", None) is True
    # explicit flag always wins
    assert resolve_persist_screens(spark, "s3a://bucket/x", False) is False
    assert resolve_persist_screens(spark, SF, True) is True
    # conf overrides the default
    spark.conf.set(SCREEN_BARRIER_CONF, "false")
    try:
        assert resolve_persist_screens(spark, SF, None) is False
    finally:
        spark.conf.unset(SCREEN_BARRIER_CONF)


def test_incremental_manifest_persist_bounds_documents_scans(spark):
    """In persist mode every screen is a durable parquet screen table,
    so the manifest plan reads the corpus at most screens+1 times (the
    round-7 verdict's done-criterion; lazily the same plan re-scans the
    corpus inside every screen subtree)."""
    from tf_idf_mapreduce_spark.operators.curation import (
        incremental_manifest,
    )

    plan = (
        incremental_manifest(spark, SF, persist_screens=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("documents.parquet") <= 6


def test_incremental_e2e_persist_bounds_documents_scans(spark):
    """The composed index update re-evaluates its batch side per merge
    branch; with durable screen tables + the admitted barrier that is a
    handful of corpus scans, not the 74 the lazy plan carries."""
    from tf_idf_mapreduce_spark.operators.tfidf import incremental_e2e_index

    plan = (
        incremental_e2e_index(spark, SF, persist_screens=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("documents.parquet") <= 10


def test_incremental_e2e_lazy_admitted_barrier_bounds_scans(spark):
    """Even in lazy mode the admitted-set barrier must collapse the
    admission manifest out of the merge branches: the round-6 audit
    counted 74 documents scans without it; with it the plan reads the
    corpus a handful of times (screens once + the two merge sides)."""
    from tf_idf_mapreduce_spark.operators.tfidf import incremental_e2e_index

    plan = (
        incremental_e2e_index(spark, SF, persist_screens=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("documents.parquet") <= 8


def test_ann_scorecard_shares_base_and_exact(spark):
    """Round-9: the five recall branches must read ONE checkpointed
    (vec_id, embedding) base and ONE exact top-k — the round-8 audit
    counted 46 embeddings re-scans and 33 NLJ spans from per-branch
    re-derivation. With the shared base the executed plan contains NO
    embeddings file scan at all (every branch reads the checkpoint) and
    only bounded 1-row broadcast attaches remain."""
    plan = _plan(spark, "sim_ann_scorecard")
    assert len(re.findall(r"FileScan parquet.*embeddings", plan)) == 0
    assert plan.count("FileScan") <= 10
    assert "CartesianProduct" not in plan


def test_incremental_persisted_fold_reads_index_tables(spark):
    """The persisted-index fold: documents scans belong to the batch
    branches only (<=4) and both bucketed index tables appear as
    catalog-table scans."""
    plan = _plan(spark, "tfidf_incremental_persisted")
    assert plan.count("documents.parquet") <= 4
    assert "tfidf_index_postings" in plan
    assert "tfidf_index_df" in plan


def test_chain_fold_reads_index_tables(spark):
    """The two-day chained fold must read the persisted index for its
    old side exactly like the single fold: documents scans belong to
    the two day-slices only."""
    plan = _plan(spark, "tfidf_incremental_chain")
    assert plan.count("documents.parquet") <= 8  # two in-plan day sides
    assert "tfidf_index_postings" in plan
    assert "tfidf_index_df" in plan


def test_chain_fold_merges_df_once(spark):
    """The two-day chain merges df twice — one full-outer join per day —
    and ``score`` joins the merged df under each of its three segment
    joins. Materialized once, the merge runs its 2 full-outer joins
    once; re-planned per segment join, it ran 4. Counted over the final
    plan of every SQL execution the query's build and action ran."""
    store = spark._jsparkSession.sharedState().statusStore()
    entrymod.queries()["tfidf_incremental_chain"](spark, SF).count()  # warm

    def last_id():
        execs = store.executionsList()
        return execs.apply(execs.size() - 1).executionId()

    first = last_id() + 1
    entrymod.queries()["tfidf_incremental_chain"](spark, SF).collect()
    full_outer = 0
    for eid in range(first, last_id() + 1):
        nodes = store.planGraph(eid).allNodes()
        full_outer += sum(
            "FullOuter" in nodes.apply(i).desc() for i in range(nodes.size())
        )
    assert full_outer == 2


def test_ivf_incremental_no_cartesian(spark):
    plan = _plan(spark, "sim_ivf_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pq_serving_is_jvm_side_over_codes_table(spark):
    """Round-9: ADC serving must be a JVM-codegen scan of the persisted
    codes table — no Python evaluation node in the warm plan, and the
    embeddings are never read (the FAISS-IVFADC storage claim, literal)."""
    entrymod.queries()["sim_pq_topk"](spark, SF)  # warm the codes table
    for name in ("sim_pq_topk", "sim_ivf_pq_topk"):
        plan = _plan(spark, name)
        assert "pq_code_table" in plan
        assert "MapInPandas" not in plan and "ArrowEvalPython" not in plan
        assert len(re.findall(r"FileScan parquet.*embeddings", plan)) == 0


def test_promoted_chain_warm_plan_is_all_parquet(spark):
    """Round-10: the fully-warm promoted chain serves from versioned
    store tables ONLY — zero documents scans (even the day slices come
    from promoted segments), one postings-segment scan per day plus the
    base, and plan depth per day is constant: going from a 2-day to a
    3-day chain adds exactly ONE segment scan, never a re-execution of
    prior merges (the round-9 linear-lineage gap, closed)."""
    from tf_idf_mapreduce_spark.operators.tfidf import promoted_index, score_index

    entrymod.queries()["tfidf_incremental_chain_persisted"](spark, SF)  # warm

    def scans(upto_day):
        plan = score_index(
            *promoted_index(spark, SF, upto_day)[:3]
        )._jdf.queryExecution().executedPlan().toString()
        return (
            plan.count("documents.parquet"),
            len(re.findall(r"FileScan.*tfidf_index_postings", plan)),
        )

    docs2, segs2 = scans(2)
    docs3, segs3 = scans(3)
    assert docs2 == 0 and docs3 == 0
    assert segs2 == 3 and segs3 == 4  # base + k segments; +1 per day


def test_e2e_promoted_warm_plan_is_all_parquet(spark):
    """The promoted production day: once the admitted segment/df/N are
    written, serving reads ONLY index tables — no documents scans, no
    screen-table scans, exactly two postings segments (base + day)."""
    entrymod.queries()["tfidf_e2e_promoted"](spark, SF)  # warm
    plan = _plan(spark, "tfidf_e2e_promoted")
    assert len(re.findall(r"FileScan parquet.*documents", plan)) == 0
    for screen in ("incremental_dedup", "screen_inc"):
        assert screen not in plan
    assert len(re.findall(r"FileScan.*tfidf_index_postings", plan)) == 2
