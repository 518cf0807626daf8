"""Durable model store: load-or-fit semantics for the fitted models
(IVF centroids, PQ codebooks, PCA components, BPE merges, QC weights)
and the SemDeDup disposition table.

The contract under test is the round-7 verdict's top item: a model is
FIT once, WRITTEN once as a fingerprint-keyed parquet artifact, and a
FRESH PROCESS (simulated here by forgetting the L1 memo entries) LOADS the
artifact instead of re-running the distributed fit. "Loads, not refits"
is proved by monkeypatching the fit entrypoint to raise — any refit
fails the test loudly."""

from __future__ import annotations

import os
import time

import pytest

from tf_idf_mapreduce_spark.sources.io import forget


@pytest.fixture()
def model_dir_env(tmp_path, monkeypatch):
    """Route the store to a test-private root via the env fallback."""
    root = str(tmp_path / "models")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    return root


def test_ivf_centroids_load_not_refit(spark, sf_dir, model_dir_env):
    from tf_idf_mapreduce_spark.operators import similarity
    from tf_idf_mapreduce_spark.sources.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    forget("ivf_centroids")
    t0 = time.time()
    fitted = similarity.ivf_centroids(e, cache_key=sf_dir)
    fit_sec = time.time() - t0
    stored = os.listdir(os.path.join(model_dir_env, "ivf_centroids"))
    assert len(stored) == 1

    # fresh process: L1 gone, store present — the fit must NOT run
    forget("ivf_centroids")

    def boom(*a, **k):
        raise AssertionError("kmeans_fit ran despite a stored artifact")

    real = similarity.kmeans_fit
    try:
        similarity.kmeans_fit = boom
        t0 = time.time()
        loaded = similarity.ivf_centroids(e, cache_key=sf_dir)
        load_sec = time.time() - t0
    finally:
        similarity.kmeans_fit = real
    assert loaded == fitted  # bit-exact round-trip
    # the cold isolated rider regime: a load is not a fit
    assert load_sec < max(fit_sec, 0.2)


def test_pq_codebooks_load_not_refit(spark, sf_dir, model_dir_env):
    import numpy as np

    from tf_idf_mapreduce_spark.operators import similarity
    from tf_idf_mapreduce_spark.sources.io import load_table

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    forget("pq_codebooks")
    fitted = similarity._pq_codebooks(e, cache_key=sf_dir)
    forget("pq_codebooks")

    def boom(*a, **k):
        raise AssertionError("kmeans_fit ran despite a stored artifact")

    real = similarity.kmeans_fit
    try:
        similarity.kmeans_fit = boom
        loaded = similarity._pq_codebooks(e, cache_key=sf_dir)
    finally:
        similarity.kmeans_fit = real
    assert all(np.array_equal(a, b) for a, b in zip(fitted, loaded))


def test_pca_components_load_not_refit(spark, sf_dir, model_dir_env):
    from tf_idf_mapreduce_spark.operators import similarity

    forget("pca_components")
    fitted = similarity._pca_components(
        spark, sf_dir, similarity.PCA_POWER_ITERS, second=True
    )
    forget("pca_components")

    def boom(*a, **k):
        raise AssertionError("power iteration ran despite a stored artifact")

    real = similarity._power_iterate
    try:
        similarity._power_iterate = boom
        loaded = similarity._pca_components(
            spark, sf_dir, similarity.PCA_POWER_ITERS, second=True
        )
    finally:
        similarity._power_iterate = real
    assert loaded == fitted and len(loaded) == 5


def test_bpe_merges_load_not_refit(spark, sf_dir, model_dir_env):
    from tf_idf_mapreduce_spark.operators import textstats

    forget("bpe_merges")
    fitted = textstats._bpe_learn_merges(
        spark, sf_dir, textstats.BPE_TRAIN_MERGES
    )
    forget("bpe_merges")

    def boom(*a, **k):
        raise AssertionError("BPE learner ran despite a stored artifact")

    real = textstats._bpe_word_counts
    try:
        textstats._bpe_word_counts = boom
        loaded = textstats._bpe_learn_merges(
            spark, sf_dir, textstats.BPE_TRAIN_MERGES
        )
    finally:
        textstats._bpe_word_counts = real
    assert loaded == fitted and fitted


def test_qc_weights_load_not_refit(spark, sf_dir, model_dir_env):
    from tf_idf_mapreduce_spark.operators import curation

    forget("qc_weights")
    fitted = curation._qc_fit(spark, sf_dir)
    forget("qc_weights")

    def boom(*a, **k):
        raise AssertionError("GD loop ran despite a stored artifact")

    real = curation._qc_fit_gd
    try:
        curation._qc_fit_gd = boom
        loaded = curation._qc_fit(spark, sf_dir)
    finally:
        curation._qc_fit_gd = real
    assert loaded == fitted and len(loaded) == 4


def test_semantic_keep_table_load_not_recompute(spark, sf_dir, model_dir_env):
    from tf_idf_mapreduce_spark.operators import dedup

    forget("semantic_keep")
    fitted = sorted(
        map(tuple, dedup.semantic_keep(spark, sf_dir).collect())
    )
    assert os.path.isdir(os.path.join(model_dir_env, "semantic_keep"))
    forget("semantic_keep")

    def boom(*a, **k):
        raise AssertionError("CC ran despite a stored disposition table")

    real = dedup.connected_components
    try:
        dedup.connected_components = boom
        loaded = sorted(
            map(tuple, dedup.semantic_keep(spark, sf_dir).collect())
        )
    finally:
        dedup.connected_components = real
    assert loaded == fitted and fitted


def test_store_disabled_by_conf(spark, sf_dir, model_dir_env):
    """Setting the conf key to empty string disables durability: no
    artifact is written and every fresh call fits."""
    from tf_idf_mapreduce_spark.operators import curation
    from tf_idf_mapreduce_spark.sources.model_store import MODEL_STORE_CONF

    spark.conf.set(MODEL_STORE_CONF, "")
    try:
        forget("qc_weights")
        w = curation._qc_fit(spark, sf_dir)
        assert len(w) == 4
        assert not os.path.exists(os.path.join(model_dir_env, "qc_weights"))
    finally:
        spark.conf.unset(MODEL_STORE_CONF)


def test_fingerprint_change_refits(spark, tmp_path, model_dir_env):
    """A regenerated fixture at the same path must produce a NEW key
    hash (refit), never silently reuse the stale artifact."""
    from tf_idf_mapreduce_spark.operators import curation

    d = str(tmp_path / "fp")
    rows = [
        (i, f"alpha beta doc {i} with some words", "en", "s", 30)
        for i in range(8)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    forget("qc_weights")
    curation._qc_fit(spark, d)
    n1 = len(os.listdir(os.path.join(model_dir_env, "qc_weights")))

    time.sleep(0.01)  # ensure a distinct mtime_ns on regeneration
    spark.createDataFrame(
        rows + [(99, "gamma delta 42", "en", "s", 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    forget("qc_weights")
    curation._qc_fit(spark, d)
    n2 = len(os.listdir(os.path.join(model_dir_env, "qc_weights")))
    assert n2 == n1 + 1


def test_drop_models_clears_family(spark, sf_dir, model_dir_env):
    from tf_idf_mapreduce_spark.operators import curation
    from tf_idf_mapreduce_spark.sources.model_store import drop_models

    forget("qc_weights")
    curation._qc_fit(spark, sf_dir)
    assert os.path.isdir(os.path.join(model_dir_env, "qc_weights"))
    drop_models("qc_weights")
    assert not os.path.exists(os.path.join(model_dir_env, "qc_weights"))


def test_prune_models_reaps_only_stale_artifacts(spark, sf_dir, model_dir_env):
    """Stale fingerprints are dead weight, never wrong answers — prune
    removes artifacts older than the age cutoff and leaves fresh ones
    (and live lookups) untouched."""
    from tf_idf_mapreduce_spark.operators import curation
    from tf_idf_mapreduce_spark.sources.model_store import prune_models

    forget("qc_weights")
    fresh = curation._qc_fit(spark, sf_dir)
    fam = os.path.join(model_dir_env, "qc_weights")
    (h,) = os.listdir(fam)
    # plant a stale sibling artifact and age it past the cutoff
    stale = os.path.join(fam, "deadbeef" * 4)
    os.makedirs(stale)
    with open(os.path.join(stale, "data.parquet"), "wb") as f:
        f.write(b"x")
    old = time.time() - 90 * 86400
    os.utime(os.path.join(stale, "data.parquet"), (old, old))

    removed = prune_models(max_age_days=30)
    assert removed == 1
    assert sorted(os.listdir(fam)) == [h]
    # the surviving artifact still loads
    forget("qc_weights")

    def boom(*a, **k):
        raise AssertionError("refit after prune of a FRESH artifact")

    real = curation._qc_fit_gd
    try:
        curation._qc_fit_gd = boom
        assert curation._qc_fit(spark, sf_dir) == fresh
    finally:
        curation._qc_fit_gd = real


def test_unwritable_store_degrades_to_compute(spark, sf_dir, monkeypatch):
    """A read-only store root (baked deployment image) must never break
    a query that worked before the store existed — the table path
    probes writability and degrades to compute-only."""
    from tf_idf_mapreduce_spark.operators import dedup

    # a path under a FILE can never be created -> makedirs raises
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", "/dev/null/no_store")
    forget("incremental_dedup")
    rows = dedup.incremental_dedup(spark, sf_dir).collect()
    assert rows and all(r.status in ("keep", "drop") for r in rows)


def test_persisted_tfidf_index_fold_matches_inplan(spark, sf_dir, model_dir_env):
    """Round-9 headline: the fold whose old side is the LOADED index
    must produce bit-identical rows to the in-plan fold, and a second
    build must come from the store, not a refit."""
    from tf_idf_mapreduce_spark.operators.tfidf import (
        incremental_index,
        incremental_index_persisted,
        persisted_index,
    )

    inplan = sorted(map(tuple, incremental_index(spark, sf_dir).collect()))
    persisted = sorted(
        map(tuple, incremental_index_persisted(spark, sf_dir).collect())
    )
    assert persisted == inplan and persisted
    for fam in ("tfidf_index_postings", "tfidf_index_df"):
        assert os.path.isdir(os.path.join(model_dir_env, fam))
    _p, _d, _n, origin = persisted_index(spark, sf_dir)
    assert origin == "store"


def test_persisted_index_plan_reads_tables_not_corpus(spark, sf_dir, model_dir_env):
    """With the index warm, the fold's executed plan reads the store
    tables for the ENTIRE old side and the batch's checkpointed postings
    for the new one, so it scans documents nowhere; both index tables
    appear as file scans, and N — a number stored with its df version,
    the batch's share counted before the plan is built — adds no table
    scan and no nested-loop join."""
    import re

    from tf_idf_mapreduce_spark.operators.tfidf import (
        incremental_index_persisted,
        persisted_index,
    )

    persisted_index(spark, sf_dir)  # warm the store
    plan = (
        incremental_index_persisted(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    doc_scans = len(re.findall(r"FileScan parquet.*documents", plan))
    assert doc_scans == 0
    for fam in ("tfidf_index_postings", "tfidf_index_df"):
        assert fam in plan
    assert not re.search(r"FileScan parquet.*\[nx#", plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@pytest.mark.parametrize("damage", ["deleted", "truncated"])
def test_index_n_file_is_recounted_when_lost(
    spark, sf_dir, model_dir_env, damage
):
    """N is the ``_N`` file inside the live df version's dir. Deleted,
    or truncated to empty (a torn write), it is recounted and written
    again by the next fold, and the served rows do not change."""
    from tf_idf_mapreduce_spark.operators.curation import (
        SAMPLE_BUCKET_MAX,
        _sample_bucket,
    )
    from tf_idf_mapreduce_spark.operators.tfidf import (
        DF,
        N,
        _index_store_key,
        incremental_index_persisted,
    )
    from tf_idf_mapreduce_spark.sources.model_store import live_table_dir

    def rows():
        return sorted(
            map(tuple, incremental_index_persisted(spark, sf_dir).collect())
        )

    before = rows()
    path = os.path.join(
        live_table_dir(DF, _index_store_key(spark, sf_dir), spark), N
    )
    with open(path) as f:
        n = int(f.read())
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = docs.where(~(_sample_bucket() <= SAMPLE_BUCKET_MAX))
    assert n == old.select("doc_id").distinct().count()
    if damage == "deleted":
        os.remove(path)
    else:
        open(path, "w").close()
    assert rows() == before
    with open(path) as f:
        assert int(f.read()) == n


def test_bucketed_table_joins_without_exchange(spark, model_dir_env):
    """The bucketed-store primitive: two word-bucketed artifacts written
    under one key must sort-merge-join with ZERO exchanges (the scan
    itself reports the hash partitioning) once broadcast is off."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.sources.model_store import (
        load_or_compute_bucketed_table,
    )

    words = spark.range(500).select(
        (F.col("id") % 40).cast("string").alias("word"),
        F.col("id").alias("doc"),
    )
    dim = spark.range(40).select(
        F.col("id").cast("string").alias("word"), F.lit(7).alias("dfx")
    )
    t1, o1 = load_or_compute_bucketed_table(
        "bkt_postings", ("k",), spark, lambda: words, "word", 4
    )
    t2, o2 = load_or_compute_bucketed_table(
        "bkt_df", ("k",), spark, lambda: dim, "word", 4
    )
    assert (o1, o2) == ("store", "store")  # every load reads the files
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = t1.join(t2, "word")
        assert j.count() == 500
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert plan.count("Bucketed: true") == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # loser-rereads contract: a second process-equivalent load with a
    # poisoned compute must come from the files
    t3, o3 = load_or_compute_bucketed_table(
        "bkt_postings", ("k",), spark, lambda: 1 / 0, "word", 4
    )
    assert o3 == "store" and t3.count() == 500


def test_index_layout_follows_shuffle_width(spark, sf_dir, model_dir_env):
    """The persisted index is bucketed into exactly the session's
    shuffle width, and that width keys the store: two widths in one
    session write two separate indexes, each with its own bucket count,
    and both fold to the in-plan rows."""
    from tf_idf_mapreduce_spark.operators.tfidf import (
        _index_store_key,
        incremental_index,
        incremental_index_persisted,
    )
    from tf_idf_mapreduce_spark.sources.model_store import (
        key_hash,
        live_table_dir,
    )

    inplan = sorted(map(tuple, incremental_index(spark, sf_dir).collect()))
    assert inplan
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    live_dirs = {}
    try:
        for width in (2, 3):
            spark.conf.set("spark.sql.shuffle.partitions", str(width))
            persisted = sorted(
                map(tuple, incremental_index_persisted(spark, sf_dir).collect())
            )
            assert persisted == inplan
            key = _index_store_key(spark, sf_dir)
            for fam in ("tfidf_index_postings", "tfidf_index_df"):
                described = spark.sql(
                    f"DESCRIBE TABLE EXTENDED {fam}_{key_hash(key)[:12]}"
                ).collect()
                info = {r.col_name: r.data_type for r in described}
                assert info["Num Buckets"] == str(width), (fam, info)
                live = live_table_dir(fam, key, spark)
                files = [f for f in os.listdir(live) if f.endswith(".parquet")]
                assert 0 < len(files) <= width, (fam, files)
                live_dirs[(fam, width)] = live
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    for fam in ("tfidf_index_postings", "tfidf_index_df"):
        assert live_dirs[(fam, 2)] != live_dirs[(fam, 3)]
        assert len(os.listdir(os.path.join(model_dir_env, fam))) == 2


def test_registration_memo_drops_other_applications(spark, model_dir_env):
    """The bucketed-table registration memo stays bounded across
    application restarts: registering a table drops every entry left
    by another application id."""
    from tf_idf_mapreduce_spark.sources import model_store as ms

    ms._REGISTERED_AT[("app-stopped", "bkt_gone")] = "/nowhere"
    t, origin = ms.load_or_compute_bucketed_table(
        "bkt_memo", ("k",), spark,
        lambda: spark.range(10).selectExpr("CAST(id AS STRING) AS word"),
        "word", 2,
    )
    assert origin == "store" and t.count() == 10
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in ms._REGISTERED_AT)
    assert (app, f"bkt_memo_{ms.key_hash(('k',))[:12]}") in ms._REGISTERED_AT


def test_pdf_store_concurrent_writers_one_artifact_no_torn_reads(tmp_path):
    """Round-9 verdict item: N processes race load_or_fit_pdf on ONE
    key. Contract (manifest protocol): exactly one staged data file
    survives plus the _CURRENT manifest naming it, the data is one
    writer's COMPLETE output (never a torn/interleaved file), and every
    racer returned a complete single-writer frame."""
    import multiprocessing as mp

    import pandas as pd

    from tf_idf_mapreduce_spark.sources.model_store import CURRENT_MARKER, _live

    root = str(tmp_path / "race_models")
    ctx = mp.get_context("spawn")
    with ctx.Pool(6) as pool:
        results = pool.map(_race_writer, [(root, i) for i in range(6)])
    fam = os.path.join(root, "race_family")
    (h,) = os.listdir(fam)
    d = os.path.join(fam, h)
    files = sorted(f for f in os.listdir(d) if not f.startswith("."))
    data_files = [f for f in files if f.endswith(".parquet")]
    assert CURRENT_MARKER in files and len(data_files) == 1
    live = _live(d)
    assert live == os.path.join(d, data_files[0])  # manifest names it
    stored = pd.read_parquet(live)
    assert len(stored) == 5000 and stored["writer"].nunique() == 1
    assert (stored["payload"] == stored["writer"] * 1000 + stored.index).all()
    for writer_id, n_rows, n_writers in results:
        assert n_rows == 5000 and n_writers == 1


def _race_writer(args):
    """Subprocess body (module-level for spawn pickling): fit+store a
    5000-row frame stamped with this writer's id."""
    root, i = args
    os.environ["SPARK_GRAFT_MODEL_DIR"] = root

    import pandas as pd

    from tf_idf_mapreduce_spark.sources.model_store import load_or_fit_pdf

    def fit():
        return pd.DataFrame(
            {
                "writer": [i] * 5000,
                "payload": [i * 1000 + j for j in range(5000)],
            }
        )

    pdf, _origin = load_or_fit_pdf("race_family", ("shared-key",), fit)
    return i, len(pdf), pdf["writer"].nunique()


def test_table_store_concurrent_writers_rename_race(spark, model_dir_env):
    """The Spark-table variant's os.rename race: two threads compute the
    SAME key concurrently; exactly one directory survives, both callers
    get a readable table with the winner's complete rows."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.sources.model_store import (
        load_or_compute_table,
    )

    def build(tag):
        def compute():
            return spark.range(2000).select(
                F.col("id"), F.lit(tag).alias("writer")
            )

        return load_or_compute_table("race_table", ("tkey",), spark, compute)

    with ThreadPoolExecutor(2) as ex:
        f1 = ex.submit(build, "a")
        f2 = ex.submit(build, "b")
        (d1, o1), (d2, o2) = f1.result(), f2.result()
    fam = os.path.join(model_dir_env, "race_table")
    dirs = [x for x in os.listdir(fam) if not x.startswith(".")]
    assert len(dirs) == 1  # the loser's tmp dir was cleaned up
    r1 = d1.groupBy("writer").count().collect()
    r2 = d2.groupBy("writer").count().collect()
    assert len(r1) == 1 and r1[0]["count"] == 2000
    assert [tuple(x) for x in r1] == [tuple(x) for x in r2]  # same winner


def test_hyperparam_change_mints_new_screen_key(spark, sf_dir, model_dir_env, monkeypatch):
    """Round-8 ADVICE (medium): durable screen keys must fold their
    governing constants — changing a threshold mints a NEW key hash and
    refits, never silently serving the stale verdict table."""
    from tf_idf_mapreduce_spark.operators import dedup

    forget("incremental_dedup")
    dedup.incremental_dedup(spark, sf_dir).collect()
    fam = os.path.join(model_dir_env, "incremental_dedup")
    n1 = len(os.listdir(fam))

    forget("incremental_dedup")
    monkeypatch.setattr(dedup, "INCREMENTAL_EST_JACCARD", 0.9)
    dedup.incremental_dedup(spark, sf_dir).collect()
    assert len(os.listdir(fam)) == n1 + 1


def test_clear_store_scoping(tmp_path, monkeypatch):
    """Bulk clears are scoped (round-9 ADVICE): a MARKED root wipes; an
    unmarked directory merely NAMED `_models` (a user's pre-existing
    dir pointed at via env) is refused; only the exact package-minted
    default root gets the markerless escape."""
    from tf_idf_mapreduce_spark.sources.model_store import (
        STORE_MARKER,
        clear_store,
    )

    # 1) unmarked user dir named `_models` via env -> REFUSED
    user = tmp_path / "data" / "_models"
    user.mkdir(parents=True)
    (user / "precious.txt").write_text("not ours")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(user))
    assert clear_store() is False
    assert (user / "precious.txt").exists()

    # 2) the same dir WITH the marker -> wiped
    (user / STORE_MARKER).write_text("ours")
    assert clear_store() is True
    assert not user.exists()

    # 3) the package-minted default root (cwd/spark-warehouse/_models)
    #    clears even without a marker (read-only-marker degradation)
    monkeypatch.delenv("SPARK_GRAFT_MODEL_DIR")
    monkeypatch.chdir(tmp_path)
    default = tmp_path / "spark-warehouse" / "_models"
    default.mkdir(parents=True)
    (default / "fam").mkdir()
    assert clear_store() is True
    assert not default.exists()


def test_promoted_chain_versions_and_equality(spark, sf_dir, model_dir_env):
    """Round-10 headline: each daily fold is PROMOTED back into the
    store as a new index version. The 3-day promoted chain must equal
    the in-plan fold bit-for-bit, mint one postings segment + one df +
    one N table per day, and a second build must be all-store."""
    from tf_idf_mapreduce_spark.operators.tfidf import (
        CHAIN_DAYS,
        incremental_chain_persisted,
        incremental_index,
        promoted_index,
    )

    chained = sorted(
        map(tuple, incremental_chain_persisted(spark, sf_dir).collect())
    )
    inplan = sorted(map(tuple, incremental_index(spark, sf_dir).collect()))
    assert chained == inplan and chained
    # base + one artifact per promoted day, all in the same families
    for fam, n in (
        ("tfidf_index_postings", 1 + CHAIN_DAYS),
        ("tfidf_index_df", 1 + CHAIN_DAYS),
    ):
        assert len(os.listdir(os.path.join(model_dir_env, fam))) == n
    _s, _d, _n, origin = promoted_index(spark, sf_dir, CHAIN_DAYS)
    assert origin == "store"


def test_promoted_chain_partial_version_heals(spark, sf_dir, model_dir_env):
    """A crash between a version's three table writes leaves a partial
    version; the next run recomputes ONLY the missing tables from
    v_{k-1} — deterministically, so the result is unchanged."""
    import shutil

    from tf_idf_mapreduce_spark.operators.tfidf import (
        incremental_chain_persisted,
    )

    before = sorted(
        map(tuple, incremental_chain_persisted(spark, sf_dir).collect())
    )
    fam = os.path.join(model_dir_env, "tfidf_index_df")
    victims = sorted(os.listdir(fam))
    assert victims
    shutil.rmtree(os.path.join(fam, victims[0]))
    after = sorted(
        map(tuple, incremental_chain_persisted(spark, sf_dir).collect())
    )
    assert after == before
    assert len(os.listdir(fam)) == len(victims)


def test_compacted_chain_flat_plan_and_files(spark, sf_dir, model_dir_env):
    """Round-9 verdict #7: after `models compact`, an N-day chain's
    serving plan scans ONE postings table regardless of N, ancestors are
    pruned, the store's data-file count shrinks, and the relation is
    unchanged — proved here on a 5-day chain."""
    import re

    from tf_idf_mapreduce_spark.operators.tfidf import (
        _index_store_key,
        compact_index,
        incremental_index,
        promoted_index,
        score_index,
    )

    def plan_scans(upto, n_days):
        state = promoted_index(spark, sf_dir, upto, n_days)[:3]
        plan = (
            score_index(*state)
            ._jdf.queryExecution().executedPlan().toString()
        )
        return state, len(re.findall(r"FileScan.*tfidf_index_postings", plan))

    state5, segs5 = plan_scans(5, 5)
    assert segs5 == 6  # base + 5 day segments before compaction
    expected = sorted(map(tuple, score_index(*state5).collect()))
    assert expected == sorted(
        map(tuple, incremental_index(spark, sf_dir).collect())
    )

    summary = compact_index(spark, sf_dir, upto_day=5, n_days=5, prune=True)
    assert summary["segments_before"] == 6
    assert summary["ancestors_pruned"] == 2 * 5  # 5 day pairs, base KEPT
    assert summary["files_after"] < summary["files_before"]

    state_c, segs_c = plan_scans(5, 5)
    assert segs_c == 1  # one clean bucketed table, day count invisible
    assert sorted(map(tuple, score_index(*state_c).collect())) == expected
    # the postings family holds the compacted artifact AND the shared
    # base (ADVICE r10: siblings like tfidf_incremental_persisted serve
    # the base-key tables outside the chain — compact must not evict it)
    from tf_idf_mapreduce_spark.sources.model_store import (
        key_hash,
        live_table_dir,
    )

    base_key = _index_store_key(spark, sf_dir)
    fam = os.path.join(model_dir_env, "tfidf_index_postings")
    live = [h for h in os.listdir(fam) if not h.startswith(".")]
    assert len(live) == 2
    assert key_hash(base_key) in live
    assert live_table_dir("tfidf_index_postings", base_key, spark)


def test_models_compact_cli(sf_dir, model_dir_env, monkeypatch, capsys):
    """`models compact` drives compact_index end-to-end from the CLI."""
    from tf_idf_mapreduce_spark.cli import main

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", model_dir_env)
    rc = main(["models", "compact", "--sf-dir", sf_dir])
    assert rc == 0
    outp = capsys.readouterr().out
    assert "compacted through day 3" in outp and "-> 1" in outp


def test_store_never_renames_directories(spark, sf_dir, model_dir_env, monkeypatch):
    """Round-9 verdict #5: the commit protocol must hold on roots where
    directory rename is unavailable or non-atomic (hdfs://, s3a://).
    Simulated by making os.rename RAISE for directories: every store
    path — driver-written frame, plain table, bucketed table — must
    still fit, promote, and load across a simulated fresh process."""
    import os as _os

    import pandas as pd

    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.sources import model_store as ms

    real_rename = _os.rename

    def no_dir_rename(src, dst, *a, **k):
        if _os.path.isdir(src):
            raise AssertionError(
                f"directory rename attempted: {src} -> {dst}"
            )
        return real_rename(src, dst, *a, **k)

    monkeypatch.setattr(_os, "rename", no_dir_rename)
    # os.replace on directories must be off-limits too (same primitive)
    real_replace = _os.replace

    def no_dir_replace(src, dst, *a, **k):
        if _os.path.isdir(src):
            raise AssertionError(
                f"directory replace attempted: {src} -> {dst}"
            )
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(_os, "replace", no_dir_replace)

    pdf, o = ms.load_or_fit_pdf(
        "fsx_pdf", ("k",), lambda: pd.DataFrame({"x": [1, 2, 3]})
    )
    assert o == "fit" and len(pdf) == 3
    pdf2, o2 = ms.load_or_fit_pdf("fsx_pdf", ("k",), lambda: 1 / 0)
    assert o2 == "store" and list(pdf2["x"]) == [1, 2, 3]

    t, o = ms.load_or_compute_table(
        "fsx_table", ("k",), spark, lambda: spark.range(100)
    )
    assert o == "store" and t.count() == 100
    t2, o2 = ms.load_or_compute_table("fsx_table", ("k",), spark, lambda: 1 / 0)
    assert o2 == "store" and t2.count() == 100

    b, o = ms.load_or_compute_bucketed_table(
        "fsx_bkt", ("k",), spark,
        lambda: spark.range(200).select(
            F.col("id").cast("string").alias("word"), F.col("id").alias("n")
        ),
        "word", 4,
    )
    assert o == "store" and b.count() == 200
    b2, o2 = ms.load_or_compute_bucketed_table(
        "fsx_bkt", ("k",), spark, lambda: 1 / 0, "word", 4
    )
    assert o2 == "store" and b2.count() == 200


def test_crashed_staging_heals_on_next_write(spark, model_dir_env):
    """A crash between staging and promote leaves an orphan v-dir with
    no _CURRENT: no reader resolves it, and the next load computes,
    stages fresh, and promotes — the artifact self-heals."""
    from tf_idf_mapreduce_spark.sources.model_store import (
        CURRENT_MARKER,
        load_or_compute_table,
        model_dir,
    )

    key = ("heal-key",)
    d = model_dir("heal_table", key, spark)
    orphan = os.path.join(d, "v-deadbeef")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000.parquet"), "wb") as f:
        f.write(b"torn")

    t, o = load_or_compute_table(
        "heal_table", key, spark, lambda: spark.range(50)
    )
    assert o == "store" and t.count() == 50
    with open(os.path.join(d, CURRENT_MARKER)) as f:
        live = f.read().strip()
    assert live != "v-deadbeef"
    t2, o2 = load_or_compute_table("heal_table", key, spark, lambda: 1 / 0)
    assert o2 == "store" and t2.count() == 50


def test_promoted_chain_with_store_disabled(spark, sf_dir, model_dir_env):
    """Durability off -> every promote degrades to its compute relation
    (the chain composes in lineage, like the round-9 topology variant)
    but the RESULT is unchanged — the store is an execution strategy,
    never a semantic dependency."""
    from tf_idf_mapreduce_spark.operators.tfidf import (
        incremental_chain_persisted,
        incremental_index,
    )
    from tf_idf_mapreduce_spark.sources.model_store import MODEL_STORE_CONF

    spark.conf.set(MODEL_STORE_CONF, "")
    try:
        chained = sorted(
            map(tuple, incremental_chain_persisted(spark, sf_dir).collect())
        )
        assert not os.path.exists(os.path.join(model_dir_env, "tfidf_index_postings"))
    finally:
        spark.conf.unset(MODEL_STORE_CONF)
    inplan = sorted(map(tuple, incremental_index(spark, sf_dir).collect()))
    assert chained == inplan and chained


def test_crashed_probe_file_does_not_poison_artifact(spark, model_dir_env):
    """A crash between writability-probe creation and removal leaves a
    dot-file in the artifact dir; it must not read as a legacy parquet
    dir (which would pin the artifact to compute-only forever) — the
    next load stages, promotes, and serves normally."""
    from tf_idf_mapreduce_spark.sources.model_store import (
        load_or_compute_table,
        model_dir,
    )

    key = ("probe-poison",)
    d = model_dir("poison_table", key, spark)
    os.makedirs(d)
    with open(os.path.join(d, ".probe-deadbeef"), "w"):
        pass

    t, o = load_or_compute_table(
        "poison_table", key, spark, lambda: spark.range(25)
    )
    assert o == "store" and t.count() == 25
    t2, o2 = load_or_compute_table("poison_table", key, spark, lambda: 1 / 0)
    assert o2 == "store" and t2.count() == 25


def test_verify_store_reports_lifecycle_states(
    spark, model_dir_env, monkeypatch, capsys
):
    """Round-10 verdict #6: `models verify` — a read-only audit over a
    deliberately corrupted store copy must classify every artifact
    state the lifecycle can produce (live / torn / orphaned / legacy /
    empty) and list the reap-safe leftovers, without modifying a single
    file."""
    import json

    from tf_idf_mapreduce_spark.cli import main
    from tf_idf_mapreduce_spark.sources.model_store import (
        CURRENT_MARKER,
        load_or_compute_table,
        load_or_fit_pdf,
        verify_store,
    )

    def mk(name, n):
        import pandas as pd

        return load_or_fit_pdf(
            name, (name, n), lambda: pd.DataFrame({"x": range(n)}), spark
        )

    # healthy artifacts: one pdf family, one Spark table family
    mk("aud_pdf", 3)
    load_or_compute_table(
        "aud_tbl", ("t",), spark, lambda: spark.range(5).toDF("id")
    )

    root = model_dir_env
    fams = {f for f in os.listdir(root) if not f.startswith(".")}
    assert {"aud_pdf", "aud_tbl"} <= fams

    def art_dir(fam):
        (h,) = [x for x in os.listdir(os.path.join(root, fam))]
        return os.path.join(root, fam, h)

    # corruption 1: TORN — the marker names a version that is gone
    mk("aud_torn", 2)
    d = art_dir("aud_torn")
    cur = open(os.path.join(d, CURRENT_MARKER)).read().strip()
    os.remove(os.path.join(d, cur))
    # corruption 2: ORPHANED — staged version, marker never landed
    mk("aud_orphan", 2)
    d = art_dir("aud_orphan")
    os.remove(os.path.join(d, CURRENT_MARKER))
    # corruption 3: stale staging beside a live marker (a loser whose
    # cleanup failed) + a commit tmp leftover
    d = art_dir("aud_pdf")
    with open(os.path.join(d, "data-deadbeef.parquet"), "w") as f:
        f.write("stale")
    with open(os.path.join(d, ".tmp-abc"), "w") as f:
        f.write("torn tmp")
    # corruption 4: legacy pointer artifact + an empty dir
    os.makedirs(os.path.join(root, "aud_legacy", "k1"))
    with open(os.path.join(root, "aud_legacy", "k1", "gen.json"), "w") as f:
        json.dump({"generation": 2}, f)
    os.makedirs(os.path.join(root, "aud_empty", "k2"))

    before = sorted(
        (os.path.join(dp, f), os.stat(os.path.join(dp, f)).st_mtime_ns)
        for dp, _dn, fns in os.walk(root)
        for f in fns
    )
    rep = verify_store(spark)
    by_fam = {a["family"]: a for a in rep["artifacts"]}
    assert by_fam["aud_tbl"]["state"] == "live"
    assert by_fam["aud_torn"]["state"] == "torn"
    assert by_fam["aud_orphan"]["state"] == "orphaned"
    assert by_fam["aud_legacy"]["state"] == "legacy"
    assert by_fam["aud_empty"]["state"] == "empty"
    assert by_fam["aud_pdf"]["state"] == "live"
    assert by_fam["aud_pdf"]["n_staged_unreachable"] == 1
    reap = set(rep["reap_candidates"])
    assert os.path.join(art_dir("aud_pdf"), "data-deadbeef.parquet") in reap
    assert os.path.join(art_dir("aud_pdf"), ".tmp-abc") in reap
    # the live version is never a reap candidate
    assert not any(p.endswith(by_fam["aud_pdf"]["live_version"] or "·") for p in reap)
    # read-only: byte-for-byte nothing changed
    after = sorted(
        (os.path.join(dp, f), os.stat(os.path.join(dp, f)).st_mtime_ns)
        for dp, _dn, fns in os.walk(root)
        for f in fns
    )
    assert after == before

    # the CLI verb renders the same report
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    rc = main(["models", "verify"])
    assert rc == 0
    outp = capsys.readouterr().out
    assert "TORN\taud_torn" in outp
    assert "ORPHANED\taud_orphan" in outp
    assert "LEGACY\taud_legacy" in outp
    assert "EMPTY\taud_empty" in outp
    assert "REAPABLE" in outp and "torn" in outp.splitlines()[-1]


def test_search_promoted_serves_from_index_zero_documents_scans(
    spark, sf_dir, model_dir_env
):
    """Round 11: the promoted-index SEARCH path. With the chain warm,
    tfidf_search_promoted's executed plan must read ONLY store tables —
    zero documents scans anywhere (the production query path re-scoring
    nothing) — and its rows must equal tfidf_search exactly (the
    serving strategy is invisible in the relation)."""
    import re

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    df = qs["tfidf_search_promoted"](spark, sf_dir)
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, qs["tfidf_search"](spark, sf_dir).collect()))
    assert got == want and len(got) == 20

    # warm plan: re-build the query now that the chain is promoted
    plan = (
        qs["tfidf_search_promoted"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"FileScan parquet.*documents", plan)) == 0
    assert "tfidf_index_postings" in plan

    # BM25 over the same promoted state: identical rows to the in-plan
    # bm25 and the same zero-documents warm plan (avgdl/N come from
    # index state, not the corpus)
    got = sorted(map(tuple, qs["tfidf_bm25_promoted"](spark, sf_dir).collect()))
    want = sorted(map(tuple, qs["tfidf_bm25"](spark, sf_dir).collect()))
    assert got == want and len(got) == 20
    plan = (
        qs["tfidf_bm25_promoted"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert len(re.findall(r"FileScan parquet.*documents", plan)) == 0


def test_reap_store_deletes_only_unreachable_state(
    spark, model_dir_env, monkeypatch, capsys
):
    """`models reap` acts on the audit's reap candidates: stale stagings
    beside a live manifest and commit tmp files go; the live version,
    orphaned-state evidence, and legacy artifacts stay — and every live
    artifact still LOADS bit-identically afterwards."""
    import pandas as pd

    from tf_idf_mapreduce_spark.cli import main
    from tf_idf_mapreduce_spark.sources.model_store import (
        CURRENT_MARKER,
        load_or_fit_pdf,
        reap_store,
        verify_store,
    )

    fitted, _ = load_or_fit_pdf(
        "reap_live", ("k",), lambda: pd.DataFrame({"x": [1, 2, 3]}), spark
    )
    root = model_dir_env
    (h,) = os.listdir(os.path.join(root, "reap_live"))
    d = os.path.join(root, "reap_live", h)
    # stale staging + tmp leftover beside the live version
    with open(os.path.join(d, "data-stale.parquet"), "w") as f:
        f.write("x")
    with open(os.path.join(d, ".tmp-leftover"), "w") as f:
        f.write("y")
    # an orphaned artifact (staging, no manifest) must SURVIVE the reap
    od = os.path.join(root, "reap_orphan", "k2")
    os.makedirs(od)
    with open(os.path.join(od, "data-crashed.parquet"), "w") as f:
        f.write("z")

    # default grace window: everything here is seconds old, so a reap
    # with the 1h default deletes NOTHING — a candidate this young may
    # be an in-flight heal staging its replacement beside the marker
    assert reap_store(spark) == []
    assert os.path.exists(os.path.join(d, "data-stale.parquet"))

    deleted = reap_store(spark, min_age_sec=0)
    assert os.path.join(d, "data-stale.parquet") in deleted
    assert os.path.join(d, ".tmp-leftover") in deleted
    assert os.path.exists(os.path.join(od, "data-crashed.parquet"))
    live = open(os.path.join(d, CURRENT_MARKER)).read().strip()
    assert os.path.exists(os.path.join(d, live))

    # post-reap: audit is clean and the artifact still loads the fit
    rep = verify_store(spark)
    assert rep["reap_candidates"] == []

    def boom():
        raise AssertionError("refit after reap of a LIVE artifact")

    loaded, origin = load_or_fit_pdf("reap_live", ("k",), boom, spark)
    assert origin == "store" and loaded.equals(fitted)

    # CLI: nothing left to reap, exits 0
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    assert main(["models", "reap"]) == 0
    assert "reaped 0 " in capsys.readouterr().out


def test_verify_store_classifies_atomic_tmp_leftovers(model_dir_env):
    """Round-11 ADVICE: put_text_atomic's tmps are '<file>.tmp-<hex>'
    (e.g. 'gen.json.tmp-abc' from a crashed generation bump) — names
    that do NOT start with '.tmp-'. They must be reap candidates, and a
    directory holding ONLY such a leftover is EMPTY, not legacy."""
    from tf_idf_mapreduce_spark.sources.model_store import verify_store

    root = model_dir_env
    # artifact 1: only a crashed gen.json atomic-write tmp
    d1 = os.path.join(root, "aud_tmponly", "k1")
    os.makedirs(d1)
    with open(os.path.join(d1, "gen.json.tmp-abc123"), "w") as f:
        f.write('{"generation": 2}')
    # artifact 2: real legacy pointer + a tmp beside it
    d2 = os.path.join(root, "aud_legacy2", "k2")
    os.makedirs(d2)
    with open(os.path.join(d2, "gen.json"), "w") as f:
        f.write('{"generation": 1}')
    with open(os.path.join(d2, "gen.json.tmp-def456"), "w") as f:
        f.write('{"generation": 2}')
    # artifact 3: a staged data file whose name carries .tmp- must be a
    # leftover, not a staging (never double-counted)
    d3 = os.path.join(root, "aud_stagedtmp", "k3")
    os.makedirs(d3)
    with open(os.path.join(d3, "data-aaa.parquet.tmp-beef"), "w") as f:
        f.write("x")

    rep = verify_store(root=root)
    by_fam = {a["family"]: a for a in rep["artifacts"]}
    assert by_fam["aud_tmponly"]["state"] == "empty"
    assert by_fam["aud_legacy2"]["state"] == "legacy"
    assert by_fam["aud_stagedtmp"]["state"] == "empty"
    assert by_fam["aud_stagedtmp"]["n_staged_unreachable"] == 0
    reap = set(rep["reap_candidates"])
    assert os.path.join(d1, "gen.json.tmp-abc123") in reap
    assert os.path.join(d2, "gen.json.tmp-def456") in reap
    assert os.path.join(d3, "data-aaa.parquet.tmp-beef") in reap
    assert os.path.join(d2, "gen.json") not in reap  # live pointer stays
    # each leftover appears exactly once
    assert len(rep["reap_candidates"]) == len(reap)


def test_cli_verify_reap_remote_root_exits_2(capsys, monkeypatch):
    """Round-11 ADVICE: `models verify`/`reap` on an unreachable remote
    root must print the explanation and exit 2 — not die with a
    traceback. (The exact failure depends on whether a SparkSession is
    active — sessionless detection refuses outright; with a session the
    filesystem itself errors — but the CLI contract is the same.)"""
    from tf_idf_mapreduce_spark.cli import main

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", "hdfs://nn/models")
    for verb in ("verify", "reap"):
        rc = main(["models", verb])
        captured = capsys.readouterr()
        assert rc == 2
        assert captured.err.strip()


def test_store_on_schemed_root(spark, sf_dir, tmp_path, monkeypatch, capsys):
    """The model store on a ``file://`` root, which forces every store
    file operation through the Hadoop ``FileSystem`` branch of
    ``sources.fs`` — the code path an ``hdfs://`` or ``s3a://`` root
    takes, minus only the network. ``tfidf_incremental_persisted`` runs
    cold then warm (the warm run writes nothing: its index is served
    from the store), the promoted chain runs through ``CHAIN_DAYS``, and
    ``models verify``/``reap``/``prune`` run through the CLI. The
    served rows equal the same queries on a bare local root."""
    import __spark_entry__ as entrymod

    from tf_idf_mapreduce_spark.cli import main
    from tf_idf_mapreduce_spark.operators.tfidf import persisted_index
    from tf_idf_mapreduce_spark.sources import model_store
    from tf_idf_mapreduce_spark.sources.model_store import MODEL_STORE_CONF

    qs = entrymod.queries()
    names = ("tfidf_incremental_persisted", "tfidf_incremental_chain_persisted")

    def serve(root):
        spark.conf.set(MODEL_STORE_CONF, root)
        try:
            return [sorted(map(tuple, qs[q](spark, sf_dir).collect())) for q in names]
        finally:
            spark.conf.unset(MODEL_STORE_CONF)

    local = serve(str(tmp_path / "local"))
    root = f"file://{tmp_path}/store"
    assert serve(root) == local and all(local)  # cold: fits and writes
    assert "tfidf_index_postings" in os.listdir(tmp_path / "store")

    def no_write(*a, **k):
        raise AssertionError("warm run wrote to the store")

    monkeypatch.setattr(model_store, "_stage", no_write)
    assert serve(root) == local  # warm: every table loads
    spark.conf.set(MODEL_STORE_CONF, root)
    try:
        assert persisted_index(spark, sf_dir)[3] == "store"
    finally:
        spark.conf.unset(MODEL_STORE_CONF)
    monkeypatch.undo()

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    assert main(["models", "verify", "--root", root]) == 0
    summary = capsys.readouterr().out.splitlines()[-1]
    n = int(summary.split()[0])
    assert n > 0
    assert summary == (
        f"{n} artifact(s) under {root}: {n} live, 0 legacy, 0 torn, "
        "0 orphaned, 0 empty; 0 reap candidate(s)"
    )
    assert main(["models", "reap", "--root", root]) == 0
    assert "reaped 0 unreachable" in capsys.readouterr().out
    assert main(["models", "prune", "--root", root, "--max-age-days", "0"]) == 0
    assert f"pruned {n} artifact(s)" in capsys.readouterr().out
    assert main(["models", "verify", "--root", root]) == 0
    assert capsys.readouterr().out.splitlines()[-1].startswith("0 artifact(s)")
