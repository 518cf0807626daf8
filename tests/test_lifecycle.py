"""The index lifecycle composed end-to-end — the production month in
miniature (round-10 verdict #4): daily promotes run THROUGH an ANN refit
boundary and are then compacted, and the served TF-IDF relation must
hash-equal the one-shot build at every step while the pre-refit ANN
artifacts become unreachable by key construction.

The individual verbs each have their own tests (promote:
test_model_store.test_promoted_chain_*, refit:
test_similarity.test_refit_decision_*, compact:
test_model_store.test_compacted_chain_*); this file proves they COMPOSE
— a refit landing mid-chain must neither perturb the TF-IDF chain's
serving state nor leave any generation-0 ANN artifact resolvable."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def drift_dir(spark, sf_dir, tmp_path):
    """A clone of the fixture whose BATCH slice's embeddings moved to a
    far-off blob — same construction as the refit-decision test: the
    documents relation is byte-identical (the TF-IDF chain must not see
    the drift), but the arrival embeddings drifted enough to flip the
    refit verdict."""
    from tf_idf_mapreduce_spark.operators import similarity as s
    from tf_idf_mapreduce_spark.operators.curation import (
        SAMPLE_BUCKET_MAX,
        _sample_bucket,
    )

    d = str(tmp_path / "drifted")
    os.makedirs(d)
    shutil.copy(
        os.path.join(sf_dir, "documents.parquet"),
        os.path.join(d, "documents.parquet"),
    )
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    batch_ids = {
        r["doc_id"]
        for r in docs.where(_sample_bucket() <= SAMPLE_BUCKET_MAX)
        .select("doc_id")
        .collect()
    }
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.head()["embedding"])
    assert len(batch_ids) >= s.REFIT_MIN_ARRIVALS
    blob = F.array(
        *(
            [(F.lit(50.0) + (F.col("vec_id") % 7) / 4.0).cast("float")]
            + [F.lit(50.0).cast("float")] * (dim - 1)
        )
    )
    emb.withColumn(
        "embedding",
        F.when(F.col("vec_id").isin(batch_ids), blob).otherwise(
            F.col("embedding")
        ),
    ).coalesce(1).write.parquet(os.path.join(d, "embeddings.parquet"))
    return d


def test_lifecycle_soak_promote_refit_compact(
    spark, drift_dir, tmp_path, monkeypatch
):
    """promote day 1 → promote day 2 → serve ANN at gen 0 → REFIT
    (generation bump) → promote day 3 → compact. Assertions:

    - the day-3 promoted chain hash-equals the one-shot ``tfidf_full``
      build, refit boundary invisible;
    - compaction after the refit preserves the relation and keeps the
      shared base tables (ADVICE r10);
    - the generation-0 centroids remain on disk but no post-refit key
      resolves them — staleness by key construction, not deletion."""
    import __spark_entry__ as entrymod

    from tf_idf_mapreduce_spark.operators import similarity as s
    from tf_idf_mapreduce_spark.operators.tfidf import (
        CHAIN_DAYS,
        _index_store_key,
        compact_index,
        promoted_index,
        score_index,
    )
    from tf_idf_mapreduce_spark.sources.io import table_fingerprint
    from tf_idf_mapreduce_spark.sources.model_store import (
        live_table_dir,
        model_dir,
    )

    store = str(tmp_path / "models")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", store)

    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    oneshot = rows(entrymod.queries()["tfidf_full"](spark, drift_dir))
    assert len(oneshot) > 1000

    # days 1..2: the daily promote loop (each day folds on the previous
    # day's PROMOTED parquet, constant plan depth)
    for day in (1, 2):
        segments, dfx, n, _o = promoted_index(spark, drift_dir, day)
        assert len(segments) == 1 + day  # base + one segment per day
        assert score_index(segments, dfx, n).count() > 0

    # mid-chain: serve the ANN side at generation 0, then the drift
    # report flips the verdict and the refit bumps the generation
    def cent_key(gen: int) -> tuple:
        return (
            drift_dir,
            table_fingerprint(drift_dir, "embeddings"),
            s.IVF_K,
            s.IVF_ITERS,
            spark.conf.get("spark.sql.shuffle.partitions"),
            spark.conf.get("spark.sql.adaptive.enabled"),
            gen,
        )

    e = (
        spark.read.parquet(os.path.join(drift_dir, "embeddings.parquet"))
        .select("vec_id", "embedding")
    )
    s.ivf_centroids(e, cache_key=drift_dir)  # gen-0 mint
    gen0_dir = model_dir("ivf_centroids", cent_key(0), spark)
    assert os.path.isdir(gen0_dir)

    summary = s.apply_refit_decision(spark, drift_dir)
    assert summary["refit"] and summary["old_generation"] == 0
    assert summary["new_generation"] == 1
    assert s.quantizer_generation(spark, drift_dir) == 1

    # day 3 promotes THROUGH the refit boundary; relation unchanged
    segments, dfx, n, _o = promoted_index(spark, drift_dir, CHAIN_DAYS)
    assert rows(score_index(segments, dfx, n)) == oneshot

    # compact the post-refit chain; relation still unchanged, shared
    # base kept for sibling queries
    csum = compact_index(
        spark, drift_dir, upto_day=CHAIN_DAYS, prune=True
    )
    assert csum["segments_before"] == 1 + CHAIN_DAYS
    segments, dfx, n, _o = promoted_index(spark, drift_dir, CHAIN_DAYS)
    assert len(segments) == 1  # one compacted table serves the chain
    assert rows(score_index(segments, dfx, n)) == oneshot
    base_key = _index_store_key(spark, drift_dir)
    assert live_table_dir("tfidf_index_postings", base_key, spark)

    # generation-0 ANN artifacts: still on disk, unreachable by key —
    # re-serving mints under the gen-1 key in a DIFFERENT directory
    s.ivf_centroids(e, cache_key=drift_dir)  # gen-1 mint
    gen1_dir = model_dir("ivf_centroids", cent_key(1), spark)
    assert gen1_dir != gen0_dir
    assert os.path.isdir(gen1_dir)
    assert os.path.isdir(gen0_dir)  # stale, never deleted by refit
    fam = os.path.join(store, "ivf_centroids")
    assert len([h for h in os.listdir(fam) if not h.startswith(".")]) == 2


def test_concurrent_promoters_one_version_serves(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Round-10 verdict #5: the day-k index PROMOTION race. Two
    concurrent promoters of the same day against one fresh store root:
    per artifact exactly one version ends up live (the loser's staged
    copy is deleted and it re-reads the winner's), both promoters serve
    the identical relation, and the chain still hash-equals the
    one-shot build. Any interleave is correct because both computes are
    deterministic functions of v_{k-1} — the store's first-promoter-wins
    manifest makes the mix visible-or-not, never torn."""
    import threading

    import __spark_entry__ as entrymod

    from tf_idf_mapreduce_spark.operators.tfidf import (
        CHAIN_DAYS,
        _index_store_key,
        promoted_index,
        score_index,
    )
    from tf_idf_mapreduce_spark.sources.model_store import (
        _read_current,
        model_dir,
    )

    store = str(tmp_path / "models")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", store)

    # build through day k-1 sequentially; the race is on day k alone
    promoted_index(spark, sf_dir, CHAIN_DAYS - 1)

    barrier = threading.Barrier(2)
    results, errors = [], []

    def promote():
        barrier.wait()
        try:
            results.append(promoted_index(spark, sf_dir, CHAIN_DAYS))
        except Exception as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    from pyspark import InheritableThread

    threads = [InheritableThread(target=promote) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(results) == 2

    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    oneshot = rows(entrymod.queries()["tfidf_full"](spark, sf_dir))
    for segments, dfx, n, _origin in results:
        assert rows(score_index(segments, dfx, n)) == oneshot

    # exactly one live version per day-k artifact; the loser's staged
    # v-* directory is gone
    key = _index_store_key(spark, sf_dir)
    day_keys = [
        ("tfidf_index_postings", key + ("chain", CHAIN_DAYS, "day", CHAIN_DAYS)),
        ("tfidf_index_df", key + ("chain", CHAIN_DAYS, "df", CHAIN_DAYS)),
    ]
    for fam, vkey in day_keys:
        d = model_dir(fam, vkey, spark)
        assert d and os.path.isdir(d), (fam, "artifact dir missing")
        cur = _read_current(d)
        staged = [x for x in os.listdir(d) if x.startswith("v-")]
        assert cur is not None and cur in staged, (fam, cur, staged)
        assert len(staged) == 1, (fam, staged)
