"""Property-based crash-schedule check of the streaming index-merge
protocol — the REAL ``make_index_merge`` driven batch-by-batch (no
Structured Streaming harness, which is what lets us inject crashes at
exact protocol points) under hypothesis-chosen compaction cadences and
crash schedules. Structured Streaming's contract is simulated
faithfully: a failed batch replays with the SAME id before any later
batch runs.

Crash points per batch:
- ``pre_commit``  — all data written, the manifest entry never lands
  (the classic stage-then-crash orphan);
- ``torn_commit`` — the commit write itself tears, leaving an EMPTY
  manifest entry (O_EXCL create + buffered write is not crash-atomic;
  the round-11 review finding);
- ``post_commit`` — committed, but the post-commit df/N reap never ran.

Invariants after the drain: every batch committed exactly once, the
served relation equals the one-shot TF-IDF over the same corpus, the
audit classifies the newest version live, and compacting roots hold the
designed bounds (segments <= 2*compact_every once a sweep has run)."""

from __future__ import annotations

import json
import os

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F


class _Crash(Exception):
    pass


def _tiny_corpus(spark):
    rows = [
        (i, f"alpha w{i % 5} beta w{(i * 3) % 7} gamma" + " delta" * (i % 3))
        for i in range(24)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _expected(spark, docs):
    from tf_idf_mapreduce_spark.functions.tokenize import tokenize
    from tf_idf_mapreduce_spark.operators.tfidf import (
        doc_freq,
        doc_totals,
        tfidf,
        word_count,
    )
    from tf_idf_mapreduce_spark.sources.io import documents_as_corpus

    n = docs.select(F.countDistinct("doc_id").alias("total_docs"))
    scored = tfidf(
        doc_freq(doc_totals(word_count(tokenize(documents_as_corpus(docs)))))
        .crossJoin(F.broadcast(n)),
        F.col("total_docs"),
    )
    return scored.select(
        "word", "doc", "count", "doc_total", "df",
        F.round("tfidf", 6).alias("tfidf"),
    )


CRASH_STAGES = ("pre_commit", "torn_commit", "post_commit")


@pytest.fixture(scope="module")
def corpus_and_expected(spark):
    docs = spark.createDataFrame(
        _tiny_corpus(spark).collect(), "doc_id long, text string"
    )
    docs.localCheckpoint()
    expected = sorted(tuple(r) for r in _expected(spark, docs).collect())
    slices = [
        docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == b).localCheckpoint()
        for b in range(4)
    ]
    return slices, expected


@given(
    compact_every=st.sampled_from([None, 2, 3]),
    crashes=st.dictionaries(
        st.integers(min_value=0, max_value=3),
        st.sampled_from(CRASH_STAGES),
        max_size=3,
    ),
)
@settings(max_examples=6, deadline=None)
def test_merge_protocol_survives_crash_schedules(
    spark, tmp_path_factory, corpus_and_expected, compact_every, crashes
):
    from tf_idf_mapreduce_spark.sources import fs
    from tf_idf_mapreduce_spark.sources.index_root import (
        manifest_versions,
        verify_index_root,
    )
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    slices, expected = corpus_and_expected
    root = str(tmp_path_factory.mktemp("proto"))
    merge = make_index_merge(root, compact_every=compact_every)

    real_exclusive = fs.put_text_exclusive
    real_delete = fs.delete_recursive

    for bid in range(4):
        stage = crashes.get(bid)
        if stage is not None:
            # first attempt crashes at the scheduled point; Structured
            # Streaming would then REPLAY this batch id before batch
            # bid+1 — which the unpatched second attempt below is
            try:
                if stage == "pre_commit":
                    def die(path, text, sp=None):
                        if "/manifest/" in path:
                            raise _Crash(path)
                        return real_exclusive(path, text, sp)

                    fs.put_text_exclusive = die
                elif stage == "torn_commit":
                    def tear(path, text, sp=None):
                        if "/manifest/" in path:
                            open(path, "w").close()  # empty = torn
                            raise _Crash(path)
                        return real_exclusive(path, text, sp)

                    fs.put_text_exclusive = tear
                else:  # post_commit: the df/N reap never runs

                    def skip_reap(path, sp=None):
                        raise _Crash(path)

                    fs.delete_recursive = skip_reap
                with pytest.raises(_Crash):
                    merge(slices[bid], bid)
                    # post_commit crash only fires if a reap was due;
                    # force it for schedules where nothing was reapable
                    raise _Crash("no reap due this batch")
            finally:
                fs.put_text_exclusive = real_exclusive
                fs.delete_recursive = real_delete
        merge(slices[bid], bid)  # the replay (or the only attempt)

    committed = manifest_versions(root)
    assert max(committed) == 3
    for v, meta in committed.items():
        assert json.dumps(meta)  # every surviving entry is valid JSON
    got = sorted(
        tuple(r)
        for r in read_merged_index(spark, root)
        .select("word", "doc", "count", "doc_total", "df", "tfidf")
        .collect()
    )
    assert got == expected

    rep = verify_index_root(root)
    assert rep["newest"] == 3
    assert rep["versions"][3]["state"] == "live"
    if compact_every is not None:
        segs = [x for x in os.listdir(root) if x.startswith("seg_v")]
        assert len(segs) <= 2 * compact_every + 1
    else:
        # full retention: every version is as-of readable
        assert set(committed) == {0, 1, 2, 3}
        assert all(
            rep["versions"][v]["state"] in ("live", "retained")
            for v in committed
        )


def test_compact_every_one_never_orphans_dfn(spark, tmp_path):
    """Round-11 ADVICE: with ``compact_every=1`` every committed version
    is a base, so the old manifest prune (cutoff = max(bases) = cur)
    deleted the entry of cur's PARENT while ``live_dfn`` deliberately
    kept its df/N dirs as the grace generation — verify_index_root then
    reported them ORPHANED until the next sweep. The cutoff now also
    respects min(live_dfn): df/N retention and manifest retention stay
    consistent, so the audit never sees an orphan at ANY point of the
    drain — only live/retained/partial, all by-design states."""
    from tf_idf_mapreduce_spark.sources import fs
    from tf_idf_mapreduce_spark.sources.index_root import (
        manifest_versions,
        verify_index_root,
    )
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha w{i % 5} beta w{(i * 3) % 7} gamma")
            for i in range(20)
        ],
        "doc_id long, text string",
    ).localCheckpoint()
    root = str(tmp_path / "ce1")
    merge = make_index_merge(root, compact_every=1)
    for b in range(6):
        merge(docs.where(F.pmod(F.col("doc_id"), F.lit(6)) == b), b)
        rep = verify_index_root(root)
        assert rep["orphans"] == [], (
            f"batch {b}: df/N dirs outlived their manifest entries"
        )
    committed = manifest_versions(root)
    # the grace df/N generation (the newest version's parent) keeps its
    # manifest entry for as long as its dirs may exist
    assert {5, 4} <= set(committed)
    # and the served relation still equals the one-shot build
    got = sorted(
        tuple(r)
        for r in read_merged_index(spark, root)
        .select("word", "doc", "count", "doc_total", "df", "tfidf")
        .collect()
    )
    expected = sorted(
        tuple(r)
        for r in _expected(spark, docs)
        .withColumn("tfidf", F.col("tfidf"))
        .collect()
    )
    assert got == expected
    # manifest stays O(compact_every): bounded, not one entry per batch
    assert len(committed) <= 3
    assert len(fs.list_names(os.path.join(root, "manifest"))) <= 3
