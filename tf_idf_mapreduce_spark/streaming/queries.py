"""Streaming query graphs + driver-contract entries.

Each ``q_*`` function executes its streaming graph to completion
(``availableNow`` trigger) and returns the result as a batch DataFrame, so
the driver's correctness harness can diff it against a SQL oracle — the
streaming engine's answer must equal the batch answer on a finite input.

Semantics notes (scale-relevant):
- Word count in complete mode: state = one row per distinct word.
  At 100 TB feed rates you'd switch to update mode + an idempotent upsert
  sink so state stays bounded per trigger, same graph otherwise.
- ``session_window`` merges events whose gap is strictly less than the
  configured 30 min (event ranges ``[ts, ts+gap)`` must overlap), i.e. a
  gap of exactly 1800 s starts a NEW session — one second tighter than the
  batch lag-based sessionizer (operators.events), whose convention is
  ``diff > gap``. Both oracles encode their own convention.
- The ``applyInPandasWithState`` sessionizer emits CLOSED sessions only and
  carries the open session per user in state across micro-batches — the
  correct unbounded-stream design (an open session is unemittable until its
  gap passes). On a finite run, each user's final session stays open, so
  the oracle is "batch sessions minus each user's last".
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.hashing import norm_words
from ..operators.events import SESSION_GAP_SEC
from ..sources import fs
from ..sources.index_root import (
    add_tombstones,
    commit_version,
    index_state,
    manifest_versions,
    segment_chain,
    sweep,
    tombstone_ledger,
)
from .runner import run_foreach_batch, run_to_memory
from .sources import stream_documents, stream_events, stream_parquet


def q_stream_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental word count over the documents stream (complete mode)."""
    docs = stream_documents(spark, sf_dir)
    words = docs.select(F.explode(norm_words(F.col("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    return run_to_memory(counts, "stream_wordcount", output_mode="complete")


def q_stream_incremental_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word count drained over FOUR micro-batches (``maxFilesPerTrigger=1``
    against a 4-file split of the corpus) — proves the aggregation state
    actually accumulates across triggers rather than the run degenerating
    into one batch job. The final answer must equal the batch word count.

    This is the shape of a real backlog drain at scale: a landing
    directory of many files, bounded ingest per trigger, state carried in
    the store between triggers.
    """
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split_dir = _corpus_split_dir(sf_dir, docs)
    src = stream_parquet(spark, split_dir, docs.schema, "*.parquet", 1)
    words = src.select(F.explode(norm_words(F.col("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("n"))
    return run_to_memory(counts, "stream_inc_wordcount", output_mode="complete")


#: Temp artifacts built once per (``prefix``, ``key``) in this process:
#: the corpus and events splits, the drained index roots and the JSONL
#: landing copy. Repeated bench/oracle runs re-drain the same landing
#: directory instead of rewriting it. Kept apart from the Spark memo
#: (``sources.io.memo``): these are files that outlive an application,
#: and the memo sweeps other applications' entries. One atexit sweep
#: removes them all, so runs don't accumulate orphaned temp dirs.
_TMPDIR_CACHE: dict[tuple[str, str], str] = {}


@atexit.register
def _sweep_tmpdirs() -> None:
    for d in _TMPDIR_CACHE.values():
        shutil.rmtree(d, ignore_errors=True)


def _cached_tmpdir(prefix: str, key: str, build) -> str:
    """The temp dir for (``prefix``, ``key``), made and filled by
    ``build(dir)`` on the first call of this process."""
    d = _TMPDIR_CACHE.get((prefix, key))
    if d is None:
        d = tempfile.mkdtemp(prefix=prefix)
        build(d)
        _TMPDIR_CACHE[(prefix, key)] = d
    return d


def _corpus_split_dir(sf_dir: str, docs: DataFrame) -> str:
    return _cached_tmpdir(
        "stream_split_wc_",
        sf_dir,
        lambda d: docs.repartitionByRange(4, "doc_id")
        .write.mode("overwrite")
        .parquet(d),
    )


def q_stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling windows per event type — the streaming
    twin of operators.events.q_tumbling_hourly (same output schema)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start_sec"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(agg, "stream_tumbling", output_mode="complete")


def q_stream_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TF-IDF index maintenance — the flagship 4-job chain
    (WordCount → CountTF → CalcTFIDF, TfidfMapReduce.java:36-100) with
    its STATEFUL stage kept by Structured Streaming.

    The (word, doc) count and the per-document registry drain over four
    micro-batches (``maxFilesPerTrigger=1`` against the 4-file corpus
    split) as ONE union-tagged stateful aggregation — word rows keyed
    ('w', word, doc), one registry row per document keyed ('d', _, doc) —
    accumulating in a single state store across triggers: the shape of a
    live index absorbing a document feed, and one drain instead of two.
    The registry rows exist because streaming has no exact countDistinct
    and a doc with zero surviving tokens still raises the IDF denominator
    (same caveat as tfidf_pipeline), so total_docs cannot be derived from
    the wordcount state alone. The TF/TF-IDF math is a deterministic
    batch post-pass over the drained state: every input it needs (counts,
    totals, df, N) is a pure function of the maintained state, so
    re-deriving it per refresh is how an incremental index actually
    publishes. The final relation must hash-match the batch
    ``tfidf_full`` oracle.
    """
    from ..functions.tokenize import tokenize
    from ..operators.tfidf import doc_freq, doc_totals, tfidf
    from ..sources.io import documents_as_corpus

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split_dir = _corpus_split_dir(sf_dir, docs)

    def src() -> DataFrame:
        return stream_parquet(spark, split_dir, docs.schema, "*.parquet", 1)

    words = tokenize(documents_as_corpus(src())).select(
        F.lit("w").alias("kind"), "word", "doc"
    )
    registry = src().select(
        F.lit("d").alias("kind"),
        F.lit("").alias("word"),
        F.col("doc_id").cast("string").alias("doc"),
    )
    state = run_to_memory(
        words.unionByName(registry)
        .groupBy("kind", "word", "doc")
        .agg(F.count("*").alias("count")),
        "stream_tfidf_state",
        output_mode="complete",
    )
    counts = state.where(F.col("kind") == "w").select("word", "doc", "count")
    ndocs = (
        state.where(F.col("kind") == "d")
        .agg(F.count("*").alias("total_docs"))
    )
    scored = tfidf(
        doc_freq(doc_totals(counts)).crossJoin(F.broadcast(ndocs)),
        F.col("total_docs"),
    )
    return scored.select(
        "word",
        "doc",
        "count",
        "doc_total",
        "df",
        F.round("tfidf", 6).alias("tfidf"),
    )


def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``operators.events.q_anomaly_hours``: hours whose
    event count sits >= 2 sample standard deviations from the type's
    hourly mean.

    Only the STATEFUL half runs in the stream — the watermarked hourly
    count, whose state is bounded by (types x open hours). The z-score
    needs the per-type mean/stddev over ALL hours, a second stateful
    aggregation Structured Streaming won't chain in one graph — and an
    alerting pipeline wouldn't want it to: the scoring pass re-reads the
    tiny materialized aggregate each trigger (here: once, after the
    availableNow drain) and broadcasts |types| rows of stats back onto
    it. The scoring is the batch operator's own ``anomaly_scores``, so the
    streaming answer hash-matches the batch oracle.
    """
    from ..operators.events import anomaly_scores

    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("hour_start_sec"),
            "event_type",
            "n_events",
        )
    )
    return anomaly_scores(
        run_to_memory(hourly, "stream_anomaly", output_mode="complete")
    )


def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``session_window`` gap-based sessions per user (30 min gap)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts_sec").alias("session_start_sec"),
            F.max("ts_sec").alias("session_end_sec"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            "session_start_sec",
            "session_end_sec",
            "n_events",
            (F.col("session_end_sec") - F.col("session_start_sec")).alias(
                "duration_sec"
            ),
        )
    )
    return run_to_memory(agg, "stream_session_window", output_mode="complete")


def q_stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour windows hopping every 30 min — each event lands in
    exactly length/slide = 2 windows, epoch-aligned."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start_sec"),
            "event_type",
            "n_events",
        )
    )
    return run_to_memory(agg, "stream_sliding", output_mode="complete")


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each streaming event picks up its
    user's all-time stats from a batch-side table. The static side is
    re-planned per micro-batch (picking up dim updates) and broadcast when
    small — the canonical pattern for dimension enrichment at scale."""
    from ..sources.io import load_events

    stream = stream_events(spark, sf_dir).select("event_id", "user_id", "ts_sec")
    static = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count("*").alias("user_total_events"))
    )
    joined = stream.join(F.broadcast(static), "user_id")
    out = joined.select("event_id", "user_id", "ts_sec", "user_total_events")
    return run_to_memory(out, "stream_static_join", output_mode="append")


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM inner join with event-time bounds: each purchase event
    joined to the same user's clicks in the preceding hour, both sides
    unbounded streams. Watermarks on BOTH inputs plus the time-range join
    condition let Spark evict buffered rows once they can no longer match —
    bounded state at 100 TB feed rates; without them a stream-stream join
    buffers forever. The finite drain must produce exactly the batch join's
    pairs.
    """
    # join bounds are defined in WHOLE SECONDS (the batch twin compares
    # ts_sec): truncate the event-time column before the watermark so the
    # range condition can't disagree with the second-resolution semantics
    # on a sub-second fixture (watermark state eviction still works — the
    # truncated column is a valid event time, off by < 1 s)
    ev = stream_events(spark, sf_dir)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts_sec").alias("purchase_sec"),
            F.date_trunc("second", F.col("ts")).alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts_sec").alias("click_sec"),
            F.date_trunc("second", F.col("ts")).alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select(
        "purchase_id",
        "click_id",
        "user_id",
        (F.col("purchase_sec") - F.col("click_sec")).alias("gap_sec"),
    )
    return run_to_memory(joined, "stream_stream_join", output_mode="append")


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: ``dropDuplicates`` keeps one row per key in
    state across micro-batches (pair with a watermark on the key's event
    time to bound state at 100 TB feed rates)."""
    ev = stream_events(spark, sf_dir).select("event_id", "user_id", "ts_sec")
    deduped = ev.dropDuplicates(["event_id"])
    return run_to_memory(deduped, "stream_dedup", output_mode="append")


def q_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-state streaming dedup: ``dropDuplicatesWithinWatermark``
    holds a key only until the watermark passes its event time + delay,
    then evicts it — the variant that actually survives an unbounded
    100 TB feed, where plain ``dropDuplicates`` grows state forever.
    The contract weakens accordingly: only duplicates arriving within
    the watermark delay of each other are suppressed (exactly the
    at-least-once-redelivery window a message bus produces). On the
    fixture every event_id occurs once, so the drained result still
    equals the batch relation — the eviction semantics are pinned by a
    planted-duplicate pytest."""
    ev = stream_events(spark, sf_dir).select(
        "event_id", "user_id", "ts", "ts_sec"
    ).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"]).drop("ts")
    return run_to_memory(
        deduped, "stream_dedup_watermarked", output_mode="append"
    )


# ---------------------------------------------------------------------------
# Custom stateful operator: applyInPandasWithState sessionizer
# ---------------------------------------------------------------------------

SESSIONS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start_sec", LongType()),
        StructField("session_end_sec", LongType()),
        StructField("n_events", LongType()),
    ]
)

#: Open-session carry: (start_sec, end_sec, n_events).
SESSIONS_STATE_SCHEMA = StructType(
    [
        StructField("start_sec", LongType()),
        StructField("end_sec", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _sessionize_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user stateful sessionizer.

    Arrow-batched input; state holds the one open session. Closed sessions
    (gap > SESSION_GAP_SEC, matching the batch lag-based convention) are
    emitted; the still-open tail session is written back to state.
    """
    ts_parts = [pdf["ts_sec"] for pdf in pdfs]
    ts = pd.concat(ts_parts).sort_values().astype("int64").to_numpy()

    if state.exists:
        start, end, n = state.get
    else:
        start = end = n = None

    closed: list[tuple[int, int, int]] = []
    for t in ts:
        t = int(t)
        if start is None:
            start, end, n = t, t, 1
        elif t - end > SESSION_GAP_SEC:
            closed.append((start, end, n))
            start, end, n = t, t, 1
        else:
            end, n = t, n + 1
    if start is not None:
        state.update((start, end, n))

    if closed:
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(closed),
                "session_start_sec": [c[0] for c in closed],
                "session_end_sec": [c[1] for c in closed],
                "n_events": [c[2] for c in closed],
            }
        )


def stateful_sessions(events: DataFrame) -> DataFrame:
    """Streaming DF of closed sessions via applyInPandasWithState."""
    return events.select("user_id", "ts_sec").groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=SESSIONS_OUT_SCHEMA,
        stateStructType=SESSIONS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    return run_to_memory(
        stateful_sessions(ev), "stream_stateful_sessions", output_mode="append"
    )


def _events_split_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(split_dir: str) -> None:
        raw = spark.read.parquet(f"{sf_dir}/events.parquet")
        # range-partition on whichever time column THIS raw variant
        # carries — normalize_events accepts either a ts (long nanos or
        # timestamp) or a ts_ns fixture shape, and the split must too
        tcol = "ts" if "ts" in raw.columns else "ts_ns"
        raw.repartitionByRange(4, tcol).write.mode("overwrite").parquet(
            split_dir
        )

    return _cached_tmpdir("stream_split_ev_", sf_dir, build)


def q_stream_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC upsert via ``foreachBatch`` — the canonical production sink
    pattern the memory-sink queries can't show: each micro-batch MERGEs
    into a persistent snapshot table holding the latest event per user.

    The changelog drains in FOUR micro-batches (``maxFilesPerTrigger=1``
    over a time-range 4-file split); every batch reads the previous
    snapshot version, unions the new rows, recomputes latest-per-key, and
    writes a NEW snapshot version whose path becomes current only after
    the write succeeds — the plain-parquet stand-in for ``MERGE INTO`` on
    a transactional table (Delta/Iceberg), idempotent under batch replay.
    Keep-last under the (ts_ns, event_id) order is associative and
    commutative, so micro-batch boundaries cannot change the final
    answer: the drained snapshot must equal the batch
    ``temporal_latest_snapshot``.

    At 100 TB feed rates the per-batch cost is |batch| + |keys touched|
    with a transactional sink; the full-union rewrite here is the
    fixture-sized simplification, with the plan shape (window compaction
    per version) unchanged.
    """
    import os

    from pyspark.sql.window import Window

    from ..sources.io import normalize_events

    split_dir = _events_split_dir(spark, sf_dir)
    raw_schema = spark.read.parquet(split_dir).schema
    src = normalize_events(
        stream_parquet(spark, split_dir, raw_schema, "*.parquet", 1)
    ).select("user_id", "event_id", "ts_ns", "ts_sec", "event_type", "value")

    root = tempfile.mkdtemp(prefix="stream_upsert_snap_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    state: dict[str, Any] = {"cur": None}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        merged = batch_df
        if state["cur"] is not None:
            merged = sess.read.parquet(state["cur"]).unionByName(batch_df)
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts_ns"), F.desc("event_id")
        )
        snap = (
            merged.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .drop("rn")
        )
        path = os.path.join(root, f"v{batch_id}")
        snap.write.mode("overwrite").parquet(path)
        state["cur"] = path  # becomes current only after a complete write

    run_foreach_batch(src, merge, "stream_upsert_snapshot")
    assert state["cur"] is not None, "no micro-batch arrived"
    return spark.read.parquet(state["cur"]).select(
        "user_id",
        "event_id",
        "ts_sec",
        "event_type",
        F.round("value", 2).alias("value"),
    )


def q_stream_word_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch counters over the documents STREAM — the bounded-
    state answer to ``q_stream_wordcount``'s unbounded vocabulary state.

    The aggregation state is exactly d*w = 4096 counter rows no matter
    how many distinct words the stream ever sees: each token maps to its
    CMS_D (row, bucket) cells and the groupBy folds them with map-side
    partial aggregation. This is why sketches exist in streams — word
    count state grows with vocabulary (unbounded on an open crawl), the
    sketch's doesn't. The drained counters hash-match the BATCH sketch
    (``textstats.cms_counters``) on the same corpus; the estimate/audit
    surface is the batch ``text_word_cms`` query over these counters.
    """
    from ..operators.textstats import CMS_D, CMS_W

    from ..functions.hashing import MINHASH_P, MINHASH_PERMS, word_hash32

    docs = stream_documents(spark, sf_dir)
    words = docs.select(F.explode(norm_words(F.col("text"))).alias("word"))
    h = word_hash32(F.col("word"))
    cells = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (((h * F.lit(a) + F.lit(b)) % MINHASH_P) % CMS_W).alias("bucket"),
            )
            for i, (a, b) in enumerate(MINHASH_PERMS[:CMS_D])
        ]
    )
    counters = (
        words.select(F.explode(cells).alias("hb"))
        .select(F.col("hb.i").alias("i"), F.col("hb.bucket").alias("bucket"))
        .groupBy("i", "bucket")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return run_to_memory(counters, "stream_word_cms", output_mode="complete")


def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arrival screen LIVE: the batch slice streams in and is checked
    against the STATIC corpus signature index — the streaming twin of
    ``dedup.incremental_dedup`` (identical output, same oracle).

    Streaming-specific design: the per-doc MinHash signature must be
    STATELESS here (an agg-built signature would chain three stateful
    operators, which Structured Streaming rejects without event-time
    watermarks), so the stream side uses the column-level formulation
    (pinned equal to the row-level one by
    ``test_groupby_formulation_matches_column_formulation``), with the
    k permutation folds in ``minhash_signature_udf`` — the Arrow twin,
    bit-identical integer math, one numpy pass per batch instead of k
    interpreted HOF folds per row (at 100 TB/day you'd precompute
    signatures in the ingest mapper anyway). The band join is
    stream-static LEFT OUTER (keep-docs must surface too), the static
    index re-plans per micro-batch — in production it is a persisted
    bucketed table — and the ONE stateful aggregation folds band hits
    per doc with ``collect_set`` (bounded by each doc's true match
    set, not by band multiplicity).
    """
    from ..functions.hashing import (
        MINHASH_K,
        band_keys,
        minhash_signature_udf,
        shingle_hashes,
        shingles,
    )
    from ..operators.curation import SAMPLE_BUCKET_MAX, _sample_bucket
    from ..operators.dedup import INCREMENTAL_EST_JACCARD, corpus_band_index

    is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX
    # the static side is the PERSISTED signature index (round 9:
    # ``dedup.corpus_band_index`` — shared with the batch arrival
    # screen, computed once per documents fingerprint, read from the
    # store by every later run/session). The static side re-plans per
    # micro-batch, so the table barrier also stops each trigger from
    # re-signing the corpus (the pre-store localCheckpoint measured
    # 7.7 -> 6.5 s at sf0.1; the persisted table removes the re-sign
    # from every run after the first).
    static_bands = corpus_band_index(spark, sf_dir)

    # the k permutation folds run in the Arrow twin (one numpy pass per
    # batch — guide §4.2) instead of k interpreted transform+array_min
    # HOFs per row; shingling + the one md5 per shingle stay JVM-side
    sig = minhash_signature_udf()(
        shingle_hashes(shingles(norm_words(F.col("text"))))
    )
    batch = (
        stream_documents(spark, sf_dir)
        .where(is_batch)
        .select("doc_id", sig.alias("sig_b"))
        .select(
            "doc_id", "sig_b", F.explode(band_keys(F.col("sig_b"))).alias("bk")
        )
        .select(
            "doc_id",
            "sig_b",
            F.col("bk.band").alias("band"),
            F.col("bk.key").alias("key"),
        )
    )
    agree = F.size(
        F.filter(F.zip_with("sig_b", "sig_c", lambda x, y: x == y), lambda m: m)
    )
    est = agree / MINHASH_K
    hit = F.when(est >= INCREMENTAL_EST_JACCARD, F.col("c_doc"))
    joined = batch.join(static_bands, ["band", "key"], "left_outer")
    per_doc = joined.groupBy("doc_id").agg(
        F.collect_set(hit).alias("matches"),
        F.max(F.when(est >= INCREMENTAL_EST_JACCARD, est)).alias("best_est"),
    )
    out = per_doc.select(
        "doc_id",
        F.when(F.size("matches") > 0, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("status"),
        F.array_min("matches").alias("match_doc_id"),
        F.size("matches").cast("long").alias("n_matches"),
        "best_est",
    )
    return run_to_memory(out, "stream_incremental_dedup", output_mode="complete")


def q_stream_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``operators.events.q_downsample_m4`` (same
    output schema, same rows): the M4 extremes maintained live. min_by/
    max_by/min/max are all MERGEABLE aggregates — per-bucket state is
    four scalars + two keys however many micro-batches feed it, so a
    live dashboard reads the current extremes every trigger without
    ever re-scanning history; complete mode here (finite drain), update
    mode + upsert sink at production feed rates."""
    from ..operators.events import m4_aggregate

    agg = m4_aggregate(stream_events(spark, sf_dir))
    return run_to_memory(agg, "stream_m4", output_mode="complete").orderBy(
        "event_type", "bucket_sec"
    )


BOT_STATE_SCHEMA = StructType(
    [
        StructField("last_ts", LongType()),
        StructField("n_gaps", LongType()),
        StructField("sum_gap", LongType()),
        StructField("sum_gap2", LongType()),
        StructField("min_gap", LongType()),
        StructField("n_late", LongType()),
    ]
)

BOT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_gaps", LongType()),
        StructField("sum_gap", LongType()),
        StructField("sum_gap2", LongType()),
        StructField("min_gap", LongType()),
        StructField("n_late", LongType()),
    ]
)


def _bot_group(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user running cadence moments: state = (last_ts, n, Σg, Σg²,
    min g, n_late) — six longs per user forever, the bounded-state form
    of the batch screen. Gaps are a multiset invariant of equal-ts
    ordering, so the within-batch ts sort reproduces the batch moments
    exactly WHEN delivery is per-user in-order across micro-batches.
    Cross-batch stragglers (an event older than last_ts arriving in a
    later batch) would make t - last negative and silently corrupt the
    moments — those gaps are SKIPPED and counted in ``n_late``, the
    visible divergence meter: n_late = 0 certifies the moments equal the
    batch relation; n_late > 0 quantifies exactly how many gaps the
    bounded-state screen dropped."""
    ts_parts = [pdf["ts_sec"] for pdf in pdfs]
    ts = pd.concat(ts_parts).sort_values().astype("int64").to_numpy()
    if state.exists:
        last, n, s, s2, mn, late = state.get
    else:
        last, n, s, s2, mn, late = None, 0, 0, 0, None, 0
    for t in ts:
        t = int(t)
        if last is not None:
            g = t - last
            if g < 0:
                late += 1
                continue
            n += 1
            s += g
            s2 += g * g
            mn = g if mn is None else min(mn, g)
        last = t if last is None else max(last, t)
    state.update((last, n, s, s2, mn if mn is not None else 0, late))
    yield pd.DataFrame(
        {
            "user_id": [int(key[0])],
            "n_gaps": [n],
            "sum_gap": [s],
            "sum_gap2": [s2],
            "min_gap": [mn if mn is not None else 0],
            "n_late": [late],
        }
    )


def q_stream_bot_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_bot_score``: the cadence moments
    maintained live in five longs of state per user
    (``applyInPandasWithState``), each micro-batch emitting the user's
    RUNNING totals; the drain keeps each user's latest emission (max
    n_gaps — counts only grow) and runs the batch screen's own
    ``bot_flags`` select, so the finite run lands on the batch relation
    row-for-row via the shared oracle."""
    from ..operators.events import bot_flags

    ev = stream_events(spark, sf_dir)
    running = (
        ev.select("user_id", "ts_sec")
        .groupBy("user_id")
        .applyInPandasWithState(
            _bot_group,
            outputStructType=BOT_OUT_SCHEMA,
            stateStructType=BOT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    drained = run_to_memory(running, "stream_bot", output_mode="append")
    latest = (
        drained.groupBy("user_id")
        .agg(
            F.max(
                F.struct("n_gaps", "sum_gap", "sum_gap2", "min_gap")
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.n_gaps").alias("n_gaps"),
            F.col("m.sum_gap").alias("sum_gap"),
            F.col("m.sum_gap2").alias("sum_gap2"),
            F.col("m.min_gap").alias("min_gap"),
        )
        .where(F.col("n_gaps") > 0)
    )
    return bot_flags(latest)


def make_index_merge(root: str, compact_every: int | None = None):
    """The ``foreachBatch`` MERGE for live TF-IDF index maintenance —
    the streaming side of ``operators.tfidf.promoted_index``'s loop
    (round-9 verdict #2): every micro-batch is one
    ``operators.tfidf.fold`` of its slice into the parent version's
    state, exactly like a promoted daily batch, and reads serve through
    the same ``score``. Only the fold's ``put`` differs: here postings
    and df are plain parquet under the root (``seg_v{b}``, ``df_v{b}``)
    and N rides the manifest entry, there word-bucketed store tables
    with N in the df version's ``_N`` file — and so do the layout and
    the commit protocol around it.

    Per batch: the fold tokenizes ONLY the batch slice, writes its
    postings as an append-only segment, adds its word counts into the
    parent version's df and its doc count into the parent's N
    (corpus-side count, so zero-word docs still raise the IDF
    denominator); then the batch commits a manifest entry carrying the
    parent pointer and the cumulative N. Restart safety
    comes from the manifest, not driver memory: batch ids are stable
    under Structured Streaming's checkpoint, and a batch whose manifest
    entry already exists is a committed replay — a NO-OP (its data and
    manifest are complete by the commit ordering), so at-least-once
    ``foreachBatch`` delivery composes to exactly-once index state
    (exercised by the mid-drain-kill test).

    ``compact_every``: an unbounded stream accretes one postings
    segment per micro-batch; every ``compact_every``-th batch instead
    folds its parent chain's segments INTO its own segment and marks
    the manifest entry ``base`` (read stops there), so the serving
    scan count stays bounded forever — the in-stream twin of ``models
    compact``. Segments a compaction supersedes are NOT reaped by that
    compaction: they survive as a GRACE generation (readers that
    resolved the pre-compaction version keep scanning them) and are
    swept at the START of the NEXT compacting batch, together with any
    dirs a crash orphaned and any manifest entries below the newest
    base (``sources.index_root.sweep``). Sweep-then-commit (never
    commit-then-reap) means a crash can only defer a sweep, never leak
    state forever. Live state is therefore bounded at <=
    2*compact_every segments + 2 df generations + O(compact_every)
    manifest files, however long the stream runs. The compaction
    decision depends only on the stable batch id, so replays take the
    same path.

    ``root`` may be local, ``file://``, ``hdfs://``, or ``s3a://``:
    the manifest read, commit and sweep are ``sources.index_root``'s,
    and every non-Spark I/O goes through ``sources.fs`` — no directory
    renames, the same posture as the model store."""
    from ..operators.tfidf import DF, N, POSTINGS, fold
    from ..sources.io import documents_as_corpus

    prefix = {POSTINGS: "seg", DF: "df"}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        committed = manifest_versions(root, sess)
        if batch_id in committed:
            # a replayed, already-committed batch: everything it would
            # write is complete (manifest commits last) — idempotent skip
            return
        if batch_df.limit(1).count() == 0:
            # an EMPTY batch mints no version at all: the parent chain is
            # untouched, readers keep serving the previous version, and a
            # replay re-skips — simpler and safer than committing a
            # version whose empty df parquet a later batch couldn't read
            return
        parents = [v for v in committed if v < batch_id]
        parent = max(parents) if parents else None

        corpus = documents_as_corpus(batch_df)
        compacting = (
            compact_every is not None
            and parent is not None
            and batch_id % compact_every == compact_every - 1
        )
        if compacting:
            # sweep BEFORE any write of this batch: expired-grace
            # segments, crash-orphaned dirs, stale manifest entries.
            # The fold chain below is exactly the newest version's
            # chain, which the sweep preserves by construction.
            sweep(root, committed, batch_id, sess)

        def put(part: str, build):
            rel = build()
            if part == N:
                return rel  # committed with the manifest entry below
            if part == POSTINGS and compacting:
                # fold the parent chain's segments into THIS segment —
                # docs are disjoint across segments, so the union IS
                # the merged postings
                for v in segment_chain(committed, parent):
                    rel = rel.unionByName(
                        sess.read.parquet(fs.join(root, f"seg_v{v}"))
                    )
            path = fs.join(root, f"{prefix[part]}_v{batch_id}")
            rel.write.mode("overwrite").parquet(path)
            if part != POSTINGS:
                return rel
            # the batch df derives from the JUST-WRITTEN segment: one
            # scan, and the tokenize never re-evaluates per consumer.
            # When compacting, restrict to the batch's own docs (the
            # rest of the segment is already counted in the parent's
            # df — df/N lineage is additive as ever)
            seg = sess.read.parquet(path)
            if compacting:
                own = corpus.select(F.col("doc").alias("_d")).distinct()
                seg = seg.join(
                    F.broadcast(own), seg["doc"] == own["_d"]
                ).drop("_d")
            return seg

        state = None
        if parent is not None:
            state = (
                [],
                sess.read.parquet(fs.join(root, f"df_v{parent}")),
                committed[parent]["n"],
            )
        n = fold(state, lambda: corpus, put).n
        entry = {"parent": parent, "segment": True, "base": compacting, "n": n}
        commit_version(root, batch_id, entry, sess)
        # reap stale df AFTER the commit: a crash before this point
        # replays as a no-op (entry committed) and the leftovers are
        # unreferenced files, never a wrong read — and any leak here is
        # healed by the next compaction's sweep. df older than the
        # parent are unreachable to a NEWEST-version reader (a replayed
        # batch's parent is the newest committed below it). The reap
        # only runs in compacting mode: a non-compacting stream is the
        # full-retention regime — every version stays a complete,
        # immutable index state, so ``read_merged_index(version=...)``
        # can time-travel to ANY batch. Segments are never reaped here
        # in either mode: a compaction's superseded chain survives as
        # the grace generation until the next compacting batch sweeps
        # it (see the factory docstring).
        if compact_every is not None:
            for v in committed:
                if v < (parent if parent is not None else -1):
                    fs.delete_recursive(fs.join(root, f"df_v{v}"), sess)

    return merge


def read_merged_index(
    spark: SparkSession,
    root: str,
    version: int | None = None,
    honor_tombstones: bool = True,
) -> DataFrame:
    """Score the streamed index at a committed version: resolve its
    postings segments, df table and N (``sources.index_root
    .index_state``), apply the takedown overlay, and reuse the batch
    scorer — the serving relation is a pure function of the maintained
    tables, exactly like the batch promoted chain.

    ``version=None`` serves the newest committed version. An explicit
    ``version`` is an AS-OF (time-travel) read: the index exactly as
    batch ``version`` left it — the manifest's parent pointers plus
    append-only segments make every retained version a complete,
    immutable index state. Retention bounds what "retained" means: a
    non-compacting stream keeps every version forever (unbounded time
    travel); with ``compact_every`` set, the per-batch reap keeps df
    for only the newest version and its parent, so as-of reads there
    reach exactly those two versions (older committed versions keep
    their segments up to a compaction cycle longer, but not the df an
    as-of read needs — ``verify_index_root`` reports which versions are
    still fully readable as ``retained``).

    Read contract on a LIVE stream: the returned DataFrame scans its
    version's files lazily. For the NEWEST version's SEGMENTS the merge
    reaps one full compaction generation late (the grace window in
    ``sources.index_root.sweep``), but the version's df table is reaped
    as soon as two newer batches commit — so a resolved reader is only
    guaranteed valid until the SECOND subsequent micro-batch, not until
    the next compaction. Read after the drain has finished (as every
    in-repo caller does), or re-resolve per micro-batch on a live
    stream."""
    from ..operators.tfidf import score

    *state, cur = index_state(spark, root, version)
    if honor_tombstones:
        state = _apply_tombstone_overlay(spark, root, *state, cur)
    return score(state)


def _apply_tombstone_overlay(spark, root: str, segs, dfx, n, version):
    """The takedown overlay (see :func:`add_tombstones`) applied to one
    root's (segments, df, N) state at ``version``: drop the tombstoned
    docs' postings from every segment, then re-derive df (minus each
    word's count of removed docs) and N (minus the removed docs present
    in the chain).

    SCAN-FREE on the common path: the adjustments come from the
    resolutions stored in the ledger entries at write time — a
    driver-side dict fold gated by ``seg_version <= version`` (exact
    for as-of reads; see :func:`add_tombstones`) — so the serve adds
    only broadcast literals and an anti-filter over the segments it was
    already scanning (P18: content-derived adjustments cost ~2.4x the
    plain serve even for a 10-doc ledger). Docs with no stored
    resolution (pre-emptive blocklist entries written before the doc
    arrived) fall back to one IN-filtered content scan for exactly
    those docs. A no-op (state returned unchanged) when the root has no
    ledger. Shared by the single-root read and the sharded federation
    (each shard's ledger adjusts ITS state, at ITS version, before the
    cross-shard sums)."""
    from collections import Counter
    from functools import reduce

    ts, resolved = tombstone_ledger(root, spark)
    if not ts:
        return segs, dfx, n
    adj_counts: Counter = Counter()
    n_removed = 0
    for doc, (seg_v, words) in resolved.items():
        if seg_v <= version:
            n_removed += 1
            for w in set(words):
                adj_counts[w] += 1
    unresolved = [d for d in ts if d not in resolved]
    if unresolved:
        # the rare fallback: content-scan ONLY the unresolved docs
        # (request-sized collect — the same size class as the entry
        # resolution would have been)
        hit = F.col("doc").isin(unresolved)
        rows = (
            reduce(
                lambda a, b: a.unionByName(b),
                [seg.where(hit) for seg in segs],
            )
            .select("word", "doc")
            .collect()
        )
        for doc in {r["doc"] for r in rows}:
            n_removed += 1
        for r in rows:
            adj_counts[r["word"]] += 1
    if n_removed == 0:
        # nothing in this version's chain — serving filter is a no-op
        # too, so return the state untouched (keeps the plain plan)
        return segs, dfx, n
    adj_df = spark.createDataFrame(
        [(w, int(c)) for w, c in adj_counts.items()], "word string, ts_n long"
    )
    # broadcast the adjusted df explicitly: it is still vocab-sized,
    # but the join+filter hides the parquet size estimate and the
    # per-segment joins in score would fall back to SMJ with a
    # corpus-side exchange (the P17 federation lesson, same shape)
    dfx = F.broadcast(
        dfx.join(F.broadcast(adj_df), "word", "left")
        .select(
            "word",
            (F.col("dfx") - F.coalesce("ts_n", F.lit(0))).alias("dfx"),
        )
        .where(F.col("dfx") > 0)
    )
    n -= n_removed
    if len(ts) <= 1000:
        # literal anti-filter: zero join nodes, stays in codegen
        kept = [seg.where(~F.col("doc").isin(ts)) for seg in segs]
    else:
        tsdf = F.broadcast(
            spark.createDataFrame([(d,) for d in ts], "doc string")
        )
        kept = [seg.join(tsdf, "doc", "left_anti") for seg in segs]
    return kept, dfx, n


def q_stream_tfidf_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live index maintenance END TO END: the corpus drains in four
    micro-batches and each one MERGEs into versioned index tables via
    ``make_index_merge`` — postings segment append + additive df merge
    + scalar-N add, manifest-committed per batch, with in-stream
    COMPACTION every 3rd batch (``compact_every`` — the serving scan
    count stays bounded on an unbounded stream). The final serving
    read must hash-match the batch ``tfidf_full`` oracle: micro-batch
    boundaries AND compaction points are invisible in the relation
    because the fold is the same associative state merge the batch
    chain proves."""

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split_dir = _corpus_split_dir(sf_dir, docs)
    src = stream_parquet(spark, split_dir, docs.schema, "*.parquet", 1)
    root = tempfile.mkdtemp(prefix="stream_tfidf_index_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    run_foreach_batch(
        src, make_index_merge(root, compact_every=3), "stream_tfidf_index_merge"
    )
    return read_merged_index(spark, root)


def _write_ordered_split(split_dir: str, slices: list[DataFrame]) -> None:
    """Write slice k as the single file ``b{k}.parquet`` in ``split_dir``,
    with strictly ascending mtimes so the file-stream source's
    oldest-first pickup makes micro-batch k == slice k on every run."""
    import glob
    import os
    import time

    t0 = time.time() - 400
    for k, part_df in enumerate(slices):
        staging = tempfile.mkdtemp(prefix="split_stage_")
        part_df.coalesce(1).write.mode("overwrite").parquet(staging)
        (part,) = glob.glob(os.path.join(staging, "part-*.parquet"))
        dst = os.path.join(split_dir, f"b{k}.parquet")
        shutil.copyfile(part, dst)
        os.utime(dst, (t0 + k * 60, t0 + k * 60))
        shutil.rmtree(staging, ignore_errors=True)


def _corpus_split_mod4_dir(sf_dir: str, docs: DataFrame) -> str:
    """A DETERMINISTIC 4-file corpus split for as-of oracles: file k
    holds exactly the docs with ``doc_id % 4 == k`` (range splits
    sample, so their membership isn't SQL-expressible), drained in
    file order (``_write_ordered_split``)."""
    return _cached_tmpdir(
        "stream_split_mod4_",
        sf_dir,
        lambda d: _write_ordered_split(
            d,
            [docs.where(F.pmod(F.col("doc_id"), F.lit(4)) == b) for b in range(4)],
        ),
    )


def _asof_index_root(spark: SparkSession, sf_dir: str) -> str:
    """Drain the deterministic mod-4 corpus split into a non-compacting
    index merge once per process — every committed version is then a
    complete immutable state for as-of reads and version diffs, so the
    as-of and version-diff queries share one drain."""

    def build(root: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        split_dir = _corpus_split_mod4_dir(sf_dir, docs)
        src = stream_parquet(spark, split_dir, docs.schema, "*.parquet", 1)
        run_foreach_batch(src, make_index_merge(root), "stream_tfidf_asof")

    return _cached_tmpdir("stream_tfidf_asof_", sf_dir, build)


def q_stream_tfidf_index_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL over the streamed index: the corpus drains in four
    deterministic micro-batches (batch k = docs with doc_id % 4 == k)
    into a NON-compacting merge — the full-retention regime, where every
    committed version stays a complete immutable index state — and the
    serving read pins ``version=2``: the index exactly as the third
    micro-batch left it, ignoring everything batch 3 merged afterwards.

    The oracle is the one-shot TF-IDF build over ONLY the docs of
    batches 0..2 (``doc_id % 4 <= 2``) — so the as-of read is proven to
    reconstruct a PAST state exactly, not approximately: parent-pointer
    manifest + append-only segments + per-version df/N are a complete
    snapshot history, the streaming twin of the batch store's versioned
    promotion (and the plain-parquet analogue of Delta/Iceberg
    ``VERSION AS OF``)."""
    return read_merged_index(spark, _asof_index_root(spark, sf_dir), version=2)


def q_stream_tfidf_index_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERSION DIFF over the streamed index — "what did the last batch
    change": per word, the document-frequency delta between version 3
    (newest) and version 2 of the same retained history the as-of query
    reads, plus each side's absolute df. A word only in the new version
    reports its full df as the delta; version-2 words it didn't touch
    drop out (delta 0 rows are suppressed — the diff is sparse, sized by
    the BATCH's vocabulary, not the corpus's).

    This is the index-maintenance review relation: at 100 TB cadences an
    operator diffs versions to sanity-check a merge before promoting
    readers to it, and the cost is two vocabulary-sized parquet reads +
    one word-keyed full-outer join — no corpus scan, no segment read.
    Oracle: the df delta is exactly the per-word DISTINCT-doc count of
    the batch-3 slice (``doc_id % 4 == 3``), a pure SQL aggregate."""
    root = _asof_index_root(spark, sf_dir)
    committed = manifest_versions(root, spark)
    if not {2, 3} <= set(committed):
        raise RuntimeError(
            f"diff needs versions 2 and 3 committed; have {sorted(committed)}"
        )
    new = spark.read.parquet(fs.join(root, "df_v3"))
    old = spark.read.parquet(fs.join(root, "df_v2"))
    return (
        new.withColumnRenamed("dfx", "df_new")
        .join(old.withColumnRenamed("dfx", "df_old"), "word", "full_outer")
        .select(
            "word",
            F.coalesce("df_new", F.lit(0)).alias("df_new"),
            F.coalesce("df_old", F.lit(0)).alias("df_old"),
            (
                F.coalesce("df_new", F.lit(0)) - F.coalesce("df_old", F.lit(0))
            ).alias("df_delta"),
        )
        .where(F.col("df_delta") != 0)
        .orderBy("word")
    )


def read_sharded_index(
    spark: SparkSession, roots: list, versions: list | None = None
) -> DataFrame:
    """Scatter-gather serving over SHARDED index roots — the 100 TB
    deployment shape of the streaming index: partition the corpus by a
    stable doc key into S shards, run one independent
    ``make_index_merge`` stream per shard (own root, own checkpoint,
    own compaction cadence — no cross-shard coordination, no shared
    commit path), and serve queries by federating the per-shard states.

    Because shard corpora are DISJOINT by construction, the global
    state is a pure sum of shard states: postings segments union (a
    doc's postings live in exactly one shard), document frequency is
    additive per word (``df_total = Σ df_shard`` — each shard counts
    its own docs), and the corpus size is ``N = Σ N_shard``. So the
    federated relation hash-equals the one-shot single-stream build —
    sharding, like micro-batching and compaction below it, is an
    execution strategy invisible in the relation.

    Cost shape at scale: the only cross-shard work is the per-word df
    sum — S vocabulary-sized tables through one hash aggregation —
    and a driver-side sum of S N counts; the corpus-sized postings are
    never reshuffled by federation itself (each segment meets the
    global df in the same per-segment join ``score`` always
    does). Each root resolves its own newest committed version
    independently — a reader never blocks on a lagging shard's
    in-flight batch, it reads that shard's last commit.

    ``versions`` (optional, aligned with ``roots``; ``None`` entries
    mean newest) pins a per-shard VERSION VECTOR — the ops move when
    one shard's merge goes bad: rewind THAT shard to its last good
    version while every other shard stays current. Shards are
    disjoint, so any vector of per-shard committed states is a
    consistent global state (there is no cross-shard transaction to
    tear); retention per root decides which versions are reachable,
    exactly as in ``read_merged_index``."""
    from functools import reduce

    from ..operators.tfidf import score

    if not roots:
        raise ValueError("read_sharded_index needs at least one root")
    if versions is not None and len(versions) != len(roots):
        raise ValueError(
            f"versions vector ({len(versions)}) must align with roots "
            f"({len(roots)})"
        )
    all_segs, shard_dfs, shard_ns = [], [], []
    for root, version in zip(roots, versions or [None] * len(roots)):
        *state, cur = index_state(spark, root, version)
        # each shard's takedown ledger adjusts ITS OWN state before the
        # cross-shard sums — shards are disjoint, so per-shard overlays
        # compose exactly (a doc's postings/df/N live in one shard)
        segs, dfx, n = _apply_tombstone_overlay(spark, root, *state, cur)
        all_segs += segs
        shard_dfs.append(dfx)
        shard_ns.append(n)
    dfx = (
        reduce(lambda a, b: a.unionByName(b), shard_dfs)
        .groupBy("word")
        .agg(F.sum("dfx").alias("dfx"))
    )
    # the summed df is vocab-sized and meets EVERY segment in
    # score's per-segment joins — broadcast it once instead of
    # letting each join re-plan the union+agg (measured at P17: the
    # unhinted plan re-executed the df sum per segment, pushing the
    # federated serve to ~4x the single-root serve; hinted, the agg
    # runs once and ships to all joins)
    dfx = F.broadcast(dfx)
    return score((all_segs, dfx, sum(shard_ns)))


def _sharded_index_roots(spark: SparkSession, sf_dir: str) -> list:
    """Drain the corpus as TWO independent shard streams (shard k =
    docs with ``doc_id % 2 == k``, each arriving in two deterministic
    micro-batches split by ``(doc_id // 2) % 2``) into two separate
    index roots — one compacting every 2nd batch, one full-retention —
    and return the roots. Deliberately heterogeneous cadences: the
    federation must not care how each shard manages its own history."""
    import os

    def build(base: str) -> None:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        half = F.pmod((F.col("doc_id") / 2).cast("long"), F.lit(2))
        for shard in range(2):
            split_dir = os.path.join(base, f"split{shard}")
            os.makedirs(split_dir)
            mine = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == shard)
            _write_ordered_split(
                split_dir, [mine.where(half == b) for b in range(2)]
            )
            src = stream_parquet(spark, split_dir, docs.schema, "*.parquet", 1)
            run_foreach_batch(
                src,
                make_index_merge(
                    os.path.join(base, f"shard{shard}"),
                    compact_every=2 if shard == 0 else None,
                ),
                f"stream_tfidf_shard{shard}",
            )

    base = _cached_tmpdir("stream_tfidf_shards_", sf_dir, build)
    return [os.path.join(base, "shard0"), os.path.join(base, "shard1")]


def _takedown_root(spark: SparkSession, sf_dir: str) -> str:
    """Copy the fully-drained as-of root and commit a takedown ledger
    over the copy: every 13th document (by doc_id). The copy is cheap
    (version-sized parquet) and keeps the shared as-of history
    byte-identical for its own queries: the takedown query must not
    write its ledger into the shared root, whose asof/diff oracles read
    it un-tombstoned."""

    def build(dest: str) -> None:
        src = _asof_index_root(spark, sf_dir)
        shutil.copytree(src, dest, dirs_exist_ok=True)
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        takedown = [
            str(r.doc_id)
            for r in docs.where(F.pmod(F.col("doc_id"), F.lit(13)) == 0)
            .select("doc_id")
            .collect()
        ]
        add_tombstones(spark, dest, takedown)

    return _cached_tmpdir("stream_tfidf_takedown_", sf_dir, build)


def q_stream_tfidf_index_takedown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TAKEDOWN end to end — the right-to-be-forgotten read: the fully
    drained index gets a tombstone ledger naming every 13th document,
    and the serve must hash-match the one-shot TF-IDF build over the
    corpus WITHOUT those documents: postings dropped, per-word df
    decremented, N decremented — deletion is total in the relation,
    not a display filter (df/idf shift for every surviving doc that
    shares a word with a deleted one). Implemented as a read-time
    overlay (``add_tombstones``), so it is safe on a live stream and
    composes with compaction; rides the as-of drain via a copied
    root."""
    return read_merged_index(spark, _takedown_root(spark, sf_dir))


def q_stream_tfidf_index_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SHARDED live index maintenance end to end: the corpus is
    partitioned into two disjoint shards (``doc_id % 2``), each drained
    by its OWN independent streaming merge into its OWN versioned root
    — different compaction cadences, zero cross-shard coordination —
    and served by one scatter-gather read (``read_sharded_index``:
    segments union, per-word df sum, N sum). Must hash-match the batch
    ``tfidf_full`` oracle: horizontal sharding is an execution
    strategy, invisible in the relation — the property that lets the
    100 TB deployment run one stream per corpus partition and still
    serve one global index."""
    return read_sharded_index(spark, _sharded_index_roots(spark, sf_dir))


def q_stream_tfidf_index_sharded_asof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """VERSION-VECTOR as-of over the sharded federation — the ops move
    when ONE shard's merge goes bad: rewind shard 0 to its version 0
    (its state before its second micro-batch) while shard 1 keeps
    serving its newest. Shards are disjoint, so any vector of
    per-shard committed versions is a consistent global state; the
    oracle is the one-shot build over exactly the docs those pinned
    states contain (all of shard 1, plus shard 0's first batch:
    ``doc_id % 2 = 1 OR (doc_id // 2) % 2 = 0``). Rides the sharded
    query's cached drains — the serve is the only new work."""
    return read_sharded_index(
        spark, _sharded_index_roots(spark, sf_dir), versions=[0, None]
    )
