"""Streaming queries on a finite input must equal their batch twins."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from tf_idf_mapreduce_spark.functions.hashing import norm_words
from tf_idf_mapreduce_spark.operators import events as ev
from tf_idf_mapreduce_spark.sources import index_root as ir
from tf_idf_mapreduce_spark.sources.io import load_table
from tf_idf_mapreduce_spark.streaming import queries as st


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_stream_wordcount_matches_batch(spark, sf_dir):
    got = st.q_stream_wordcount(spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(norm_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    assert _rows(got, ["word", "n"]) == _rows(want, ["word", "n"])


def test_stream_tumbling_matches_batch(spark, sf_dir):
    got = st.q_stream_tumbling_hourly(spark, sf_dir)
    want = ev.q_tumbling_hourly(spark, sf_dir)
    cols = ["hour_start_sec", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_tfidf_matches_batch_pipeline(spark, sf_dir):
    import __spark_entry__ as entrymod

    got = st.q_stream_tfidf(spark, sf_dir)
    want = entrymod.queries()["tfidf_full"](spark, sf_dir)
    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_anomaly_matches_batch(spark, sf_dir):
    got = st.q_stream_anomaly(spark, sf_dir)
    want = ev.q_anomaly_hours(spark, sf_dir)
    cols = ["event_type", "hour_start_sec", "n_events", "mean_n", "z_score"]
    rows = _rows(got, cols)
    assert rows == _rows(want, cols)
    assert rows, "fixture should contain at least one anomalous hour"


def test_stream_session_window_vs_batch_convention(spark, sf_dir):
    """session_window sessions must equal lag-based sessions computed with
    the strict-gap convention (gap >= 1800 starts a new session)."""
    got = st.q_stream_session_window(spark, sf_dir)
    # batch twin with >= convention: shift the gap by 1 second
    want = ev.sessionize(ev.load_events(spark, sf_dir), gap_sec=ev.SESSION_GAP_SEC - 1)
    cols = ["user_id", "session_start_sec", "session_end_sec", "n_events"]
    got_rows = _rows(got, cols)
    want_rows = _rows(want, cols)
    # gap_sec-1 turns "diff > 1799" into "diff >= 1800" only for integer
    # second resolution — which ts_sec has. Exact match expected.
    assert got_rows == want_rows


def test_stateful_sessions_are_batch_minus_open_tail(spark, sf_dir):
    got = st.q_stream_stateful_sessions(spark, sf_dir)
    sessions = ev.q_sessionize(spark, sf_dir)
    w = Window.partitionBy("user_id")
    want = (
        sessions.withColumn("max_seq", F.max("session_seq").over(w))
        .where(F.col("session_seq") < F.col("max_seq"))
    )
    cols = ["user_id", "session_start_sec", "session_end_sec", "n_events"]
    assert _rows(got, cols) == _rows(want, cols)
    # every emitted session is closed: gap to the next session's start > 30 min
    assert got.count() > 0


def test_incremental_wordcount_runs_multiple_microbatches(spark, sf_dir, tmp_path):
    # replicate the query's split-source manually so the StreamingQuery
    # handle is inspectable: 4 files + maxFilesPerTrigger=1 must yield 4
    # state-accumulating triggers, and the final answer must equal batch
    import tempfile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "split")
    docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(split)
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split)
    )
    counts = (
        src.select(F.explode(norm_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("inc_wc_probe")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_inc_wc_"))
        .start()
    )
    assert q.awaitTermination(300)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 4  # one per file — state carried across
    got = sorted(tuple(r) for r in spark.table("inc_wc_probe").collect())
    want = sorted(
        tuple(r)
        for r in docs.select(F.explode(norm_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert got == want


def test_incremental_wordcount_query_matches_plain_stream(spark, sf_dir):
    got = st.q_stream_incremental_wordcount(spark, sf_dir)
    want = st.q_stream_wordcount(spark, sf_dir)
    assert _rows(got, ["word", "n"]) == _rows(want, ["word", "n"])


def test_stream_dedup_matches_batch(spark, sf_dir):
    got = st.q_stream_dedup(spark, sf_dir)
    want = (
        ev.load_events(spark, sf_dir)
        .select("event_id", "user_id", "ts_sec")
        .dropDuplicates(["event_id"])
    )
    cols = ["event_id", "user_id", "ts_sec"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_dedup_state_spans_microbatches(spark, sf_dir, tmp_path):
    """dropDuplicates must hold keys in state ACROSS triggers: the same
    events file landed twice, drained one file per trigger, must come out
    as exactly one copy (a per-batch dedup would emit two)."""
    import tempfile

    events = ev.load_events(spark, sf_dir).select("event_id", "user_id", "ts_sec")
    landing = str(tmp_path / "landing")
    events.coalesce(1).write.mode("overwrite").parquet(landing)
    events.coalesce(1).write.mode("append").parquet(landing)
    src = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(landing)
    )
    q = (
        src.dropDuplicates(["event_id"])
        .writeStream.format("memory")
        .queryName("dedup_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_dedup_"))
        .start()
    )
    assert q.awaitTermination(300)
    data_batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2  # both copies were actually ingested
    cols = ["event_id", "user_id", "ts_sec"]
    got = _rows(spark.table("dedup_probe"), cols)
    assert got == _rows(events, cols)  # ...but only one copy came out


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """The watermark contract itself: an event arriving BEHIND the
    watermark must not re-open (or re-count into) its closed window.

    Trigger 1 carries 10:15 + 13:15 (watermark advances to 12:15, past
    the [10:00, 11:00) window), trigger 2 carries 14:15 (the filter's
    one-batch lag: the updated watermark applies from the NEXT batch),
    trigger 3 lands a LATE 10:30 event. The state operator must report
    it in ``numRowsDroppedByWatermark`` and the emitted [10:00, 11:00)
    count must stay 1 — a 2, or a duplicate appended (10, 1) row, would
    mean late data leaked into finalized state (the unbounded-state
    failure mode the watermark exists to prevent at 100 TB feed rates).
    """
    import glob
    import os
    import tempfile

    from datetime import datetime

    def f(h, m):
        return datetime(2024, 1, 1, h, m)

    landing = str(tmp_path / "landing")
    triggers = [
        [(f(10, 15),), (f(13, 15),)],
        [(f(14, 15),)],
        [(f(10, 30),), (f(15, 15),)],
    ]
    for rows in triggers:
        spark.createDataFrame(rows, "ts timestamp").coalesce(1).write.mode(
            "append"
        ).parquet(landing)
    # FileStreamSource orders files by modification time: force strictly
    # increasing mtimes so the triggers drain in write order
    parts = sorted(glob.glob(landing + "/*.parquet"), key=os.path.getmtime)
    now = int(os.path.getmtime(parts[-1]))
    for i, p in enumerate(parts):
        os.utime(p, (now - 60 + i, now - 60 + i))

    src = (
        spark.readStream.schema("ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(landing)
    )
    agg = (
        src.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"))
        .select(F.hour("w.start").alias("h"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_late_"))
        .start()
    )
    assert q.awaitTermination(300)
    dropped = sum(
        p["stateOperators"][0].get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        if p["stateOperators"]
    )
    assert dropped == 1, f"exactly the late 10:30 row must be dropped, got {dropped}"
    got = sorted(_rows(spark.table("late_probe"), ["h", "n"]))
    assert got.count((10, 1)) == 1 and (10, 2) not in got, got
    spark.catalog.dropTempView("late_probe")


def test_stream_static_join_matches_batch(spark, sf_dir):
    got = st.q_stream_static_join(spark, sf_dir)
    base = ev.load_events(spark, sf_dir)
    stats = base.groupBy("user_id").agg(
        F.count("*").alias("user_total_events")
    )
    want = base.select("event_id", "user_id", "ts_sec").join(stats, "user_id")
    cols = ["event_id", "user_id", "ts_sec", "user_total_events"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_upsert_snapshot_matches_batch(spark, sf_dir):
    """The 4-micro-batch foreachBatch upsert drain must land on exactly
    the batch CDC snapshot (keep-last is associative — batch boundaries
    can't change the answer)."""
    from tf_idf_mapreduce_spark.operators.temporal import q_latest_snapshot

    got = st.q_stream_upsert_snapshot(spark, sf_dir)
    want = q_latest_snapshot(spark, sf_dir)
    cols = ["user_id", "event_id", "ts_sec", "event_type", "value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_dedup_within_watermark_suppresses_then_evicts(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics end-to-end: a duplicate
    arriving within the delay is suppressed; once the watermark passes
    the key's event time + delay the state is EVICTED, so a later
    re-arrival emits again. That re-emission is the price of bounded
    state — and exactly the message-bus redelivery contract."""
    import glob
    import os
    import tempfile

    from datetime import datetime

    def f(h, m):
        return datetime(2024, 1, 1, h, m)

    landing = str(tmp_path / "landing")
    triggers = [
        [(1, f(10, 0)), (9, f(10, 0))],
        [(1, f(10, 30)), (2, f(13, 0))],  # dup within delay + wm advance
        # the advanced watermark applies (and evicts key 1) one batch
        # later — this intermediate trigger absorbs that lag
        [(3, f(13, 10))],
        [(1, f(13, 30))],  # key 1 evicted by now -> emits again
    ]
    for rows in triggers:
        spark.createDataFrame(rows, "event_id long, ts timestamp").coalesce(
            1
        ).write.mode("append").parquet(landing)
    parts = sorted(glob.glob(landing + "/*.parquet"), key=os.path.getmtime)
    now = int(os.path.getmtime(parts[-1]))
    for i, p in enumerate(parts):
        os.utime(p, (now - 60 + i, now - 60 + i))

    src = (
        spark.readStream.schema("event_id long, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(landing)
    )
    deduped = (
        src.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", F.hour("ts").alias("h"), F.minute("ts").alias("m"))
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm_probe")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ckpt_dwm_"))
        .start()
    )
    assert q.awaitTermination(300)
    got = sorted(_rows(spark.table("dedup_wm_probe"), ["event_id", "h", "m"]))
    assert got == [
        (1, 10, 0),
        (1, 13, 30),
        (2, 13, 0),
        (3, 13, 10),
        (9, 10, 0),
    ], got
    spark.catalog.dropTempView("dedup_wm_probe")


def test_stream_dedup_watermarked_matches_batch_on_unique_ids(spark, sf_dir):
    got = st.q_stream_dedup_watermarked(spark, sf_dir)
    want = st.q_stream_dedup(spark, sf_dir)
    cols = ["event_id", "user_id", "ts_sec"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_word_cms_matches_batch_sketch(spark, sf_dir):
    """The drained streaming CMS counters equal the batch sketch built
    from the word-count relation — the mergeable-state equivalence that
    makes the sketch the bounded-state streaming path."""
    from tf_idf_mapreduce_spark.operators.textstats import cms_counters

    got = st.q_stream_word_cms(spark, sf_dir)
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(norm_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    want = cms_counters(wc)
    cols = ["i", "bucket", "c"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_incremental_dedup_matches_batch(spark, sf_dir):
    """The live arrival screen equals the batch incremental dedup
    row-for-row (statuses, matches, counts, estimates)."""
    from tf_idf_mapreduce_spark.operators import dedup as dd

    got = st.q_stream_incremental_dedup(spark, sf_dir)
    want = dd.incremental_dedup(spark, sf_dir)
    cols = ["doc_id", "status", "match_doc_id", "n_matches", "best_est"]
    assert _rows(got, cols) == _rows(want, cols)


def test_stream_downsample_m4_equals_batch(spark, sf_dir):
    """The streaming M4 drain must equal the batch aggregate row-for-row
    — min_by/max_by state merges across micro-batches cannot change a
    selection."""
    from tf_idf_mapreduce_spark.operators.events import q_downsample_m4
    from tf_idf_mapreduce_spark.streaming.queries import (
        q_stream_downsample_m4,
    )

    batch = sorted(map(tuple, q_downsample_m4(spark, sf_dir).collect()))
    streamed = sorted(
        map(tuple, q_stream_downsample_m4(spark, sf_dir).collect())
    )
    assert streamed == batch


def test_stream_bot_score_equals_batch(spark, sf_dir):
    """Five longs of state per user must reproduce the batch cadence
    screen row-for-row across micro-batch boundaries."""
    from tf_idf_mapreduce_spark.operators.events import q_bot_score
    from tf_idf_mapreduce_spark.streaming.queries import q_stream_bot_score

    batch = sorted(map(tuple, q_bot_score(spark, sf_dir).collect()))
    streamed = sorted(map(tuple, q_stream_bot_score(spark, sf_dir).collect()))
    assert streamed == batch


def test_stream_family_concurrent_matches_sequential(spark, sf_dir):
    """The production backlog-drain shape: the whole stream_* family
    drained concurrently on one session (a plain thread pool) must land
    on the SAME relations as the sequential per-query drains (the
    bench's attribution shape), and no drain may leave the session's
    shuffle width changed."""
    import hashlib
    from concurrent.futures import ThreadPoolExecutor

    import __spark_entry__ as entrymod

    def dfhash(df):
        pdf = df.toPandas()
        pdf = pdf[sorted(pdf.columns)]
        pdf = (
            pdf.astype(str)
            .sort_values(list(pdf.columns))
            .reset_index(drop=True)
        )
        return hashlib.md5(pdf.to_csv(index=False).encode()).hexdigest()

    qs = {k: v for k, v in entrymod.queries().items() if k.startswith("stream_")}
    assert len(qs) >= 15  # the whole family, not a cherry-picked pair
    before = spark.conf.get("spark.sql.shuffle.partitions")
    seq = {k: dfhash(fn(spark, sf_dir)) for k, fn in qs.items()}
    with ThreadPoolExecutor(max_workers=len(qs)) as ex:
        futs = {k: ex.submit(fn, spark, sf_dir) for k, fn in qs.items()}
        conc = {k: dfhash(f.result()) for k, f in futs.items()}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert [k for k in qs if seq[k] != conc[k]] == []


def test_drain_sets_state_width_only_inside_the_query(spark, sf_dir):
    """A drain runs at STREAM_STATE_PARTITIONS without changing the
    caller's session for its duration: a listener on the session reads
    the session's own width at every progress event of a 4-batch drain,
    while each foreachBatch batch's session reads the state width."""
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from tf_idf_mapreduce_spark.streaming.runner import (
        STREAM_STATE_PARTITIONS,
        run_foreach_batch,
    )
    from tf_idf_mapreduce_spark.streaming.sources import stream_parquet

    width = spark.conf.get("spark.sql.shuffle.partitions")
    assert width != str(STREAM_STATE_PARTITIONS)
    seen = []

    class WidthListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if (p.name or "").startswith("stream_inc_wordcount") and (
                p.numInputRows > 0
            ):
                seen.append(spark.conf.get("spark.sql.shuffle.partitions"))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = WidthListener()
    spark.streams.addListener(listener)
    try:
        st.q_stream_incremental_wordcount(spark, sf_dir)
        # listener events arrive asynchronously
        deadline = time.time() + 60
        while len(seen) < 4 and time.time() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
    assert len(seen) >= 4, seen
    assert set(seen) == {width}, seen

    batch_widths = []
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    run_foreach_batch(
        stream_parquet(spark, sf_dir, docs.schema, "documents.parquet"),
        lambda batch, _id: batch_widths.append(
            batch.sparkSession.conf.get("spark.sql.shuffle.partitions")
        ),
        "width_probe",
    )
    assert batch_widths and set(batch_widths) == {str(STREAM_STATE_PARTITIONS)}
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def _poll_kill(q, min_batches: int, timeout_sec: float = 120.0):
    """Stop a running drain once >= min_batches data batches committed;
    returns how many data batches the killed run got through."""
    import time

    deadline = time.time() + timeout_sec
    while time.time() < deadline and q.isActive:
        done = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        if done >= min_batches:
            break
        time.sleep(0.01)
    q.stop()
    q.awaitTermination(60)
    return len([p for p in q.recentProgress if p["numInputRows"] > 0])


def test_stream_tfidf_state_survives_mid_drain_kill(spark, sf_dir, tmp_path):
    """Round-9 crash-resume: the stream_tfidf stateful aggregation is
    KILLED mid-feed (after >=2 of 8 micro-batches commit), restarted
    from the SAME checkpoint, and the drained state must still equal
    the batch twin exactly — a committed batch replayed after resume
    would double-count, a lost one would under-count, so equality IS
    the exactly-once claim, exercised."""
    from tf_idf_mapreduce_spark.functions.tokenize import tokenize
    from tf_idf_mapreduce_spark.sources.io import documents_as_corpus
    from tf_idf_mapreduce_spark.streaming.runner import (
        STREAM_STATE_PARTITIONS,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "split8")
    docs.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(split)
    ckpt = str(tmp_path / "ckpt_tfidf_crash")

    def start(name):
        def src():
            return (
                spark.readStream.schema(docs.schema)
                .option("maxFilesPerTrigger", "1")
                .option("pathGlobFilter", "*.parquet")
                .parquet(split)
            )

        words = tokenize(documents_as_corpus(src())).select(
            F.lit("w").alias("kind"), "word", "doc"
        )
        registry = src().select(
            F.lit("d").alias("kind"),
            F.lit("").alias("word"),
            F.col("doc_id").cast("string").alias("doc"),
        )
        agg = (
            words.unionByName(registry)
            .groupBy("kind", "word", "doc")
            .agg(F.count("*").alias("count"))
        )
        return (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    try:
        n_before = _poll_kill(start("tfidf_crash_p1"), min_batches=2)
        # the kill must land MID-FEED for the resume to mean anything
        # (both sources x 8 files = 16 data batches in a full drain)
        assert 1 <= n_before < 16
        q2 = start("tfidf_crash_p2")
        assert q2.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    got = _rows(spark.table("tfidf_crash_p2"), ["kind", "word", "doc", "count"])
    from tf_idf_mapreduce_spark.functions.tokenize import tokenize as tok

    batch_words = tok(documents_as_corpus(docs)).select(
        F.lit("w").alias("kind"), "word", "doc"
    )
    batch_reg = docs.select(
        F.lit("d").alias("kind"),
        F.lit("").alias("word"),
        F.col("doc_id").cast("string").alias("doc"),
    )
    want = _rows(
        batch_words.unionByName(batch_reg)
        .groupBy("kind", "word", "doc")
        .agg(F.count("*").alias("count")),
        ["kind", "word", "doc", "count"],
    )
    assert got == want and len(got) > 100
    for name in ("tfidf_crash_p1", "tfidf_crash_p2"):
        spark.catalog.dropTempView(name)


def test_stream_dedup_file_sink_exactly_once_across_kill(spark, sf_dir, tmp_path):
    """The append-mode twin of the crash-resume proof, through the
    PARQUET sink's commit log: watermarked dedup over an 8-file event
    feed, killed mid-drain, resumed from the same checkpoint into the
    same output directory. Reading the sink back (which honors the
    _spark_metadata exactly-once log) must yield every event exactly
    once — no batch lost, none emitted twice."""
    from tf_idf_mapreduce_spark.sources.io import normalize_events
    from tf_idf_mapreduce_spark.streaming.runner import (
        STREAM_STATE_PARTITIONS,
    )

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    split = str(tmp_path / "ev_split8")
    # split by EVENT TIME, not id, and stamp ascending mtimes in part
    # order: the file source drains files by MODIFICATION TIME, and the
    # parallel writer finishes partitions in arbitrary order — a
    # time-shuffled feed advances the watermark past earlier files and
    # they arrive entirely "late" (correctly dropped, but then the test
    # measures watermark semantics instead of crash-resume)
    events.repartitionByRange(8, "ts").write.mode("overwrite").parquet(split)
    import glob
    import os as _os
    import time as _time

    base_t = _time.time() - 1000
    for i, f in enumerate(sorted(glob.glob(f"{split}/part-*.parquet"))):
        _os.utime(f, (base_t + i, base_t + i))
    ckpt = str(tmp_path / "ckpt_dedup_crash")
    out = str(tmp_path / "dedup_out")

    def start():
        src = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(split)
        )
        deduped = (
            normalize_events(src)
            .select("event_id", "user_id", "ts", "ts_sec")
            .withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["event_id"])
            .drop("ts")
        )
        return (
            deduped.writeStream.format("parquet")
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .option("path", out)
            .start()
        )

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
    )
    try:
        n_before = _poll_kill(start(), min_batches=2)
        assert 1 <= n_before < 8
        q2 = start()
        assert q2.awaitTermination(300)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

    got = _rows(
        spark.read.parquet(out), ["event_id", "user_id", "ts_sec"]
    )
    want = _rows(
        ev.load_events(spark, sf_dir)
        .select("event_id", "user_id", "ts_sec")
        .dropDuplicates(["event_id"]),
        ["event_id", "user_id", "ts_sec"],
    )
    assert got == want and len(got) > 500


def test_stream_index_merge_exactly_once_across_kill(spark, sf_dir, tmp_path):
    """Round-10: the foreachBatch index MERGE is killed mid-drain and
    resumed from the same checkpoint into the same index root. The
    manifest's parent-pointer commit (written only after a version's
    data writes) makes a replayed batch idempotent — the final served
    index must equal the batch tfidf_full relation exactly: a replayed
    merge would double df/N, a lost one would drop a segment."""
    from tf_idf_mapreduce_spark.sources.index_root import manifest_versions
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "idx_split8")
    docs.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(split)
    root = str(tmp_path / "idx_root")
    ckpt = str(tmp_path / "ckpt_idx_crash")

    def start():
        src = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(split)
        )
        return (
            src.writeStream.foreachBatch(make_index_merge(root))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )

    n_before = _poll_kill(start(), min_batches=2)
    assert 1 <= n_before < 8  # the kill landed mid-feed
    q2 = start()
    assert q2.awaitTermination(300)

    committed = manifest_versions(root)
    assert len(committed) == 8  # every batch committed exactly one version
    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    import __spark_entry__ as entrymod

    got = _rows(read_merged_index(spark, root), cols)
    want = _rows(entrymod.queries()["tfidf_full"](spark, sf_dir), cols)
    assert got == want and len(got) > 1000


def test_stream_index_merge_compaction_bounds_segments(spark, sf_dir, tmp_path):
    """In-stream compaction: with compact_every=4 over an 8-batch
    drain (killed and resumed mid-feed), the serving read walks at most
    4 segments — the newest base subsumes its ancestors. Segments folded
    by the FIRST compaction (batch 3) are swept by the SECOND (batch 7)
    — one grace generation for in-flight readers — while batch 7's own
    folded chain (3..6) survives as the new grace set; manifest entries
    below the newest base are pruned. The served index still equals
    batch tfidf_full."""
    from tf_idf_mapreduce_spark.sources.index_root import (
        manifest_versions,
        segment_chain,
    )
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "idxc_split8")
    docs.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(split)
    root = str(tmp_path / "idxc_root")
    ckpt = str(tmp_path / "ckpt_idxc")

    def start():
        src = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(split)
        )
        return (
            src.writeStream.foreachBatch(make_index_merge(root, compact_every=4))
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )

    n_before = _poll_kill(start(), min_batches=2)
    assert 1 <= n_before < 8
    q2 = start()
    assert q2.awaitTermination(300)

    committed = manifest_versions(root)
    # batch 7's sweep pruned manifest entries below the first base (3)
    assert set(committed) == {3, 4, 5, 6, 7}
    chain = segment_chain(committed, max(committed))
    assert len(chain) <= 4  # bounded by compact_every
    assert committed[7].get("base")  # batch 7 compacted (7 % 4 == 3)
    # segments folded by the FIRST compaction (0..2) were swept at the
    # second; the second's own folded chain (3..6) is the grace set and
    # remains beside the new base 7 — total <= 2*compact_every
    import os as _os

    live_segs = {f for f in _os.listdir(root) if f.startswith("seg_v")}
    assert live_segs == {f"seg_v{v}" for v in (3, 4, 5, 6, 7)}
    assert set(chain) <= {3, 4, 5, 6, 7}
    # ... and df/N generations are reaped too: only the final version's
    # and its parent's remain, however many batches the stream ran
    live_df = {f for f in _os.listdir(root) if f.startswith("df_v")}
    assert live_df <= {"df_v6", "df_v7"}
    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    import __spark_entry__ as entrymod

    got = _rows(read_merged_index(spark, root), cols)
    want = _rows(entrymod.queries()["tfidf_full"](spark, sf_dir), cols)
    assert got == want and len(got) > 1000


def test_stream_index_merge_against_schemed_root(spark, sf_dir, tmp_path):
    """Round-10 verdict #1: the index merge's manifest/commit/reap must
    work against a SCHEMED root, not just driver-local paths. A full
    4-batch drain with in-stream compaction runs against a ``file://``
    URI, which forces every non-Spark I/O through the Hadoop
    ``FileSystem`` branch of ``sources.fs`` — the identical code path an
    ``hdfs://``/``s3a://`` root takes. The served index must still equal
    batch tfidf_full."""
    from tf_idf_mapreduce_spark.sources import fs
    from tf_idf_mapreduce_spark.sources.index_root import manifest_versions
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "idxs_split4")
    docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(split)
    root = f"file://{tmp_path}/idxs_root"  # schemed -> Hadoop FS branch
    ckpt = str(tmp_path / "ckpt_idxs")

    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split)
    )
    q = (
        src.writeStream.foreachBatch(make_index_merge(root, compact_every=3))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(300)

    committed = manifest_versions(root, spark)
    assert set(committed) == {0, 1, 2, 3}
    assert committed[2].get("base")  # 2 % 3 == 2 -> compacted
    # the manifest really lives under the schemed root
    assert fs.list_names(fs.join(root, "manifest"), spark)
    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    import __spark_entry__ as entrymod

    got = _rows(read_merged_index(spark, root), cols)
    want = _rows(entrymod.queries()["tfidf_full"](spark, sf_dir), cols)
    assert got == want and len(got) > 1000


def test_stream_index_merge_never_renames(spark, sf_dir, tmp_path, monkeypatch):
    """Mirror of the store's never-renames test for the stream (round-10
    verdict #1 done-criterion): os.rename/os.replace are patched to
    RAISE for any path under the index root while a full drain runs —
    the manifest protocol must need only create-exclusive + delete, the
    primitives object stores provide."""
    import os as _os

    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    root = str(tmp_path / "idxnr_root")
    real_rename, real_replace = _os.rename, _os.replace

    def guard(fn):
        def inner(src, dst, *a, **k):
            if str(src).startswith(root) or str(dst).startswith(root):
                raise AssertionError(
                    f"rename/replace under index root: {src} -> {dst}"
                )
            return fn(src, dst, *a, **k)

        return inner

    monkeypatch.setattr(_os, "rename", guard(real_rename))
    monkeypatch.setattr(_os, "replace", guard(real_replace))

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "idxnr_split4")
    docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(split)
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split)
    )
    ckpt = str(tmp_path / "ckpt_idxnr")
    q = (
        src.writeStream.foreachBatch(make_index_merge(root, compact_every=3))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(300)
    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    import __spark_entry__ as entrymod

    got = _rows(read_merged_index(spark, root), cols)
    want = _rows(entrymod.queries()["tfidf_full"](spark, sf_dir), cols)
    assert got == want


def test_stream_index_merge_sweep_heals_orphans(spark, sf_dir, tmp_path):
    """ADVICE r10: a crash that leaks version dirs (e.g. after a commit,
    before any reap — or a torn write whose manifest entry never
    landed) must be healed by a later compaction's sweep, not leak
    forever. Orphan seg/df dirs are PLANTED in the root mid-protocol;
    after the drain's final compaction they are gone, committed state
    is intact, and the served index is unchanged."""
    import os as _os

    from tf_idf_mapreduce_spark.sources.index_root import manifest_versions
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "idxo_split8")
    docs.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(split)
    root = str(tmp_path / "idxo_root")
    ckpt = str(tmp_path / "ckpt_idxo")

    inner = make_index_merge(root, compact_every=4)

    def merge_with_planted_orphans(batch_df, batch_id):
        if batch_id == 6:
            # uncommitted ids below the next compacting batch: exactly
            # what a crashed batch (data written, manifest entry never
            # committed) or a pre-grace-window leak leaves behind —
            # plus a non-version name the sweep must never touch
            for name in ("seg_v0", "df_v0", "seg_v3x"):
                _os.makedirs(_os.path.join(root, name), exist_ok=True)
        inner(batch_df, batch_id)

    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split)
    )
    q = (
        src.writeStream.foreachBatch(merge_with_planted_orphans)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(300)

    committed = manifest_versions(root)
    assert committed[7].get("base")
    # batch 7's sweep reaped the planted orphans (ids not committed and
    # below the batch id) along with the expired grace generation
    names = set(_os.listdir(root))
    assert "seg_v0" not in names and "df_v0" not in names
    # non-version names are never touched by the sweep
    assert "seg_v3x" in names
    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    import __spark_entry__ as entrymod

    got = _rows(read_merged_index(spark, root), cols)
    want = _rows(entrymod.queries()["tfidf_full"](spark, sf_dir), cols)
    assert got == want


def test_index_asof_reads_reconstruct_each_version(spark, sf_dir, tmp_path):
    """Time travel (round 11): on a non-compacting drain every committed
    version stays readable, and ``read_merged_index(version=k)`` must
    equal a batch TF-IDF build over exactly the docs of batches 0..k —
    for EVERY k, not just the one the registry query pins. An unknown
    version raises the explicit retention error."""
    import pytest as _pytest

    from tf_idf_mapreduce_spark.operators.tfidf import doc_freq, doc_totals, tfidf, word_count
    from tf_idf_mapreduce_spark.functions.tokenize import tokenize
    from tf_idf_mapreduce_spark.sources.io import documents_as_corpus
    from tf_idf_mapreduce_spark.streaming.queries import (
        _corpus_split_mod4_dir,
        make_index_merge,
        read_merged_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = _corpus_split_mod4_dir(sf_dir, docs)
    root = str(tmp_path / "asof_root")
    ckpt = str(tmp_path / "ckpt_asof")
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split)
    )
    q = (
        src.writeStream.foreachBatch(make_index_merge(root))
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    assert q.awaitTermination(300)

    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    for k in range(4):
        prefix = docs.where(F.pmod(F.col("doc_id"), F.lit(4)) <= k)
        n = prefix.select(F.countDistinct("doc_id").alias("total_docs"))
        scored = tfidf(
            doc_freq(doc_totals(word_count(tokenize(
                documents_as_corpus(prefix)
            )))).crossJoin(F.broadcast(n)),
            F.col("total_docs"),
        ).select(
            "word", "doc", "count", "doc_total", "df",
            F.round("tfidf", 6).alias("tfidf"),
        )
        got = _rows(read_merged_index(spark, root, version=k), cols)
        assert got == _rows(scored, cols), f"version {k} mismatch"
    # newest == version 3 on this drain
    assert _rows(read_merged_index(spark, root), cols) == got
    with _pytest.raises(RuntimeError, match="not committed"):
        read_merged_index(spark, root, version=99).collect()


def test_verify_index_root_classifies_versions(tmp_path, capsys):
    """The `models verify --index-root` audit over a hand-built root:
    live chain members, retained (as-of readable) history, partial
    versions (df/N reaped), and orphaned dirs with no manifest entry —
    classified read-only from the manifest + directory listing alone."""
    import json
    import os

    from tf_idf_mapreduce_spark.cli import main
    from tf_idf_mapreduce_spark.sources.index_root import verify_index_root

    root = str(tmp_path / "idx")
    os.makedirs(os.path.join(root, "manifest"))

    def commit(v, parent, base=False):
        with open(os.path.join(root, "manifest", f"v{v}"), "w") as f:
            json.dump({"parent": parent, "segment": True, "base": base}, f)

    def plant(v, kinds):
        for k in kinds:
            os.makedirs(os.path.join(root, f"{k}_v{v}"), exist_ok=True)

    # history: v0 (retained, fully present), v1 (partial: df/N reaped),
    # base v2 + v3 = the live chain; v3 carries the current df/N
    commit(0, None)
    plant(0, ("seg", "df", "n"))
    commit(1, 0)
    plant(1, ("seg",))
    commit(2, 1, base=True)
    plant(2, ("seg",))
    commit(3, 2)
    plant(3, ("seg", "df", "n"))
    # a crash orphan: data, no manifest entry
    plant(7, ("seg", "df", "n"))

    rep = verify_index_root(root)
    assert rep["newest"] == 3
    assert rep["versions"][0]["state"] == "retained"
    assert rep["versions"][1]["state"] == "partial"
    assert rep["versions"][2]["state"] == "live"  # chain member: seg is enough
    assert rep["versions"][2]["base"] is True
    assert rep["versions"][3]["state"] == "live"
    assert rep["orphans"] == [7]
    assert rep["counts"] == {"live": 2, "retained": 1, "partial": 1}

    # the newest version missing its df is NOT servable -> partial
    os.rmdir(os.path.join(root, "df_v3"))
    assert verify_index_root(root)["versions"][3]["state"] == "partial"
    os.makedirs(os.path.join(root, "df_v3"))

    rc = main(["models", "verify", "--index-root", root])
    assert rc == 0
    outp = capsys.readouterr().out
    assert "RETAINED\tv0" in outp
    assert "PARTIAL\tv1" in outp
    assert "ORPHANED\tv7" in outp
    assert "newest v3" in outp and "2 live" in outp


def test_index_merge_heals_torn_manifest_commit(spark, sf_dir, tmp_path):
    """A crash INSIDE the commit write (O_EXCL create + buffered write
    is not crash-atomic locally) leaves an empty or truncated manifest
    entry. The reader must treat it as NOT COMMITTED (torn JSON skipped,
    never raised), and the batch's replay must HEAL it by overwrite —
    the old failure mode was a version that could never commit, silently
    dropping that batch's documents from every future df/N."""
    import json
    import os

    from tf_idf_mapreduce_spark.sources.index_root import manifest_versions
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "torn_split4")
    docs.repartitionByRange(4, "doc_id").write.mode("overwrite").parquet(split)
    root = str(tmp_path / "torn_root")
    # plant torn commit leftovers: v0 truncated JSON, v1 empty — as a
    # crashed earlier attempt would leave them
    os.makedirs(os.path.join(root, "manifest"))
    with open(os.path.join(root, "manifest", "v0"), "w") as f:
        f.write('{"par')
    open(os.path.join(root, "manifest", "v1"), "w").close()
    # the torn entries read as absent, not as an error
    assert manifest_versions(root) == {}

    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split)
    )
    q = (
        src.writeStream.foreachBatch(make_index_merge(root))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_torn"))
        .start()
    )
    assert q.awaitTermination(300)

    committed = manifest_versions(root)
    assert set(committed) == {0, 1, 2, 3}  # torn entries healed in place
    for v in (0, 1):
        meta = json.load(open(os.path.join(root, "manifest", f"v{v}")))
        assert meta["segment"] is True
    cols = ["word", "doc", "count", "doc_total", "df", "tfidf"]
    import __spark_entry__ as entrymod

    got = _rows(read_merged_index(spark, root), cols)
    want = _rows(entrymod.queries()["tfidf_full"](spark, sf_dir), cols)
    assert got == want and len(got) > 1000


def test_live_readers_during_drain_full_retention(spark, sf_dir, tmp_path):
    """Readers polling read_merged_index WHILE the merge drains: on a
    non-compacting (full-retention) root every resolved version is
    immutable and never reaped, so a live reader must never hit a
    missing file and every successful read returns a consistent
    committed state (rows > 0, schema intact). Early polls before the
    first commit raise the explicit no-version error, never an opaque
    one."""
    import threading
    import time

    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    split = str(tmp_path / "live_split8")
    docs.repartitionByRange(8, "doc_id").write.mode("overwrite").parquet(split)
    root = str(tmp_path / "live_root")
    src = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(split)
    )
    q = (
        src.writeStream.foreachBatch(make_index_merge(root))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_live"))
        .start()
    )

    reads, errors, stop = [], [], threading.Event()

    def poll():
        while not stop.is_set():
            try:
                n = read_merged_index(spark, root).count()
                reads.append(n)
            except RuntimeError as exc:
                # only the explicit pre-first-commit error is acceptable
                if "no micro-batch committed" not in str(exc):
                    errors.append(exc)
            except Exception as exc:  # noqa: BLE001 — any other = fail
                errors.append(exc)
            time.sleep(0.05)

    from pyspark import InheritableThread

    t = InheritableThread(target=poll)
    t.start()
    try:
        assert q.awaitTermination(300)
    finally:
        stop.set()
        t.join()
    assert not errors, errors[:3]
    assert reads and all(n > 0 for n in reads)
    # reads grew (or stayed) as versions committed — never went backwards
    assert all(b >= a for a, b in zip(reads, reads[1:])), reads


def test_stream_index_n_rides_the_manifest(spark, sf_dir, monkeypatch):
    """A streamed root keeps N in its manifest entries, not in dirs of
    its own: after ``stream_tfidf_index_merge`` no ``n_v*`` dir exists,
    and each committed version's ``"n"`` is the number of distinct docs
    folded through that version."""
    import os as _os

    import __spark_entry__ as entrymod

    real_merge = st.make_index_merge
    roots, batch_docs = [], {}

    def spy(root, compact_every=None):
        roots.append(root)
        merge = real_merge(root, compact_every)

        def counted(batch_df, batch_id):
            batch_docs[batch_id] = batch_df.select("doc_id").distinct().count()
            merge(batch_df, batch_id)

        return counted

    monkeypatch.setattr(st, "make_index_merge", spy)
    assert entrymod.queries()["stream_tfidf_index_merge"](spark, sf_dir).count()
    (root,) = roots
    assert not [n for n in _os.listdir(root) if n.startswith("n_v")]
    committed = ir.manifest_versions(root)
    assert committed
    for v, meta in committed.items():
        assert meta["n"] == sum(c for b, c in batch_docs.items() if b <= v)


def test_gc_index_root_policies(tmp_path, capsys):
    """Offline index GC (`models reap --index-root`): on a COMPACTING
    root it applies the in-stream sweep (expired grace, orphans, stale
    df/N, manifest pruning); on a FULL-RETENTION root it reaps ONLY
    crash orphans — committed history stays as-of readable."""
    import json
    import os

    from tf_idf_mapreduce_spark.cli import main
    from tf_idf_mapreduce_spark.sources.index_root import gc_index_root

    def commit(root, v, parent, base=False):
        os.makedirs(os.path.join(root, "manifest"), exist_ok=True)
        with open(os.path.join(root, "manifest", f"v{v}"), "w") as f:
            json.dump({"parent": parent, "segment": True, "base": base}, f)

    def plant(root, v, kinds=("seg", "df")):
        for k in kinds:
            os.makedirs(os.path.join(root, f"{k}_v{v}"), exist_ok=True)

    # full retention: 3 committed versions + one orphan
    fr = str(tmp_path / "fr")
    for v in range(3):
        commit(fr, v, v - 1 if v else None)
        plant(fr, v)
    plant(fr, 9)  # orphan
    rep = gc_index_root(fr)
    assert rep["mode"] == "full-retention"
    assert rep["reaped"] == ["df_v9", "seg_v9"]
    assert {f"seg_v{v}" for v in range(3)} <= set(rep["after"])

    # compacting: base at 2; grace (0, 1) expired offline, orphan gone,
    # manifest pruned below the base
    co = str(tmp_path / "co")
    commit(co, 0, None)
    plant(co, 0, ("seg",))
    commit(co, 1, 0)
    plant(co, 1, ("seg",))
    commit(co, 2, 1, base=True)
    plant(co, 2)
    commit(co, 3, 2)
    plant(co, 3)
    plant(co, 7)  # orphan
    rep = gc_index_root(co)
    assert rep["mode"] == "compacting"
    assert set(rep["after"]) == {
        "seg_v2", "seg_v3", "df_v2", "df_v3",
    }
    assert sorted(os.listdir(os.path.join(co, "manifest"))) == ["v2", "v3"]

    rc = main(["models", "reap", "--index-root", co])
    assert rc == 0
    assert "0 reaped" in capsys.readouterr().out  # idempotent second run


def test_sharded_index_federation_equals_single_stream(
    spark, sf_dir, tmp_path
):
    """Round 12: two DISJOINT corpus shards, each drained by its own
    independent merge (shard 0 compacting every 2nd batch, shard 1
    full-retention), must federate to EXACTLY the single-root relation
    over the whole corpus — df/N are additive across disjoint shards,
    so scatter-gather serving is invisible in the relation. Also pins
    the degenerate cases: a 1-root federation equals read_merged_index,
    and an empty root list / uncommitted root raise."""
    import pytest as _pytest

    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
        read_sharded_index,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha w{i % 5} beta w{(i * 3) % 7} gamma")
            for i in range(24)
        ],
        "doc_id long, text string",
    ).localCheckpoint()

    # one whole-corpus root (2 batches) = the reference relation
    whole = str(tmp_path / "whole")
    merge_whole = make_index_merge(whole)
    for b in range(2):
        merge_whole(
            docs.where(F.pmod((F.col("doc_id") / 2).cast("long"), F.lit(2)) == b),
            b,
        )
    expected = sorted(
        tuple(r) for r in read_merged_index(spark, whole).collect()
    )

    # two shard roots, doc_id % 2, heterogeneous cadences, 2 batches each
    roots = []
    for shard in range(2):
        root = str(tmp_path / f"shard{shard}")
        roots.append(root)
        merge = make_index_merge(
            root, compact_every=2 if shard == 0 else None
        )
        part = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == shard)
        for b in range(2):
            merge(
                part.where(
                    F.pmod((F.col("doc_id") / 2).cast("long"), F.lit(2)) == b
                ),
                b,
            )
    got = sorted(
        tuple(r) for r in read_sharded_index(spark, roots).collect()
    )
    assert got == expected

    # 1-root federation degenerates to the single-root read
    one = sorted(
        tuple(r) for r in read_sharded_index(spark, [whole]).collect()
    )
    assert one == expected

    # PLAN PIN for the federated serve (plan_audit skips stream_*
    # entries, so the evidence lives here): the vocab-sized summed df
    # broadcasts to every per-segment join — the corpus-sized postings
    # are never hash-exchanged by federation — and no cartesians
    fed = read_sharded_index(spark, roots)
    fed.collect()
    plan = fed._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    n_segs = plan.count("BroadcastHashJoin")
    # shard0 compacted to 1 segment + its grace segment may or may not
    # be in the chain; shard1 keeps 2 — at least one broadcast join per
    # LIVE segment, and every segment join is a broadcast one
    assert n_segs >= 3
    assert "SortMergeJoin" not in plan

    with _pytest.raises(ValueError, match="at least one root"):
        read_sharded_index(spark, [])
    with _pytest.raises(RuntimeError, match="no micro-batch committed"):
        read_sharded_index(spark, [whole, str(tmp_path / "nothing")])

    # VERSION VECTOR: rewind shard 0 to its version 0 (first batch
    # only), shard 1 stays newest — equals the one-shot build over
    # exactly those docs (disjoint shards: any per-shard vector of
    # committed states is a consistent global state)
    asof_docs = docs.where(
        (F.pmod(F.col("doc_id"), F.lit(2)) == 1)
        | (F.pmod((F.col("doc_id") / 2).cast("long"), F.lit(2)) == 0)
    )
    asof_whole = str(tmp_path / "asof_whole")
    merge_asof = make_index_merge(asof_whole)
    merge_asof(asof_docs, 0)
    vec_expected = sorted(
        tuple(r) for r in read_merged_index(spark, asof_whole).collect()
    )
    vec_got = sorted(
        tuple(r)
        for r in read_sharded_index(
            spark, roots, versions=[0, None]
        ).collect()
    )
    assert vec_got == vec_expected
    with _pytest.raises(ValueError, match="must align"):
        read_sharded_index(spark, roots, versions=[0])
    with _pytest.raises(RuntimeError, match="not committed"):
        read_sharded_index(spark, roots, versions=[99, None])


def test_index_takedown_overlay(spark, tmp_path):
    """Round 12 takedown ledger: tombstoned docs vanish TOTALLY from
    the serve (postings dropped, df decremented, N decremented — idf
    shifts for every surviving doc), the overlay composes with
    compaction (folded segments may still carry the rows; the read
    keeps filtering), unknown keys are no-ops, torn ledger entries are
    ignored, and honor_tombstones=False is the audit escape hatch."""
    import json
    import os

    from tf_idf_mapreduce_spark.sources.index_root import add_tombstones
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    docs = spark.createDataFrame(
        [
            (i, f"alpha w{i % 5} beta w{(i * 3) % 7} gamma")
            for i in range(24)
        ],
        "doc_id long, text string",
    ).localCheckpoint()

    def drain(root, compact_every=None):
        merge = make_index_merge(root, compact_every=compact_every)
        for b in range(3):
            merge(
                docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == b), b
            )

    # reference: rebuild over the corpus without docs 5 and 17
    ref_root = str(tmp_path / "ref")
    kept = docs.where(~F.col("doc_id").isin(5, 17))
    merge_ref = make_index_merge(ref_root)
    merge_ref(kept, 0)
    expected = sorted(
        tuple(r) for r in read_merged_index(spark, ref_root).collect()
    )

    for ce in (None, 2):  # full retention AND compacting
        root = str(tmp_path / f"take_ce{ce}")
        drain(root, compact_every=ce)
        before = read_merged_index(spark, root).count()
        add_tombstones(spark, root, ["5", "17"])
        add_tombstones(spark, root, ["no-such-doc"])  # no-op entry
        # a torn ledger entry (crash inside the commit write)
        open(os.path.join(root, "tombstones", "t-torn"), "w").close()
        got = sorted(
            tuple(r) for r in read_merged_index(spark, root).collect()
        )
        assert got == expected, f"compact_every={ce}"
        # escape hatch: the raw (pre-takedown) relation is still there
        assert read_merged_index(
            spark, root, honor_tombstones=False
        ).count() == before

    # the ledger entry itself is committed JSON
    root = str(tmp_path / "take_ceNone")
    (entry,) = [
        n
        for n in os.listdir(os.path.join(root, "tombstones"))
        if n.startswith("t-") and n != "t-torn"
    ][:1]
    with open(os.path.join(root, "tombstones", entry)) as f:
        assert "docs" in json.load(f)

    # LIVE-STREAM interleaving: a tombstone committed BETWEEN
    # micro-batches (the verb's whole design point — no version id is
    # minted, so it cannot collide with the stream's checkpointed
    # batch ids) applies to already-arrived docs AND the final state
    live_root = str(tmp_path / "live_interleave")
    merge_live = make_index_merge(live_root)
    merge_live(docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 0), 0)
    merge_live(docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 1), 1)
    # doc 4 already arrived (batch 1, resolved at write time); doc 5
    # arrives only in batch 2 (unresolved -> content-scan fallback)
    add_tombstones(spark, live_root, ["4", "5"])  # mid-drain
    merge_live(docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == 2), 2)
    ref45 = str(tmp_path / "ref45")
    merge_ref45 = make_index_merge(ref45)
    merge_ref45(docs.where(~F.col("doc_id").isin(4, 5)), 0)
    expected45 = sorted(
        tuple(r) for r in read_merged_index(spark, ref45).collect()
    )
    live_got = sorted(
        tuple(r) for r in read_merged_index(spark, live_root).collect()
    )
    assert live_got == expected45

    # PRE-EMPTIVE blocklist: a tombstone written BEFORE the doc ever
    # arrives (empty root, nothing to resolve at write time) must
    # still delete it once it lands — the unresolved content-scan
    # fallback path
    pre_root = str(tmp_path / "preemptive")
    import os as _os

    _os.makedirs(pre_root)
    add_tombstones(spark, pre_root, ["5", "17"])
    drain(pre_root)
    pre_got = sorted(
        tuple(r) for r in read_merged_index(spark, pre_root).collect()
    )
    assert pre_got == expected

    # takedowns are RETROACTIVE: an as-of (history) read of the
    # full-retention root honors the ledger too — a deleted doc is
    # gone from every servable version, not just the newest (and a
    # ledger doc absent from the pinned prefix is a no-op there)
    add_tombstones(spark, str(tmp_path / "take_ceNone"), ["4"])
    prefix_ref = str(tmp_path / "prefix_ref")
    merge_pref = make_index_merge(prefix_ref)
    merge_pref(
        docs.where(
            (F.pmod(F.col("doc_id"), F.lit(3)) <= 1)
            & ~F.col("doc_id").isin(4, 5, 17)
        ),
        0,
    )
    asof_expected = sorted(
        tuple(r) for r in read_merged_index(spark, prefix_ref).collect()
    )
    asof_got = sorted(
        tuple(r)
        for r in read_merged_index(
            spark, str(tmp_path / "take_ceNone"), version=1
        ).collect()
    )
    assert asof_got == asof_expected

    # the audit SEES the ledger (doc count) and lists the torn entry
    # and crashed staging files as reap candidates; gc deletes them
    # while committed entries survive
    from tf_idf_mapreduce_spark.sources.index_root import (
        gc_index_root,
        verify_index_root,
    )

    open(
        os.path.join(root, "tombstones", "t-crashed.tmp-dead"), "w"
    ).write('{"docs": ["99"]}')
    rep = verify_index_root(root)
    assert rep["tombstoned_docs"] == 4  # 4, 5, 17, no-such-doc
    assert "tombstones/t-torn" in rep["reap_candidates"]
    assert "tombstones/t-crashed.tmp-dead" in rep["reap_candidates"]
    # the uncommitted staging's docs are NOT applied
    got_pre = read_merged_index(spark, root).count()
    gc_index_root(root)
    assert not os.path.exists(os.path.join(root, "tombstones", "t-torn"))
    assert os.path.exists(os.path.join(root, "tombstones", entry))
    assert read_merged_index(spark, root).count() == got_pre
    assert verify_index_root(root)["reap_candidates"] == []

    # ...and the overlay composes with the SHARDED federation: doc 5
    # lives in shard 1 (5 % 2), doc 17 in shard 1 too — tombstone each
    # shard's own docs, federated read equals the same reference
    from tf_idf_mapreduce_spark.streaming.queries import (
        read_sharded_index,
    )

    roots = []
    for shard in range(2):
        sroot = str(tmp_path / f"take_shard{shard}")
        roots.append(sroot)
        merge = make_index_merge(sroot)
        part = docs.where(F.pmod(F.col("doc_id"), F.lit(2)) == shard)
        for b in range(2):
            merge(
                part.where(
                    F.pmod((F.col("doc_id") / 2).cast("long"), F.lit(2)) == b
                ),
                b,
            )
    add_tombstones(spark, roots[1], ["5", "17"])  # both odd -> shard 1
    fed = sorted(
        tuple(r) for r in read_sharded_index(spark, roots).collect()
    )
    assert fed == expected
