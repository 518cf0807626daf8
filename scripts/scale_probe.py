#!/usr/bin/env python3
"""Measured evidence for the 100 TB design claims (round-4 verdict #1,
extended every round since).

Fifteen probes, each 10-2000x the sf0.1 fixture's row counts, all
deterministic (hash-derived randomness — no RNG state, no seeds to
coordinate). Results go to stdout and SCALE_PROBE.md.

P1  doc_freq agg+join vs explicit salt under Zipf word skew (AQE on/off)
P2  MinHash LSH bucket packing under 20x duplication + hot tokens
P3  two-phase prefix sum vs the single-partition global window
P4  learned-filter GD iteration — model state only crosses to the driver
P5  count-min sketch vs exact word count
P6  incremental index fold vs full rebuild
P7  BPE trainer vocab-pass rounds + speculative batching
P8  M4 downsample: mergeable aggregate vs 4-way window sort
P9  composed-manifest screen reuse: lazy vs persist barriers
P10 skyline local-frontier shrink under both axis regimes
P11 the flagship TF-IDF chain at 1-10M docs + range-sort sampling
P12 durable-store amortization (index fold + screen table) at 0.3-3M docs
P13 persisted fold's word-keyed joins under Zipf s=2 (bucketed SMJ vs broadcast)
P14 promoted N-day chain vs in-lineage chain (+ compaction) at 0.3-1M docs
P15 streaming index merge: per-batch cost + compaction amortization on a long drain

Scratch parquet lives under /tmp and is removed at exit. Run the full
set via scripts/scale_probe_all.sh (one fresh JVM per section).

Usage: python scripts/scale_probe.py [--quick] [--only=pN]
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tf_idf_mapreduce_spark.operators.prefix import two_phase_running_sum
from tf_idf_mapreduce_spark.operators.tfidf import doc_freq, doc_freq_salted
from tf_idf_mapreduce_spark.session import get_spark
from tf_idf_mapreduce_spark.sources.io import forget

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

LINES: list[str] = []


def emit(line: str = "") -> None:
    print(line, flush=True)
    LINES.append(line)


def _noop(df: DataFrame) -> float:
    # force a full GC BEFORE the clock starts: 32 worker threads of
    # codegen'd row processing leave enough garbage that a measurement
    # can otherwise absorb a 10-20s G1 pause caused by PREVIOUS work
    # (observed on P11: the same plan timed 0.7s and 19s in one JVM)
    df.sparkSession.sparkContext._jvm.System.gc()
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def _timed(df: DataFrame, reps: int = 2) -> float:
    """Best of ``reps`` steady-state runs (first run already warm —
    callers warm the input via localCheckpoint)."""
    return min(_noop(df) for _ in range(reps))


# --------------------------------------------------------------------------
# P1: doc_freq join-back skew
# --------------------------------------------------------------------------

def synth_postings(
    spark: SparkSession, n_events: int, n_docs: int, vocab: int, s: int = 1
) -> DataFrame:
    """Synthetic (word, doc, count) relation with Zipf word frequencies.
    s=1: rank = floor(V^u) (density ∝ 1/rank). s=2: rank = floor(1/(1-u))
    capped at V (density ∝ 1/rank² — the rank-1 word carries ~half of all
    events, the stopword regime). Deterministic — the randomness is
    xxhash64 of the row id."""
    ids = spark.range(n_events)
    u = (
        F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
        / 1_000_000.0
    )
    if s == 2:
        rank = F.least(
            F.lit(vocab).cast("long"),
            F.floor(1.0 / (1.0 - u + 1e-9)).cast("long"),
        )
    else:
        rank = F.floor(F.pow(F.lit(float(vocab)), u)).cast("long")
    doc = F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("d"))), F.lit(n_docs))
    ev = ids.select(
        F.concat(F.lit("w"), rank.cast("string")).alias("word"),
        doc.alias("doc"),
    )
    return ev.groupBy("word", "doc").agg(F.count("*").alias("count"))


def probe_doc_freq(spark: SparkSession, quick: bool) -> None:
    emit("## P1 — doc_freq: agg+join-back vs explicit salt under Zipf skew")
    emit()
    emit("Synthetic postings, Zipf(s≈1) word ranks (deterministic xxhash64).")
    emit("`hot share` = fraction of postings carried by the single hottest")
    emit("word — the rows that all land in ONE join task when unsalted.")
    emit()
    emit("| events | docs | vocab | zipf s | wtc rows | hot share | unsalted AQE | salted AQE | unsalted noAQE | salted noAQE |")
    emit("|---|---|---|---|---|---|---|---|---|---|")
    configs = [
        # (events, docs, vocab, s) — vocab and s control skew: smaller
        # vocab / steeper s = hotter head (s=1: rank-1 share ≈ 1/ln V;
        # s=2: rank-1 share ≈ 50% of events — stopword regime)
        (2_000_000, 100_000, 100_000, 1),
        (20_000_000, 1_000_000, 100_000, 1),
        (20_000_000, 1_000_000, 1_000, 1),
        (20_000_000, 4_000_000, 100_000, 2),
    ]
    if quick:
        configs = configs[:1]
    for n_events, n_docs, vocab, s in configs:
        wtc = synth_postings(spark, n_events, n_docs, vocab, s).localCheckpoint()
        n_rows = wtc.count()
        top = (
            wtc.groupBy("word")
            .agg(F.count("*").alias("n"))
            .orderBy(F.desc("n"))
            .limit(1)
            .collect()[0]
        )
        hot_share = top["n"] / n_rows
        times = {}
        for aqe in ("true", "false"):
            spark.conf.set("spark.sql.adaptive.enabled", aqe)
            # salted path must not be broadcast away — it exists for the
            # shuffle-join regime; the counts side here is small only
            # because the fixture is, so pin a sort-merge regime by
            # disabling broadcast for the measurement
            saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                times[("plain", aqe)] = _timed(doc_freq(wtc))
                times[("salt", aqe)] = _timed(doc_freq_salted(wtc))
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
                spark.conf.set("spark.sql.adaptive.enabled", "true")
        emit(
            f"| {n_events:,} | {n_docs:,} | {vocab:,} | {s} | {n_rows:,} "
            f"| {hot_share:.3%} "
            f"| {times[('plain', 'true')]:.2f}s | {times[('salt', 'true')]:.2f}s "
            f"| {times[('plain', 'false')]:.2f}s | {times[('salt', 'false')]:.2f}s |"
        )
    emit()
    emit(
        "Measured crossover: at <= 5% hot-key share (Zipf s=1 — document "
        "frequency caps the head, so even a stopword-heavy EVENT stream "
        "flattens to a mild (word, doc) skew) the explicit salt LOSES — "
        "its extra partial-aggregate exchange costs more than the "
        "imbalance, and plain agg+join with AQE is the right default. At "
        "~30% hot share (Zipf s=2: one key carries a third of the "
        "relation) the salt wins ~1.6x with AQE on and the gap widens "
        "with executor count — one join task owns a third of the corpus "
        "however many executors exist, while the salted plan spreads it "
        "over n_salts tasks. Rule shipped with the engine: default to "
        "doc_freq (AQE), switch to doc_freq_salted when the hottest key "
        "exceeds ~1/sqrt(parallelism) of the relation."
    )
    emit()


# --------------------------------------------------------------------------
# P2: LSH bucket packing under duplication
# --------------------------------------------------------------------------

def build_skewed_corpus(spark: SparkSession, replicas: int) -> str:
    """sf0.1 documents replicated ``replicas``x: replica 0 is the
    original; others append a replica-salted token (near-duplicates, the
    dedup target) and 30% of them (by hash) also append a burst of HOT
    tokens shared across the whole corpus — the Zipf-head injection that
    stresses shingle/minhash skew."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    hot = " ".join(["zipfhot"] * 20)
    reps = d.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep")
    )
    is_orig = F.col("rep") == 0
    hot_hit = F.pmod(F.abs(F.xxhash64("doc_id", "rep")), F.lit(10)) < 3
    out = reps.select(
        (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.when(is_orig, F.lit("")).otherwise(
                F.concat(F.lit(" replica"), F.col("rep").cast("string"))
            ),
            F.when(hot_hit & ~is_orig, F.lit(" " + hot)).otherwise(F.lit("")),
        ).alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    scratch = tempfile.mkdtemp(prefix="scale_probe_corpus_")
    atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    out.write.mode("overwrite").parquet(f"{scratch}/documents.parquet")
    return scratch


def probe_lsh_buckets(spark: SparkSession, quick: bool) -> None:
    # the ENGINE's banding relation, not a probe-local copy — the probe
    # measures exactly what the candidate join and lsh_bucket_stats use
    from tf_idf_mapreduce_spark.operators.dedup import minhash_bands

    replicas = 5 if quick else 20
    emit(f"## P2 — MinHash LSH bucket packing at {replicas}x duplication")
    emit()
    scratch = build_skewed_corpus(spark, replicas)
    docs = spark.read.parquet(f"{scratch}/documents.parquet")
    n_docs = docs.count()

    bands = minhash_bands(docs).select("doc_id", "band", "key")
    t0 = time.time()
    sizes = (
        bands.groupBy("band", "key")
        .agg(F.count("*").alias("sz"))
        .localCheckpoint()
    )
    stats = sizes.agg(
        F.count("*").alias("n_buckets"),
        F.expr("percentile(sz, 0.5)").alias("p50"),
        F.expr("percentile(sz, 0.99)").alias("p99"),
        F.max("sz").alias("mx"),
        F.sum(F.col("sz") * (F.col("sz") - 1) / 2).alias("cand_pairs"),
    ).collect()[0]
    wall = time.time() - t0
    all_pairs = n_docs * (n_docs - 1) / 2
    emit(f"- corpus: {n_docs:,} docs ({replicas}x sf0.1, 30% hot-token injected)")
    emit(
        f"- buckets: {stats['n_buckets']:,}; size p50={stats['p50']:.0f} "
        f"p99={stats['p99']:.0f} max={stats['mx']:,}"
    )
    emit(
        f"- candidate pairs {int(stats['cand_pairs']):,} vs all-pairs "
        f"{int(all_pairs):,} — ratio {stats['cand_pairs'] / all_pairs:.2e}"
    )
    emit(f"- signature+banding+bucket-count wall: {wall:.1f}s")
    biggest = sizes.orderBy(F.desc("sz")).limit(3).collect()
    emit(
        "- top buckets: "
        + ", ".join(f"{r['sz']:,} docs (band {r['band']})" for r in biggest)
    )
    emit()
    emit(
        "Reading: duplication inflates bucket sizes linearly (each replica "
        "group shares its signature), so candidate pairs grow with "
        "sum(group²) — still orders of magnitude under all-pairs. The max "
        "bucket bounds one join task's fanout; at 100 TB cap verify-stage "
        "fanout by splitting buckets past a size limit (duplicate groups "
        "that large are resolved by exact-hash dedup first)."
    )
    emit()


# --------------------------------------------------------------------------
# P3: prefix sum — two-phase vs single-partition window
# --------------------------------------------------------------------------

def probe_prefix_sum(spark: SparkSession, quick: bool) -> None:
    emit("## P3 — prefix sum: two-phase vs single-partition global window")
    emit()
    emit("| rows | two-phase | global window | speedup |")
    emit("|---|---|---|---|")
    sizes = [2_000_000, 20_000_000, 50_000_000]
    if quick:
        sizes = sizes[:1]
    for n in sizes:
        tok = (
            spark.range(n)
            .select(
                F.col("id").alias("doc_id"),
                (F.pmod(F.abs(F.xxhash64("id")), F.lit(500)) + 1).alias("n_tokens"),
            )
            .withColumn("bucket", F.floor(F.col("doc_id") / 65536).cast("long"))
            .localCheckpoint()
        )
        two = two_phase_running_sum(
            tok,
            bucket="bucket",
            order_by=["doc_id"],
            value=F.col("n_tokens"),
            out="cum",
        ).select("doc_id", "cum")
        w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
        naive = tok.select("doc_id", F.sum("n_tokens").over(w).alias("cum"))
        t_two = _timed(two)
        t_naive = _timed(naive)
        emit(f"| {n:,} | {t_two:.2f}s | {t_naive:.2f}s | {t_naive / t_two:.1f}x |")
    emit()
    emit(
        "Reading: the two-phase form scales with parallelism (its only "
        "serial piece is the |buckets|-row offsets window) while the "
        "global window is one task sorting the world — the gap is ~6-7x "
        "at 32 cores already and is unbounded in cluster size: at 100 TB "
        "the single-partition form simply does not finish."
    )
    emit()


def probe_grid_gd(spark: SparkSession, quick: bool) -> None:
    """P4: the learned-filter claim — one GD iteration is ONE map-side
    partial aggregate over the feature scan; shuffle traffic is
    O(partitions x 5 numbers) and the driver sees 4 doubles per
    iteration, so training cost is iters x (one corpus aggregate)."""
    emit("## P4 — learned-filter GD: one iteration = one partial aggregate")
    emit()
    emit("| rows | partitions | s/iteration | Mrows/s | est. 25-iter train |")
    emit("|---|---|---|---|---|")
    w = [0.1, 0.2, 0.3, 0.4]
    cases = [(2_000_000, 32), (20_000_000, 32), (50_000_000, 32), (20_000_000, 8)]
    if quick:
        cases = cases[:1]
    for n, parts in cases:

        def u(tag: str):
            return (
                F.pmod(F.abs(F.xxhash64("id", F.lit(tag))), F.lit(1_000_000))
                / 1_000_000.0
            )

        feats = (
            spark.range(n)
            .repartition(parts)
            .select(
                u("a").alias("x1"),
                u("b").alias("x2"),
                u("c").alias("x3"),
                (u("a") * 0.6 + u("b") * 0.4 > 0.5).cast("long").alias("y"),
            )
            .localCheckpoint()
        )
        z = (
            F.lit(w[0])
            + F.lit(w[1]) * F.col("x1")
            + F.lit(w[2]) * F.col("x2")
            + F.lit(w[3]) * F.col("x3")
        )
        p = F.floor(
            (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) * F.lit(1_000_000)
            + F.lit(0.5)
        ) / F.lit(1_000_000)
        diff = p - F.col("y")
        agg = feats.select(
            F.sum(F.floor(diff * F.lit(1_000_000) + F.lit(0.5))).alias("g0"),
            F.sum(
                F.floor(diff * F.col("x1") * F.lit(1_000_000) + F.lit(0.5))
            ).alias("g1"),
            F.sum(
                F.floor(diff * F.col("x2") * F.lit(1_000_000) + F.lit(0.5))
            ).alias("g2"),
            F.sum(
                F.floor(diff * F.col("x3") * F.lit(1_000_000) + F.lit(0.5))
            ).alias("g3"),
            F.count("*").alias("n"),
        )

        def once() -> float:
            t0 = time.time()
            agg.head()
            return time.time() - t0

        once()  # warm
        t = min(once() for _ in range(2))
        emit(
            f"| {n:,} | {parts} | {t:.2f}s | {n / t / 1e6:.1f} | "
            f"{25 * t:.1f}s |"
        )
    emit()
    emit(
        "Reading: the iteration is scan-bound and embarrassingly "
        "map-side — per-partition partials are 5 numbers, the exchange "
        "is partitions x 5, and the driver receives one 4-double weight "
        "update per iteration regardless of corpus size. Per-iteration "
        "wall is nearly FLAT in corpus size (the fixed job-launch floor "
        "dominates until the scan does), so effective throughput grows "
        "with rows; the "
        "8-partition run shows the marginal cost is parallelism-bound, "
        "not shuffle-bound — at 1000 executors the same plan spreads the "
        "scan without any new serial piece, so training at 100 TB is "
        "iters x (one corpus scan at aggregate throughput), with the "
        "grid-integer contributions keeping the result bit-identical "
        "whatever the partitioning."
    )
    emit()




# --------------------------------------------------------------------------
# P5: count-min sketch vs exact word count
# --------------------------------------------------------------------------

def probe_cms(spark: SparkSession, quick: bool) -> None:
    """P5: the bounded-state claim behind text_word_cms/stream_word_cms —
    the sketch aggregate's state is d*w = 4096 rows NO MATTER the
    vocabulary, while the exact word count's state is vocabulary-sized.
    This measures the throughput price of the 4x cell explode and shows
    the exact path's cost growing with distinct-key count while the
    sketch's stays flat."""
    from tf_idf_mapreduce_spark.functions.hashing import (
        MINHASH_P,
        MINHASH_PERMS,
        word_hash32,
    )
    from tf_idf_mapreduce_spark.operators.textstats import CMS_D, CMS_W

    emit("## P5 — count-min sketch: constant state vs vocabulary-sized state")
    emit()
    emit("| tokens | vocab param | distinct words | exact s | cms s | cms/exact | exact state rows | cms state rows |")
    emit("|---|---|---|---|---|---|---|---|")
    cases = [
        (2_000_000, 100_000),
        (20_000_000, 100_000),
        (20_000_000, 10_000_000),
        (50_000_000, 10_000_000),
    ]
    if quick:
        cases = cases[:2]
    for n, vocab in cases:
        u = (
            F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
            / 1_000_000.0
        )
        rank = F.floor(F.pow(F.lit(float(vocab)), u)).cast("long")
        tokens = (
            spark.range(n)
            .select(F.concat(F.lit("w"), rank.cast("string")).alias("word"))
            .localCheckpoint()
        )
        exact = tokens.groupBy("word").agg(F.count("*").alias("n"))
        h = word_hash32(F.col("word"))
        cells = F.array(
            *[
                F.struct(
                    F.lit(i).alias("i"),
                    (((h * F.lit(a) + F.lit(b)) % MINHASH_P) % CMS_W).alias(
                        "bucket"
                    ),
                )
                for i, (a, b) in enumerate(MINHASH_PERMS[:CMS_D])
            ]
        )
        cms = (
            tokens.select(F.explode(cells).alias("hb"))
            .select(F.col("hb.i").alias("i"), F.col("hb.bucket").alias("bucket"))
            .groupBy("i", "bucket")
            .agg(F.count("*").alias("c"))
        )
        distinct = exact.count()
        t_exact = _timed(exact)
        t_cms = _timed(cms)
        emit(
            f"| {n:,} | {vocab:,} | {distinct:,} | {t_exact:.2f} | {t_cms:.2f} "
            f"| {t_cms / t_exact:.2f}x | {distinct:,} | {CMS_D * CMS_W:,} |"
        )
        tokens.unpersist()
    emit()
    emit(
        "Reading: the sketch buys BOUNDED STATE, not throughput — at these scales it is consistently slower in wall-clock (see the ratio column), because each token pays an md5 hash (kept for bit-exact DuckDB replay) times the 4-cell fan-out, while the exact count hashes each string once; map-side partial aggregation still collapses the fan-out to <= 4096 rows per partition before the exchange. What the sketch fixes is what the exact path cannot: its aggregation state is 4096 longs however large the vocabulary (the exact path's state row count above IS the vocabulary), it never grows on an open stream, and shard/day sketches merge by addition. Use it where state boundedness or mergeability is the constraint — not as a faster counter; text_word_cms value-checks the estimate error exactly."
    )
    emit()



# --------------------------------------------------------------------------
# P6: incremental index maintenance vs full rebuild
# --------------------------------------------------------------------------

def probe_incremental_index(spark: SparkSession, quick: bool) -> None:
    """P6: the tfidf_incremental_index claim — against a PERSISTED index
    (postings/df/N materialized, as production keeps them), folding a 10%
    batch in costs the batch's own tokenize plus a vocabulary-sized word
    join, while the rebuild re-tokenizes everything. The registry query
    cannot show this (it must build both sides in-plan); this probe
    materializes the old side first and times only what a daily run pays."""
    from tf_idf_mapreduce_spark.functions.tokenize import tokenize
    from tf_idf_mapreduce_spark.operators.tfidf import (
        doc_totals,
        tfidf,
        tfidf_pipeline,
        word_count,
    )

    emit("## P6 — incremental index: batch fold vs full rebuild")
    emit()
    emit("| docs | words/doc | rebuild s | incremental s | speedup |")
    emit("|---|---|---|---|---|")
    cases = [(20_000, 80), (100_000, 80), (300_000, 80)]
    if quick:
        cases = cases[:1]
    for n_docs, wpd in cases:
        ids = spark.range(n_docs * wpd)
        u = (
            F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
            / 1_000_000.0
        )
        rank = F.floor(F.pow(F.lit(50_000.0), u)).cast("long")
        corpus = (
            ids.select(
                (F.col("id") / wpd).cast("long").alias("docn"),
                # digit→letter translate: this corpus goes through the
                # REAL tokenizer, whose reference-parity digit-word drop
                # (WordCount.java:63) silently empties "w123"-style
                # vocabularies (caught building P12 round 9 — the fix
                # P11 already carried)
                F.translate(
                    rank.cast("string"), "0123456789", "abcdefghij"
                ).alias("word"),
            )
            .groupBy("docn")
            .agg(F.concat_ws(" ", F.collect_list("word")).alias("text"))
            .select(F.col("docn").cast("string").alias("doc"), "text")
            .localCheckpoint()
        )
        is_batch = F.pmod(F.abs(F.xxhash64(F.col("doc"), F.lit("b"))), F.lit(10)) == 0
        old_c = corpus.where(~is_batch)
        new_c = corpus.where(is_batch)

        # the persisted index: postings + df + N, materialized up front
        old_wtc = doc_totals(word_count(tokenize(old_c))).localCheckpoint()
        old_df = (
            old_wtc.groupBy("word").agg(F.count("*").alias("dfx")).localCheckpoint()
        )
        old_n = old_c.agg(F.countDistinct("doc").alias("nx")).localCheckpoint()

        def incremental():
            new_wtc = doc_totals(word_count(tokenize(new_c)))
            new_df = new_wtc.groupBy("word").agg(F.count("*").alias("dfx"))
            new_n = new_c.agg(F.countDistinct("doc").alias("nx"))
            df_m = (
                old_df.withColumnRenamed("dfx", "a")
                .join(new_df.withColumnRenamed("dfx", "b"), "word", "full_outer")
                .select(
                    "word",
                    (F.coalesce("a", F.lit(0)) + F.coalesce("b", F.lit(0))).alias(
                        "df"
                    ),
                )
            )
            n_t = old_n.crossJoin(new_n.withColumnRenamed("nx", "ny")).select(
                (F.col("nx") + F.col("ny")).alias("total_docs")
            )
            return tfidf(
                old_wtc.unionByName(new_wtc)
                .join(df_m, "word")
                .crossJoin(F.broadcast(n_t)),
                F.col("total_docs"),
            )

        t_full = _timed(tfidf_pipeline(corpus))
        t_inc = _timed(incremental())
        emit(
            f"| {n_docs:,} | {wpd} | {t_full:.2f} | {t_inc:.2f} "
            f"| {t_full / t_inc:.2f}x |"
        )
        corpus.unpersist()
    emit()
    emit(
        "Reading: with the old side persisted — what the registry query "
        "cannot assume but production always does — the daily cost is the "
        "~10% batch tokenize plus a word-keyed df merge, and the advantage "
        "grows with corpus size because the rebuild re-tokenizes "
        "everything while the merge's fixed costs (vocabulary join, idf "
        "re-multiply over postings) grow far slower than the corpus scan. "
        "tfidf_incremental_index pins the merge EXACT against the "
        "one-shot oracle; this probe prices why you'd run it. At 20k "
        "docs the ~0.5s job-launch floor eats the saving (the merge runs "
        "more jobs than the rebuild) — the crossover sits just above "
        "fixture scale, and everything about 100 TB is on the far side "
        "of it."
    )
    emit()

# --------------------------------------------------------------------------
# P7: BPE trainer — vocab-pass rounds vs corpus-rescan rounds
# --------------------------------------------------------------------------

def probe_bpe_vocab(spark: SparkSession, quick: bool) -> None:
    """textstats.bpe_train claims each merge round is a pass over the
    DISTINCT-WORD vocab, not the corpus. Price one round's pair-count
    both ways on the same Zipf token stream: over the trainer's actual
    state (word, n, syms — one row per distinct word) vs the naive
    per-instance form a corpus-rescanning trainer would pay."""
    emit("## P7 — BPE trainer: vocab-pass rounds vs corpus-rescan rounds")
    emit()
    sizes = [2_000_000] if quick else [2_000_000, 20_000_000, 50_000_000]
    vocab_param = 100_000
    emit("| tokens | distinct words | vocab-round s | corpus-round s | ratio |")
    emit("|---|---|---|---|---|")
    for n_tokens in sizes:
        ids = spark.range(n_tokens)
        u = (
            F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("b"))), F.lit(1_000_000))
            / 1_000_000.0
        )
        rank = F.floor(F.pow(F.lit(float(vocab_param)), u)).cast("long")
        stream = ids.select(
            F.concat(F.lit("word"), rank.cast("string")).alias("word")
        ).localCheckpoint()
        wc = stream.groupBy("word").agg(F.count("*").cast("long").alias("n"))
        syms = F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        )
        vocab = wc.select("n", syms.alias("syms")).localCheckpoint()
        n_distinct = vocab.count()

        def pair_round(df: DataFrame) -> DataFrame:
            idx = F.sequence(F.lit(1), F.size("syms") - 1)
            return (
                df.where(F.size("syms") >= 2)
                .select(
                    "n",
                    F.explode(
                        F.transform(
                            idx,
                            lambda i: F.struct(
                                F.element_at("syms", i).alias("l"),
                                F.element_at("syms", i + F.lit(1)).alias("r"),
                            ),
                        )
                    ).alias("p"),
                )
                .groupBy("p.l", "p.r")
                .agg(F.sum("n").alias("n_pair"))
            )

        t_vocab = _timed(pair_round(vocab))
        # naive comparator: syms re-derived per word INSTANCE each round
        per_inst = stream.select(F.lit(1).cast("long").alias("n"), syms.alias("syms"))
        t_corpus = _timed(pair_round(per_inst))
        emit(
            f"| {n_tokens:,} | {n_distinct:,} | {t_vocab:.2f} | "
            f"{t_corpus:.2f} | {t_corpus / max(t_vocab, 1e-9):.1f}x |"
        )
        stream.unpersist()
        vocab.unpersist()
    emit()
    emit(
        "Reading: the trainer's per-round cost follows the DISTINCT-WORD "
        "count (sublinear in corpus size under Zipf — the vocab column "
        "barely moves while tokens grow 25x), so K merge rounds cost K "
        "vocab passes after ONE corpus scan builds the counts; the naive "
        "per-instance form pays the full token stream every round and "
        "scales linearly with the corpus. At 100 TB the gap is the whole "
        "game: the vocab table is the only thing the iteration ever "
        "shuffles, and the 1-row argmax is all the driver sees."
    )
    emit()
    _probe_bpe_batching(spark, quick)


def _probe_bpe_batching(spark: SparkSession, quick: bool) -> None:
    """Rounds-vs-m: the round-7 merge-round batching. A production vocab
    is ~30k merges; one driver round-trip + localCheckpoint per merge is
    30k barriers. The batched learner SPECULATES the next m classic
    picks and verifies every intermediate argmax in one distributed
    pass (``textstats._bpe_safe_chain``), committing the longest
    correct prefix — measure how many driver rounds K merges actually
    cost at several m on a synthetic natural-ish corpus, with the
    learned merge list asserted IDENTICAL across all m."""
    import tempfile
    import time

    from tf_idf_mapreduce_spark.operators import textstats as ts

    emit("### P7b — merge-round batching: driver rounds vs batch cap m")
    emit()
    n_docs = 20_000 if quick else 100_000
    n_merges = 24
    # hash-derived 'words' over a 26-letter alphabet with Zipf-ish rank
    # mixing — enough pair-count spread that chains of disjoint merges
    # exist, like natural text
    ids = spark.range(n_docs)
    word = lambda salt: F.concat(
        *[
            F.substring(
                F.lit("etaoinshrdlcumwfgypbvkjxqz"),
                (
                    F.pmod(
                        F.abs(F.xxhash64(F.col("id"), F.lit(f"{salt}:{k}"))),
                        F.lit(26 - 2 * k),
                    )
                    + 1
                ).cast("int"),
                1,
            )
            for k in range(4)
        ]
    )
    docs = ids.select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", word("a"), word("b"), word("c"), word("d"), word("e")
        ).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("synth").alias("source"),
        F.lit(24).cast("long").alias("n_chars"),
    )
    d = tempfile.mkdtemp(prefix="bpe_batch_probe_")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    emit(f"{n_docs:,} docs, {n_merges} merges learned per configuration.")
    emit()
    emit("| batch cap m | driver rounds | mean chain | wall s | merges identical |")
    emit("|---|---|---|---|---|")
    baseline = None
    for m in (1, 4, 8, 16):
        forget("bpe_merges")
        ts._BPE_TRAIN_STATS.update({"rounds": 0, "chain_lengths": []})
        t0 = time.time()
        merges = ts._bpe_learn_merges(spark, d, n_merges, batch_m=m)
        wall = time.time() - t0
        rounds = ts._BPE_TRAIN_STATS["rounds"]
        chains = ts._BPE_TRAIN_STATS["chain_lengths"]
        if baseline is None:
            baseline = merges
        same = "yes" if merges == baseline else "NO"
        emit(
            f"| {m} | {rounds} | "
            f"{sum(chains) / max(len(chains), 1):.2f} | {wall:.1f} | {same} |"
        )
    emit()
    emit(
        "Reading: every configuration learns the IDENTICAL merge list "
        "(commit-by-proof, never by hope), and the driver-barrier count "
        "drops wherever the current top-m really is the classic "
        "trajectory prefix. Truncations are genuine interference — a "
        "created pair outranking the guess — re-speculated next round. "
        "At a 30k-merge production vocab the same mechanism amortizes "
        "the per-merge barrier and checkpoint by the mean chain length; "
        "the verification pass adds one (m-1)-stage vocab job per round "
        "and nothing corpus-sized ever moves."
    )
    emit()


# --------------------------------------------------------------------------
# P8: M4 downsample — mergeable aggregate vs 4-way window sort
# --------------------------------------------------------------------------

def synth_series(spark: SparkSession, n_rows: int, n_types: int) -> DataFrame:
    """Deterministic (event_id, ts_sec, typ, value) series: 30 days of
    hash-uniform timestamps over ``n_types`` independent series."""
    ids = spark.range(n_rows)
    ts = F.lit(1_700_000_000) + F.pmod(
        F.abs(F.xxhash64(F.col("id"), F.lit("t"))), F.lit(30 * 86400)
    )
    typ = F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("y"))), F.lit(n_types))
    val = (
        F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("v"))), F.lit(1_000_000))
        / 1000.0
    )
    return ids.select(
        F.col("id").alias("event_id"),
        ts.alias("ts_sec"),
        typ.alias("typ"),
        val.alias("value"),
    )


def probe_m4(spark: SparkSession, quick: bool) -> None:
    from pyspark.sql.window import Window

    emit("## P8 — M4 downsample: one mergeable aggregate vs 4-way window sort")
    emit()
    emit("| rows | types | buckets | aggregate s | window s | window/agg |")
    emit("|---|---|---|---|---|---|")
    configs = [(2_000_000, 5), (20_000_000, 5), (20_000_000, 100_000)]
    if not quick:
        configs.append((50_000_000, 5))
    for n_rows, n_types in configs:
        base = synth_series(spark, n_rows, n_types).localCheckpoint()
        bucket = (F.col("ts_sec") - F.col("ts_sec") % 3600).alias("bucket_sec")
        key = F.concat(
            F.lpad(F.col("ts_sec").cast("string"), 12, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        )
        src = base.select("typ", bucket, "ts_sec", "value", key.alias("k"))
        agg = src.groupBy("typ", "bucket_sec").agg(
            F.count("*").alias("n_points"),
            F.min("ts_sec").alias("ts_first_sec"),
            F.max("ts_sec").alias("ts_last_sec"),
            F.min_by("value", F.col("k")).alias("v_first"),
            F.max_by("value", F.col("k")).alias("v_last"),
            F.min("value").alias("v_min"),
            F.max("value").alias("v_max"),
        )
        t_agg = _timed(agg)

        part = Window.partitionBy("typ", "bucket_sec")
        flags = src.select(
            "typ",
            "bucket_sec",
            "ts_sec",
            "value",
            F.row_number().over(part.orderBy(F.asc("k"))).alias("rf"),
            F.row_number().over(part.orderBy(F.desc("k"))).alias("rl"),
            F.row_number()
            .over(part.orderBy(F.asc("value"), F.asc("k")))
            .alias("rn"),
            F.row_number()
            .over(part.orderBy(F.desc("value"), F.asc("k")))
            .alias("rx"),
        )
        win = flags.groupBy("typ", "bucket_sec").agg(
            F.count("*").alias("n_points"),
            F.min("ts_sec").alias("ts_first_sec"),
            F.max("ts_sec").alias("ts_last_sec"),
            F.max(F.when(F.col("rf") == 1, F.col("value"))).alias("v_first"),
            F.max(F.when(F.col("rl") == 1, F.col("value"))).alias("v_last"),
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("v_min"),
            F.max(F.when(F.col("rx") == 1, F.col("value"))).alias("v_max"),
        )
        t_win = _timed(win)
        n_buckets = agg.count()
        emit(
            f"| {n_rows:,} | {n_types:,} | {n_buckets:,} "
            f"| {t_agg:.2f} | {t_win:.2f} | {t_win / t_agg:.1f}x |"
        )
        base.unpersist()
    emit()
    emit(
        "Reading: both forms pay the same (typ, bucket) exchange, but the "
        "aggregate partial-combines map-side to 4 scalars + 2 selection "
        "keys per bucket BEFORE it — the exchange moves bucket-count rows "
        "— while the window form ships every raw row through the shuffle "
        "and then sorts each bucket four ways. The gap is the shuffled-"
        "byte ratio (rows vs buckets), so it grows with points-per-bucket "
        "— exactly the regime a 100 TB dashboard rollup lives in; at 2M "
        "rows both forms are job-floor bound (a sub-1x first row is "
        "scheduling noise), and with 100k types (fine buckets, few "
        "points each) the forms converge — the honest boundaries of the "
        "claim. events_downsample_m4 "
        "ships the aggregate form; its streaming twin inherits "
        "mergeability for free."
    )
    emit()


# --------------------------------------------------------------------------
# P9: screen reuse — lazy composed manifests vs persist_screens barriers
# --------------------------------------------------------------------------

def probe_screen_reuse(spark: SparkSession, quick: bool) -> None:
    """tfidf.incremental_e2e_index: lazy screen composition vs durable
    screen tables (``persist_screens=True``), on synthetic corpora
    1-16x the sf0.1 fixture (documents + embeddings, hash-derived),
    same row counts asserted. Round-8 context: the admitted-set
    barrier now bounds the lazy plan too (74 scans → 6), so both modes
    evaluate each screen once — the remaining tradeoff is screen
    recompute-per-fresh-session vs parquet write+read, and persist is
    now the engine default (this probe's cold re-measurement is the
    evidence), with lazy forcible via conf for throwaway runs."""
    import shutil
    import tempfile
    import time

    from tf_idf_mapreduce_spark.operators.tfidf import incremental_e2e_index

    emit("## P9 — composed-manifest screen reuse: lazy vs persist_screens")
    emit()
    sizes = [5_000, 20_000] if quick else [5_000, 20_000, 80_000]
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    emit("| docs | lazy s | persist s | persist/lazy | rows equal |")
    emit("|---|---|---|---|---|")
    for n_docs in sizes:
        d = tempfile.mkdtemp(prefix="p9_")
        ids = spark.range(n_docs)
        text = F.concat_ws(
            " ",
            *[
                F.element_at(
                    F.array(*[F.lit(w) for w in words]),
                    (
                        F.pmod(
                            F.abs(F.xxhash64(F.col("id"), F.lit(f"w{k}"))),
                            F.lit(len(words)),
                        )
                        + 1
                    ).cast("int"),
                )
                for k in range(12)
            ],
        )
        ids.select(
            F.col("id").alias("doc_id"),
            text.alias("text"),
            F.lit("en").alias("lang"),
            F.concat(
                F.lit("src"),
                F.pmod(F.col("id"), F.lit(5)).cast("string"),
            ).alias("source"),
            F.length(text).cast("long").alias("n_chars"),
        ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
        emb = F.transform(
            F.sequence(F.lit(0), F.lit(63)),
            lambda k: (
                F.pmod(F.abs(F.xxhash64(F.col("id"), k)), F.lit(2000)) / 1000.0
                - 1.0
            ).cast("float"),
        )
        ids.select(
            F.col("id").alias("vec_id"),
            emb.alias("embedding"),
            F.pmod(F.col("id"), F.lit(10)).cast("int").alias("label"),
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")

        counts, walls = {}, {}
        for mode in (False, True):
            # round 8: the incremental screens and the SemDeDup
            # disposition are now session-cached AND durably stored —
            # clear both between modes, or the second mode measures
            # cache hits instead of its own execution strategy
            from tf_idf_mapreduce_spark.sources.model_store import (
                drop_models,
            )

            forget(
                "incremental_dedup", "incremental_semantic_dedup", "semantic_keep"
            )
            for m in (
                "incremental_dedup",
                "incremental_semantic_dedup",
                "semantic_keep",
                "screen_inc_dedup",
                "screen_inc_semantic",
                "screen_inc_contam",
                "screen_inc_pii",
                "screen_inc_quality",
            ):
                drop_models(m, spark)
            t0 = time.time()
            counts[mode] = incremental_e2e_index(
                spark, d, persist_screens=mode
            ).count()
            walls[mode] = time.time() - t0
        emit(
            f"| {n_docs:,} | {walls[False]:.1f} | {walls[True]:.1f} | "
            f"{walls[True] / max(walls[False], 1e-9):.2f}x | "
            f"{'yes' if counts[False] == counts[True] else 'NO'} |"
        )
        shutil.rmtree(d, ignore_errors=True)
    emit()
    emit(
        "Reading: persist/lazy under 1 means the durable screen tables "
        "pay (each screen is WRITTEN once as a parquet table and every "
        "consumer — including every later session — reads files), over "
        "1 would mean they serialize scan-cheap screens for nothing. "
        "Round-8 re-measurement with both modes fully cold (screen "
        "caches and store artifacts cleared per mode): persist wins "
        "0.55-0.66x at every size ON LOCAL DISK — the round-7 lazy-wins "
        "number compared session localCheckpoint barriers, a different "
        "mechanism that serialized the screens without amortizing across "
        "sessions. Remote object storage only widens the gap (every lazy "
        "re-scan is paid network I/O), so the engine default is persist; "
        "lazy stays forcible via conf for one-shot throwaway runs where "
        "nothing should be written."
    )
    emit()


def probe_skyline(spark: SparkSession, quick: bool) -> None:
    """curation.pareto_layers claims the corpus never shuffles — each
    partition shrinks to its local frontier via mapInPandas (per Arrow
    batch, so candidates scale with batch COUNT, not rows), and only
    those candidates reach the single-partition exact merge. Measure
    that shrink on synthetic 3-criteria relations at 1-50M rows under
    the two regimes that bound skyline size: independent uniform axes
    (frontier ~ polylog) and anti-correlated axes (the adversarial
    case — every point near the tradeoff surface)."""
    from tf_idf_mapreduce_spark.operators.curation import (
        SKYLINE_SCHEMA,
        _skyline_map,
        _skyline_of,
    )

    emit("## P10 — skyline local-frontier shrink: candidate volume vs corpus")
    emit()
    sizes = [1_000_000, 5_000_000] if quick else [1_000_000, 10_000_000, 50_000_000]
    emit("| rows | regime | local candidates | shrink | final frontier | total s |")
    emit("|---|---|---|---|---|---|")
    for n in sizes:
        for regime in ("independent", "anti-correlated"):
            base = spark.range(n).select(
                F.col("id").alias("doc_id"),
                (F.xxhash64("id", F.lit("w")) % 100_000).alias("h1"),
                (F.xxhash64("id", F.lit("t")) % 50_000).alias("h2"),
                (F.xxhash64("id", F.lit("g")) % 1_000).alias("h3"),
                (F.xxhash64("id", F.lit("g2")) % 1_000).alias("h4"),
            )
            if regime == "independent":
                feats = base.select(
                    "doc_id",
                    F.abs("h1").alias("n_words"),
                    F.abs("h2").alias("n_types"),
                    F.abs("h3").alias("n_digits"),
                )
            else:
                # points hug the plane w + t = const: maximal frontier
                feats = base.select(
                    "doc_id",
                    F.abs("h1").alias("n_words"),
                    (F.lit(100_000) - F.abs("h1") + F.abs("h3")).alias(
                        "n_types"
                    ),
                    F.abs("h4").alias("n_digits"),
                )
            t0 = time.time()
            local = feats.mapInPandas(_skyline_map, SKYLINE_SCHEMA)
            n_cand = local.count()
            try:
                n_sky = f"{_skyline_of(feats).count():,}"
            except Exception:  # ExactPathTooLarge — the guard is the result
                n_sky = "GUARD (merge refused)"
            dt = time.time() - t0
            emit(
                f"| {n:,} | {regime} | {n_cand:,} | "
                f"{n / max(n_cand, 1):,.0f}x | {n_sky} | {dt:.2f} |"
            )
    emit()
    emit(
        "Reading: with independent axes the local pass is the whole "
        "cost — the merge sees thousandths of the input, so the claimed "
        "shape (corpus-scan + KB-sized exchange) holds. Anti-correlated "
        "axes are the documented boundary: every point hugs the "
        "tradeoff surface, frontiers scale with the surface, and "
        "SKYLINE_MERGE_MAX refuses the single-task merge rather than "
        "run an O(candidates x frontier) task for hours — the fix is a "
        "coarser axis grid, not a bigger merge. Candidate count tracks "
        "Arrow-batch count x per-batch frontier, not rows: bigger "
        "batches (spark.sql.execution.arrow.maxRecordsPerBatch) buy "
        "MORE shrink at the same scan cost. The layered query repeats "
        "the pass per layer over an anti-joined remainder — same "
        "shape, tiny deltas."
    )
    emit()


# --------------------------------------------------------------------------
# P11: the flagship TF-IDF pipeline at 100x fixture scale
# --------------------------------------------------------------------------

def synth_corpus(spark: SparkSession, n_docs: int, doc_len: int, vocab: int) -> DataFrame:
    """Deterministic synthetic corpus: ``n_docs`` docs of ``doc_len``
    words drawn Zipf-s=1 from a ``vocab``-word letter-only vocabulary
    (the reference tokenizer drops digit-bearing words — T2 — so words
    are digit→letter translated). Randomness is xxhash64 of
    (doc id, position) — no RNG state, reproducible across runs."""
    ids = spark.range(n_docs)

    def word_at(p: int):
        u = (
            F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit(p))), F.lit(1_000_000))
            / F.lit(1_000_000.0)
        )
        rank = F.pow(F.lit(float(vocab)), u).cast("long")
        return F.concat(
            F.lit("w"),
            F.translate(rank.cast("string"), "0123456789", "abcdefghij"),
        )

    return ids.select(
        F.col("id").cast("string").alias("doc"),
        F.concat_ws(" ", *[word_at(p) for p in range(doc_len)]).alias("text"),
    )


def probe_tfidf_flagship(spark: SparkSession, quick: bool) -> None:
    """The reference's whole value is the 4-job TF-IDF chain
    (TfidfMapReduce.java:36-100); the engine's flagship claim is that
    the 3-exchange Spark plan (word_count groupBy, doc_totals window,
    doc_freq agg+join, then either TakeOrdered top-30 or the range-
    partitioned global sort) scales linearly in corpus size. Measure it
    at 200x-2000x the sf0.1 fixture's 5k docs, and measure the global
    sort's range-partitioner sampling knob
    (``spark.sql.execution.rangeExchange.sampleSizePerPartition``):
    sample size buys partition balance (max/mean skew of the sorted
    exchange) with a driver-side sampling pass — the knob a 1000-
    executor deployment actually tunes."""
    from tf_idf_mapreduce_spark.operators.tfidf import (
        tfidf_pipeline,
        tfidf_sorted,
    )

    emit("## P11 — flagship TF-IDF pipeline at 100x: 3-exchange scaling + range-sort sampling")
    emit()
    sizes = [100_000, 300_000] if quick else [1_000_000, 3_000_000, 10_000_000]
    sweep_size = sizes[-2]
    doc_len, vocab = 20, 50_000
    emit(f"Docs of {doc_len} Zipf-s=1 words over a {vocab:,}-word vocab "
         f"(sf0.1 fixture: 5k docs). Timings best-of-2 noop-sink "
         f"(single run at the largest size — its checkpoint blocks are "
         f"a large share of the 48g local JVM, and a repeat measures "
         f"block-manager pressure, not the plan).")
    emit()
    emit("| docs | token rows | scored s | top30 s | full sort s | scored rows |")
    emit("|---|---|---|---|---|---|")
    for n in sizes:
        corpus = synth_corpus(spark, n, doc_len, vocab).localCheckpoint()
        scored = tfidf_pipeline(corpus)
        t_scored = _timed(scored) if n < sizes[-1] else _noop(scored)
        # materialize ONCE for the two sort consumers — the probe prices
        # the sorts, not a third pipeline rerun. The largest relation
        # (~190M rows) persists DISK_ONLY: deserialized checkpoint
        # blocks for it exceed the single local JVM's heap (measured
        # OOM at 48g) — a regime a real cluster sizes around, while
        # the probe just needs a stable input for the sort timings.
        if n < sizes[-1]:
            scored_ck = scored.localCheckpoint()
        else:
            from pyspark import StorageLevel

            scored_ck = scored.persist(StorageLevel.DISK_ONLY)
        n_scored = scored_ck.count()
        top30 = scored_ck.orderBy(
            F.desc("tfidf"), F.asc("word"), F.asc("doc")
        ).limit(30)
        t_top = _timed(top30)
        t_sort = _timed(tfidf_sorted(scored_ck))
        emit(
            f"| {n:,} | {n * doc_len:,} | {t_scored:.1f} | {t_top:.2f} "
            f"| {t_sort:.1f} | {n_scored:,} |"
        )
        if n == sweep_size:
            # sweep the sampling knob at the SECOND-largest size, before
            # the largest size's blocks crowd the JVM — the knob's
            # effect is balance, visible at any non-trivial volume
            emit()
            emit("Range-sort sampling at the second-largest size "
                 "(partition skew = max/mean rows of the sorted "
                 "exchange's output partitions):")
            emit()
            emit("| sampleSizePerPartition | sort s | partitions | max/mean skew |")
            emit("|---|---|---|---|")
            key = "spark.sql.execution.rangeExchange.sampleSizePerPartition"
            prev = spark.conf.get(key)
            try:
                for ss in (10, 100, 1000):
                    spark.conf.set(key, str(ss))
                    srt = tfidf_sorted(scored_ck)
                    t = _timed(srt)
                    sizes_pdf = (
                        srt.select(F.spark_partition_id().alias("pid"))
                        .groupBy("pid")
                        .count()
                        .toPandas()
                    )
                    skew = float(
                        sizes_pdf["count"].max() / sizes_pdf["count"].mean()
                    )
                    emit(f"| {ss} | {t:.1f} | {len(sizes_pdf)} | {skew:.2f} |")
            finally:
                spark.conf.set(key, prev)
            emit()
            emit("| docs | token rows | scored s | top30 s | full sort s | scored rows |")
            emit("|---|---|---|---|---|---|")
    emit()
    emit("Reading: scored wall grows ~linearly with docs while the "
         "working set fits the single local JVM; at the largest size "
         "the resident checkpoint blocks push execution memory into "
         "spill — a regime a real cluster does not enter (per-executor "
         "share stays constant as executors scale with data). Top-30 is "
         "TakeOrdered (per-partition heads, no global exchange) and "
         "stays near-flat; the full sort pays one range exchange whose "
         "balance the sample size controls. The reference's Job 4 is a "
         "SINGLE reducer (SortByValue.java:111-126) — its sort is one "
         "machine's merge no matter the corpus.")
    emit()


# --------------------------------------------------------------------------
# P12: durable-store amortization at probe scale
# --------------------------------------------------------------------------

def probe_store_amortization(spark: SparkSession, quick: bool) -> None:
    """P12: the round-8 persist-default flip (screens) and the round-9
    persisted TF-IDF index were justified at fixture scale (P9) — this
    measures the same trade at P11's corpus sizes, through the REAL
    code paths (generated documents.parquet + the actual store-backed
    queries), not a re-implementation:

    - index fold: old side built in-plan every run (what the fixture
      registry query must do) vs COLD store (fit + bucketed write +
      fold) vs WARM store (register + read + fold — the daily shape).
    - screen table: k consumers recomputing a map-pass screen vs one
      parquet write + k re-reads.
    """
    from tf_idf_mapreduce_spark.operators.textstats import quality_scores
    from tf_idf_mapreduce_spark.operators.tfidf import (
        incremental_index,
        incremental_index_persisted,
    )
    from tf_idf_mapreduce_spark.sources.model_store import MODEL_STORE_ENV

    emit("## P12 — durable-store amortization at probe scale")
    emit()
    emit("| docs | words/doc | fold in-plan s | fold cold store s "
         "| fold warm store s | warm/in-plan |")
    emit("|---|---|---|---|---|---|")
    cases = [(300_000, 20), (1_000_000, 20), (3_000_000, 20)]
    if quick:
        cases = cases[:1]
    screen_rows = []
    saved_env = os.environ.get(MODEL_STORE_ENV)
    for n_docs, wpd in cases:
        sf_tmp = tempfile.mkdtemp(prefix="p12_sf_")
        store = tempfile.mkdtemp(prefix="p12_store_")
        atexit.register(shutil.rmtree, sf_tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, store, ignore_errors=True)
        os.environ[MODEL_STORE_ENV] = store
        ids = spark.range(n_docs * wpd)
        u = (
            F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
            / 1_000_000.0
        )
        rank = F.floor(F.pow(F.lit(50_000.0), u)).cast("long")
        (
            ids.select(
                (F.col("id") / wpd).cast("long").alias("doc_id"),
                # letters only: the real tokenizer drops digit words
                F.translate(
                    rank.cast("string"), "0123456789", "abcdefghij"
                ).alias("word"),
            )
            .groupBy("doc_id")
            .agg(F.concat_ws(" ", F.collect_list("word")).alias("text"))
            .write.mode("overwrite")
            .parquet(f"{sf_tmp}/documents.parquet")
        )
        # best-of-2 for the re-runnable paths; cold is single-shot by
        # definition (the first store call IS the fit+write)
        t_inplan = _timed(incremental_index(spark, sf_tmp))
        t_cold = _noop(incremental_index_persisted(spark, sf_tmp))
        t_warm = _timed(incremental_index_persisted(spark, sf_tmp))
        emit(
            f"| {n_docs:,} | {wpd} | {t_inplan:.2f} | {t_cold:.2f} "
            f"| {t_warm:.2f} | {t_warm / t_inplan:.2f}x |"
        )

        # screen side: k=3 consumers recompute vs write-once + 3 reads
        k = 3
        t_recompute = sum(
            _noop(quality_scores(spark, sf_tmp)) for _ in range(k)
        )
        screen_path = os.path.join(store, "p12_screen.parquet")
        t0 = time.time()
        quality_scores(spark, sf_tmp).write.mode("overwrite").parquet(
            screen_path
        )
        t_write = time.time() - t0
        t_reads = sum(
            _noop(spark.read.parquet(screen_path)) for _ in range(k)
        )
        screen_rows.append(
            f"| {n_docs:,} | {k} | {t_recompute:.2f} | {t_write:.2f} "
            f"| {t_reads:.2f} | {(t_write + t_reads) / t_recompute:.2f}x |"
        )
    if saved_env is None:
        os.environ.pop(MODEL_STORE_ENV, None)
    else:
        os.environ[MODEL_STORE_ENV] = saved_env
    emit()
    emit("| docs | consumers | recompute x k s | write once s "
         "| read x k s | persist/recompute |")
    emit("|---|---|---|---|---|---|")
    for row in screen_rows:
        emit(row)
    emit()
    emit(
        "Reading: the warm fold (register the bucketed tables + fold the "
        "arrival slice) beats the in-plan fold increasingly with corpus "
        "size — the old side's tokenize dominates the in-plan number and "
        "is exactly what the store removes; the cold fold pays the "
        "bucketed parquet write ONCE per fingerprint and is the build a "
        "production pipeline schedules, not a per-query cost. The screen "
        "table amortizes the same way: write-once + k reads vs k "
        "recomputes of a map-pass screen crosses over as soon as the "
        "screen costs more than its own parquet write — and on remote "
        "object storage every recompute is paid corpus I/O while the "
        "screen table is arrival-sized. Honest regime note: at the "
        "smallest size the job-launch floor and the write dominate; the "
        "store is a wash below ~1M docs on local disk and wins past it, "
        "consistent with P9's fixture-scale 0.55-0.66x."
    )
    emit()


def probe_bucketed_fold_skew(spark: SparkSession, quick: bool) -> None:
    """P13 (round-9 verdict #6): the persisted fold's word-keyed joins
    under a Zipf s=2 arrival distribution — does the word-bucketed SMJ
    need the salted-twin treatment the unbucketed ``doc_freq`` got in
    P1?

    Two structural facts frame the measurement, both checked here
    rather than asserted:
    - the DF MERGE (old df ⊕ day df) cannot skew at any Zipf shape:
      both sides are df tables with EXACTLY ONE row per word — join
      skew needs many rows per key on a side, and the additive merge
      never has them.
    - the SCORING join (postings ⋈ df) has its skew capped by
      construction: a word's postings rows = its document frequency
      <= n_docs, while the relation holds ~distinct-words-per-doc rows
      per doc — so the hottest word carries at most
      ~1/(distinct words per doc) of the relation even when it carries
      half the TOKEN stream (P1's s=2 regime lives in token space; the
      (word, doc) grouping flattens it, with map-side combine eating
      the token skew before any shuffle).
    The exposure that remains is BUCKET-level: a stopword's postings all
    hash to one bucket, and a bucketed scan partition cannot be split by
    AQE skew-join (there is no exchange to re-plan). Measured regimes:
    broadcast df (the default — vocab-sized df rides to every task, hot
    words stay spread across the bucketed scan), SMJ with AQE, SMJ
    without, each timed on the fold's serving join over a persisted
    bucketed postings table."""
    from tf_idf_mapreduce_spark.operators import tfidf as T
    from tf_idf_mapreduce_spark.sources.model_store import (
        MODEL_STORE_ENV,
        load_or_compute_bucketed_table,
    )

    # the persisted index's rule: bucket count = the session's shuffle
    # width, read once
    n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))

    emit("## P13 — persisted fold's word-keyed joins under Zipf s=2 arrivals")
    emit()
    emit("Synthetic postings (P1's generator), word-bucketed store table as")
    emit("the old side, 10% arrival slice with the SAME s=2 hot head. `hot")
    emit("word` / `hot bucket` = share of postings carried by the hottest")
    emit(f"word / bucket ({n_buckets} buckets = the shuffle width, Spark's")
    emit("Murmur3 word hash).")
    emit()
    emit("| events | docs | vocab | postings | hot word | hot bucket "
         "| derived df bcast | derived SMJ AQE | derived SMJ noAQE "
         "| STORED df bcast |")
    emit("|---|---|---|---|---|---|---|---|---|---|")
    configs = [
        # (events, docs, vocab): s=2 throughout — the stopword regime.
        # Short-doc config second: fewer distinct words per doc raises
        # the structural cap on per-word postings share
        (20_000_000, 1_000_000, 100_000),
        (8_000_000, 1_000_000, 1_000),
    ]
    if quick:
        configs = configs[:1]
    saved_env = os.environ.get(MODEL_STORE_ENV)
    for n_events, n_docs, vocab in configs:
        store = tempfile.mkdtemp(prefix="p13_store_")
        atexit.register(shutil.rmtree, store, ignore_errors=True)
        os.environ[MODEL_STORE_ENV] = store
        wtc = synth_postings(spark, n_events, n_docs, vocab, s=2).withColumn(
            "doc_total", F.lit(80).cast("long")
        )
        is_batch = (
            F.pmod(F.abs(F.xxhash64(F.col("doc"), F.lit("b"))), F.lit(10)) == 0
        )
        old_wtc = wtc.where(~is_batch)
        new_wtc = wtc.where(is_batch).localCheckpoint()
        key = ("p13", n_events, n_docs, vocab)
        postings, _ = load_or_compute_bucketed_table(
            "p13_postings", key, spark, lambda: old_wtc, "word", n_buckets
        )
        n_rows = postings.count() + new_wtc.count()
        hot_word = (
            postings.groupBy("word").count().agg(F.max("count")).head()[0]
            / n_rows
        )
        hot_bucket = (
            postings.groupBy(
                F.pmod(F.abs(F.hash("word")), F.lit(n_buckets))
            ).count().agg(F.max("count")).head()[0]
            / n_rows
        )
        # the engine's fold + score with the old side a bucketed store
        # table and its df derived in-plan
        def put(part, build):
            # the arrival slice is already postings, and synthetic
            # postings have no corpus to count: N is n_docs
            if part == T.DF:
                return build()
            return new_wtc if part == T.POSTINGS else n_docs

        old_df = postings.groupBy("word").agg(F.count("*").alias("dfx"))
        segments, df_merged, n = T.fold(([postings], old_df, n_docs), None, put)

        def serve(dfm):
            return T.score((segments, dfm, n))

        times = {}
        times["bcast"] = _timed(serve(df_merged))
        saved_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            for aqe in ("true", "false"):
                spark.conf.set("spark.sql.adaptive.enabled", aqe)
                times[f"smj_{aqe}"] = _timed(serve(df_merged))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved_bc)
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        # the PROMOTED regime: df persisted per version (exactly what
        # operators.tfidf.promoted_index writes), scoring joins the
        # stored vocab-sized table — the write is the promote step's
        # cost, priced under the fold's cold pin, not the serving join
        df_path = os.path.join(store, "p13_df_stored")
        df_merged.write.mode("overwrite").parquet(df_path)
        times["stored"] = _timed(serve(spark.read.parquet(df_path)))
        emit(
            f"| {n_events:,} | {n_docs:,} | {vocab:,} | {n_rows:,} "
            f"| {hot_word:.2%} | {hot_bucket:.2%} "
            f"| {times['bcast']:.2f}s | {times['smj_true']:.2f}s "
            f"| {times['smj_false']:.2f}s | {times['stored']:.2f}s |"
        )
    if saved_env is None:
        os.environ.pop(MODEL_STORE_ENV, None)
    else:
        os.environ[MODEL_STORE_ENV] = saved_env
    emit()
    emit(
        "Reading — two findings, one expected and one the probe caught. "
        "(1) Skew is a NON-ISSUE for this layout, as predicted: the df "
        "merge is skew-free by construction (one row per word per "
        "side), the scoring join's per-word share is capped at "
        "~1/(distinct words per doc) (measured 13-22% even at Zipf s=2, "
        "vs the ~50% token share the same distribution gives P1), the "
        "hot BUCKET tops out barely above the hot word, and no regime "
        "explodes — the doc_freq_salted treatment does not apply here; "
        "salting would force the reshuffle the bucket layout exists to "
        "avoid. (2) The dominant cost is HOW OFTEN THE DERIVED DF-MERGE "
        "SUBPLAN EXECUTES, not the join strategy: broadcasting the "
        "derived merge builds it once per segment branch and collects "
        "each copy to the driver (slowest, 0 reused exchanges in the "
        "executed plan); the two SMJ variants land ~2x under it and within noise of each other (plan check: without AQE Catalyst reuses the merge's shuffle across branches — 1 ReusedExchange — while AQE re-plans each branch; at this scale the re-execution is partly hidden by the running stages). The STORED-df column is "
        "the production answer and the fastest: persist the vocab-sized "
        "merged df — exactly what index PROMOTION (promoted_index) "
        "writes per version — and the serving join broadcasts a small "
        "parquet read per branch, skew-immune and re-execution-free. "
        "Rule shipped with the engine (persisted_index docstring): "
        "score against the PERSISTED df table (broadcast-from-store); "
        "never broadcast a derived df-merge across multiple segment "
        "branches without materializing it first."
    )
    emit()


def probe_promoted_chain(spark: SparkSession, quick: bool) -> None:
    """P14: the round-10 headline priced past fixture scale — an N-day
    chain where each fold PROMOTES its state back into the store
    (``promoted_index``) vs the in-lineage chain (consecutive in-plan
    ``fold``s, what round 9 shipped). The claim under test: per-day
    promote cost is FLAT in the day number (day k reads day k-1's
    parquet), while the in-lineage chain's day-k cost grows because it
    re-executes every prior merge; and compaction keeps the serving
    read flat in N (one segment scan).
    """
    from tf_idf_mapreduce_spark.operators import tfidf as T
    from tf_idf_mapreduce_spark.sources.io import documents_as_corpus
    from tf_idf_mapreduce_spark.sources.model_store import MODEL_STORE_ENV
    from tf_idf_mapreduce_spark.operators.curation import (
        SAMPLE_BUCKET_MAX,
        _sample_bucket,
    )

    emit("## P14 — promoted N-day chain vs in-lineage chain at probe scale")
    emit()
    emit("| docs | day | promote s | serve s | in-lineage day-k s |")
    emit("|---|---|---|---|---|")
    cases = [300_000, 1_000_000]
    if quick:
        cases = cases[:1]
    n_days = 3
    for n_docs in cases:
        sf_tmp = tempfile.mkdtemp(prefix="p14_sf_")
        store = tempfile.mkdtemp(prefix="p14_store_")
        atexit.register(shutil.rmtree, sf_tmp, ignore_errors=True)
        atexit.register(shutil.rmtree, store, ignore_errors=True)
        os.environ[MODEL_STORE_ENV] = store
        wpd = 20
        ids = spark.range(n_docs * wpd)
        u = (
            F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
            / 1_000_000.0
        )
        rank = F.floor(F.pow(F.lit(50_000.0), u)).cast("long")
        (
            ids.select(
                (F.col("id") / wpd).cast("long").alias("doc_id"),
                F.translate(
                    rank.cast("string"), "0123456789", "abcdefghij"
                ).alias("word"),
            )
            .groupBy("doc_id")
            .agg(F.concat_ws(" ", F.collect_list("word")).alias("text"))
            .write.mode("overwrite")
            .parquet(f"{sf_tmp}/documents.parquet")
        )
        # base index (v0) built once, outside the per-day numbers —
        # production schedules it, the days amortize it
        T.persisted_index(spark, sf_tmp)

        # the in-lineage comparison: state_k nests all prior merges;
        # day k's number re-executes the whole chain up to k
        docs = spark.read.parquet(f"{sf_tmp}/documents.parquet").select(
            F.col("doc_id"), F.col("text")
        )
        is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX

        def lineage_day(k: int) -> float:
            state = T.persisted_index(spark, sf_tmp)[:3]
            for d in range(1, k + 1):
                state = T.fold(
                    state,
                    lambda d=d: documents_as_corpus(
                        docs.where(is_batch & T._chain_day_pred(d, n_days))
                    ),
                    T.arrival,
                )
            return _noop(T.score(state))

        for k in range(1, n_days + 1):
            t0 = time.time()
            state = T.promoted_index(spark, sf_tmp, k, n_days)
            t_promote = time.time() - t0  # day k's writes (k-1 warm)
            t_serve = _timed(T.score(state[:3]))
            t_lineage = lineage_day(k)
            emit(
                f"| {n_docs:,} | {k} | {t_promote:.2f} | {t_serve:.2f} "
                f"| {t_lineage:.2f} |"
            )
        t0 = time.time()
        summary = T.compact_index(
            spark, sf_tmp, upto_day=n_days, n_days=n_days, prune=True
        )
        t_compact = time.time() - t0
        state = T.promoted_index(spark, sf_tmp, n_days, n_days)
        t_serve_c = _timed(T.score(state[:3]))
        emit(
            f"| {n_docs:,} | compact | {t_compact:.2f} | {t_serve_c:.2f} "
            f"| files {summary['files_before']} -> {summary['files_after']}, "
            f"{summary['ancestors_pruned']} pruned |"
        )
    emit()
    emit(
        "Reading: the per-day promote cost is flat in the day number — "
        "day k tokenizes only its slice and merges against day k-1's "
        "PARQUET (the vocabulary-sized df rewrite dominates and does not "
        "grow with k), while the in-lineage chain's day-k cost climbs "
        "with k because every prior day's tokenize + merge re-executes "
        "inside the nested plan. Serving stays flat too (segments join "
        "the stored df separately), and compaction folds the segments "
        "into one bucketed table — the serve time after compaction is "
        "the single-table read an N-day-old index should cost, with the "
        "ancestor files reclaimed. This is the measured case for "
        "promotion as the production loop: the round-9 in-lineage chain "
        "was an associativity PROOF, not a deployable cadence. One measured nuance: the post-compaction serve reads ONE bucketed table, which caps scan parallelism at the bucket count (32 partitions vs 4 segments x 32 at shuffle width 32) — slightly slower wall here than the 4-segment read on an idle 32-core box; the bucket count follows the session's shuffle width (sized ~2-3x total cores), and the compaction win is file count + metadata + plan size, not raw scan speed."
    )
    emit()


def probe_stream_merge(spark: SparkSession, quick: bool) -> None:
    """P15 (round-11 verdict #7): the streaming index merge's cost curve,
    measured instead of asserted. Claims under test: (a) a NON-compacting
    micro-batch's merge cost is FLAT in stream length — each batch
    tokenizes only its slice and full-outer-merges the vocabulary-sized
    df against the parent's parquet, never re-reading old segments; (b)
    the compaction spike is bounded by the folded chain (<= compact_every
    segments) and amortizes over the cycle; (c) live state stays bounded
    on a long drain: <= 2*compact_every segments (live + one grace
    generation) and O(compact_every) manifest files, however many batches
    ran. Timing is inside ``foreachBatch`` — the availableNow scheduling
    floor (~1s/trigger) is the harness's, not the merge's.
    """
    import tempfile

    from tf_idf_mapreduce_spark.sources.index_root import manifest_versions
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    emit("## P15 — streaming index merge: per-batch cost on a long drain")
    emit()
    emit(
        "| docs | batches | compact_every | merge s first-3 | merge s "
        "last-3 | max spike s | spikes amortized s/batch | segs on disk "
        "| manifest files | serve s |"
    )
    emit("|---|---|---|---|---|---|---|---|---|---|")
    cases = [(600_000, 20, 4), (600_000, 20, 8)]
    if quick:
        cases = [(300_000, 12, 4)]
    for n_docs, n_batches, ce in cases:
        sf_tmp = tempfile.mkdtemp(prefix="p15_sf_")
        root = tempfile.mkdtemp(prefix="p15_root_")
        ckpt = tempfile.mkdtemp(prefix="p15_ckpt_")
        for d in (sf_tmp, root, ckpt):
            atexit.register(shutil.rmtree, d, ignore_errors=True)
        wpd = 20
        ids = spark.range(n_docs * wpd)
        u = (
            F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
            / 1_000_000.0
        )
        rank = F.floor(F.pow(F.lit(50_000.0), u)).cast("long")
        docs = (
            ids.select(
                (F.col("id") / wpd).cast("long").alias("doc_id"),
                F.translate(
                    rank.cast("string"), "0123456789", "abcdefghij"
                ).alias("word"),
            )
            .groupBy("doc_id")
            .agg(F.concat_ws(" ", F.collect_list("word")).alias("text"))
        )
        split = os.path.join(sf_tmp, "split")
        docs.repartitionByRange(n_batches, "doc_id").write.mode(
            "overwrite"
        ).parquet(split)

        # warm the JVM/codegen shapes the merge uses (tokenize + agg +
        # parquet write) so batch 0 prices the MERGE, not first-use
        # compilation — the same reason _timed's callers pre-warm inputs
        from tf_idf_mapreduce_spark.functions.tokenize import tokenize
        from tf_idf_mapreduce_spark.operators.tfidf import (
            doc_totals,
            word_count,
        )
        from tf_idf_mapreduce_spark.sources.io import documents_as_corpus

        warm_dir = os.path.join(sf_tmp, "warm")
        doc_totals(
            word_count(
                tokenize(
                    documents_as_corpus(
                        spark.read.parquet(split).limit(5000)
                    )
                )
            )
        ).write.mode("overwrite").parquet(warm_dir)
        spark.read.parquet(warm_dir).groupBy("word").agg(
            F.count("*")
        ).write.format("noop").mode("overwrite").save()

        times: dict[int, float] = {}
        inner = make_index_merge(root, compact_every=ce)

        def merge(batch_df, batch_id, _inner=inner, _times=times):
            t0 = time.time()
            _inner(batch_df, batch_id)
            _times[batch_id] = time.time() - t0

        schema = spark.read.parquet(split).schema
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(split)
        )
        q = (
            src.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert q.awaitTermination(1800)

        def compacting(b: int) -> bool:
            return b > 0 and b % ce == ce - 1

        flat = [times[b] for b in sorted(times) if not compacting(b)]
        spikes = [times[b] for b in sorted(times) if compacting(b)]
        segs = len([x for x in os.listdir(root) if x.startswith("seg_v")])
        mani = len(os.listdir(os.path.join(root, "manifest")))
        t_serve = _timed(read_merged_index(spark, root))
        committed = manifest_versions(root)
        assert max(committed) == n_batches - 1
        emit(
            f"| {n_docs:,} | {n_batches} | {ce} "
            f"| {sum(flat[:3]) / 3:.2f} | {sum(flat[-3:]) / 3:.2f} "
            f"| {max(spikes):.2f} | {sum(spikes) / n_batches:.2f} "
            f"| {segs} (<= {2 * ce}) | {mani} | {t_serve:.2f} |"
        )
    emit()
    emit(
        "Reading: the non-compacting merge is FLAT in stream length — "
        "the last-3 mean sits AT OR BELOW the first-3 mean (the "
        "residual gap is batches 0-2 paying session warm-up on their "
        "plan shapes; a growing cost curve would show the opposite "
        "sign) because each batch's work is its own slice's tokenize + "
        "a vocabulary-sized df full-outer merge against the parent's "
        "PARQUET (df/N lineage never deepens: the parent state is "
        "files, not plan). The "
        "compaction spike scales with the folded chain — bounded by "
        "compact_every — and amortized over the cycle it adds a "
        "sub-linear constant per batch; larger compact_every trades a "
        "rarer, taller spike for more live segments. State stays "
        "bounded as designed: segments on disk never exceed "
        "2*compact_every (live chain + one grace generation for "
        "in-flight readers), the manifest holds O(compact_every) files "
        "because entries below the newest base are pruned at each "
        "compaction, and the serving read scans <= compact_every "
        "segments + the current df/N whatever the stream length. The "
        "same shape holds at 100 TB feed rates: per-batch cost is "
        "|batch| + |vocab|, never |corpus|, and the only corpus-sized "
        "work is the bounded compaction fold."
    )
    emit()


def probe_sharded_federation(spark: SparkSession, quick: bool) -> None:
    """P17 (round 12): price the SHARDED index federation — the 100 TB
    deployment shape (one independent merge stream per corpus shard,
    scatter-gather serving). Claims under test:

    - **drain parallelism**: a shard's drain cost is proportional to
      ITS slice (corpus/S per shard) — S shards on S clusters drain in
      1/S the wall-clock of one stream; measured here as per-shard cost
      falling ~1/S at fixed corpus size.
    - **serve cost is flat in S**: federation adds only the per-word df
      sum (S vocabulary-sized tables through one hash agg) and S
      broadcast N scalars; the corpus-sized postings union is the same
      segments scan a single root serves. Serve time at S=8 should sit
      near the single-root serve, not 8x it.
    """
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
        read_sharded_index,
    )

    emit("## P17 — sharded index federation at probe scale")
    emit()
    emit(
        "| docs | shards | batches/shard | drain s/shard mean | drain s "
        "single-stream | serve s federated | serve s single-root | "
        "global df rows |"
    )
    emit("|---|---|---|---|---|---|---|---|")

    n_docs = 120_000 if quick else 600_000
    shard_counts = (2,) if quick else (2, 4, 8)
    batches_per_shard = 3

    wpd = 20
    ids = spark.range(n_docs * wpd)
    u = (
        F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
        / 1_000_000.0
    )
    rank = F.floor(F.pow(F.lit(50_000.0), u)).cast("long")
    docs = (
        ids.select(
            (F.col("id") / wpd).cast("long").alias("doc_id"),
            F.translate(
                rank.cast("string"), "0123456789", "abcdefghij"
            ).alias("word"),
        )
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("word")).alias("text"))
        .localCheckpoint()
    )

    # single-stream baseline: one root, batches_per_shard batches
    single_root = tempfile.mkdtemp(prefix="p17_single_")
    atexit.register(shutil.rmtree, single_root, ignore_errors=True)
    merge1 = make_index_merge(single_root)
    t0 = time.time()
    for b in range(batches_per_shard):
        merge1(
            docs.where(
                F.pmod(F.col("doc_id"), F.lit(batches_per_shard)) == b
            ),
            b,
        )
    drain_single = time.time() - t0
    serve_single = _timed(read_merged_index(spark, single_root))
    df_rows = spark.read.parquet(
        os.path.join(single_root, "df_v2")
    ).count()

    for s in shard_counts:
        roots = []
        shard_times = []
        for shard in range(s):
            root = tempfile.mkdtemp(prefix=f"p17_s{s}_{shard}_")
            atexit.register(shutil.rmtree, root, ignore_errors=True)
            roots.append(root)
            merge = make_index_merge(root)
            part = docs.where(F.pmod(F.col("doc_id"), F.lit(s)) == shard)
            t0 = time.time()
            for b in range(batches_per_shard):
                merge(
                    part.where(
                        F.pmod(
                            (F.col("doc_id") / s).cast("long"),
                            F.lit(batches_per_shard),
                        )
                        == b
                    ),
                    b,
                )
            shard_times.append(time.time() - t0)
        serve_fed = _timed(read_sharded_index(spark, roots))
        emit(
            f"| {n_docs:,} | {s} | {batches_per_shard} | "
            f"{sum(shard_times) / len(shard_times):.2f} | "
            f"{drain_single:.2f} | {serve_fed:.2f} | {serve_single:.2f} "
            f"| {df_rows:,} |"
        )
    emit()
    emit(
        "Reading: per-shard drain cost falls with S toward a per-batch "
        "floor (13.0 -> 7.9 -> 6.9s at S=2/4/8; the floor is the "
        "fixed per-batch merge overhead — vocab-sized df fold + "
        "commit — which dominates once a shard's slice is small), so "
        "S independent streams on S clusters drain the same corpus in "
        "~1/S the wall-clock until that floor, with ZERO cross-shard "
        "coordination (no shared commit path, no shared state; the "
        "probe runs shards sequentially and reports the per-shard "
        "mean). Federated serve is bounded by SEGMENT COUNT, not "
        "corpus: 1.5 -> 2.5 -> 2.2s vs 1.5s single-root — the "
        "federation-added work is the per-word df sum (S vocab-sized "
        "parquet reads through ONE hash agg, broadcast once to all "
        "per-segment joins — the unhinted plan re-executed that sum "
        "per segment at 4x serve cost until round 12 added the "
        "broadcast) plus S x batches per-segment join setup; the "
        "corpus-sized postings are scanned exactly once either way. "
        "At 100 TB this is the whole design: shard count scales the "
        "WRITE path linearly, and the READ path pays only "
        "O(S x vocab) + per-segment constants, never O(S x corpus); "
        "per-shard compaction keeps the segment count bounded."
    )
    emit()


def probe_takedown_overlay(spark: SparkSession, quick: bool) -> None:
    """P18 (round 12): price the tombstone-ledger takedown overlay —
    the right-to-be-forgotten read path. Claims under test:

    - the overlay's serve cost is driven by the LEDGER size (one
      broadcast + per-segment anti/semi joins + a vocab-sized df
      adjust), not the corpus: a request-sized ledger (10-1k docs)
      should serve within noise of the plain read.
    - the breakpoint: a corpus-scale ledger (10% of docs) prices where
      ledger-as-broadcast stops being the right tool and an offline
      segments+df/N rewrite starts (the docstring's documented split).
    """
    from tf_idf_mapreduce_spark.sources.index_root import add_tombstones
    from tf_idf_mapreduce_spark.streaming.queries import (
        make_index_merge,
        read_merged_index,
    )

    emit("## P18 — takedown overlay: serve cost vs ledger size")
    emit()
    emit(
        "| docs | ledger docs | serve s plain | serve s overlaid | "
        "overhead |"
    )
    emit("|---|---|---|---|---|")

    n_docs = 120_000 if quick else 600_000
    wpd = 20
    ids = spark.range(n_docs * wpd)
    u = (
        F.pmod(F.abs(F.xxhash64(F.col("id"), F.lit("w"))), F.lit(1_000_000))
        / 1_000_000.0
    )
    rank = F.floor(F.pow(F.lit(50_000.0), u)).cast("long")
    docs = (
        ids.select(
            (F.col("id") / wpd).cast("long").alias("doc_id"),
            F.translate(
                rank.cast("string"), "0123456789", "abcdefghij"
            ).alias("word"),
        )
        .groupBy("doc_id")
        .agg(F.concat_ws(" ", F.collect_list("word")).alias("text"))
        .localCheckpoint()
    )
    root = tempfile.mkdtemp(prefix="p18_root_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    merge = make_index_merge(root)
    for b in range(3):
        merge(docs.where(F.pmod(F.col("doc_id"), F.lit(3)) == b), b)
    # warm the serve shapes once so neither side pays first-use
    # compilation, then time plain ALONGSIDE each overlaid measurement
    # (a single pre-loop plain timing runs on a colder JVM than the
    # later overlaid ones and reads nonsensically slower)
    _timed(read_merged_index(spark, root, honor_tombstones=False))

    ledgers = (10, 1_000) if quick else (10, 1_000, n_docs // 10)
    done = 0
    for k in ledgers:
        # extend the ledger to k docs (hash-spread ids, deterministic)
        new = [str(d) for d in range(done, k)]
        add_tombstones(spark, root, new)
        done = k
        plain = _timed(read_merged_index(spark, root, honor_tombstones=False))
        overlaid = _timed(read_merged_index(spark, root))
        emit(
            f"| {n_docs:,} | {k:,} | {plain:.2f} | {overlaid:.2f} | "
            f"{overlaid / plain:.2f}x |"
        )
    emit()
    emit(
        "Reading: the overlay's overhead is FLAT IN LEDGER SIZE from "
        "10 docs to 10% of the corpus — a bounded constant factor "
        "(~0.9s here) of vocab-sized work (the adjusted df is rebuilt as "
        "the broadcast side of each per-segment join, plus an "
        "in-codegen anti-filter; the df/N adjustments themselves are "
        "driver-side dict folds over the resolutions STORED in the "
        "ledger entries at write time — the first content-derived "
        "implementation re-scanned every segment at serve time and "
        "cost 2.4-3.7x, caught by this probe's first run, then the "
        "un-hinted adjusted df fell to SMJ, ALSO caught here). At a "
        "corpus-scale ledger (10% of all docs) the literal filters "
        "give way to broadcast joins and entry parsing grows with the "
        "ledger, pricing exactly where the documented design split "
        "sits: ledgers are for takedown requests; bulk erasure belongs "
        "in an offline segments+df/N rewrite, not an ever-growing "
        "overlay."
    )
    emit()


def probe_commit_contention(spark: SparkSession, quick: bool) -> None:
    """P16 (round-11 verdict #4): PRICE the commit protocol's
    concurrency story instead of proving it once. The 2-promoter race
    test establishes the invariant; this probe runs 8-32 concurrent
    writers against one shared root on both fs branches and measures
    what contention actually costs:

    - **exactly-one-winner** at every N (the invariant, re-confirmed at
      scale): on the local branch O_EXCL arbitrates; on the file://
      (Hadoop LocalFileSystem) branch the round-12 content read-back
      arbitrates above a check-then-act create.
    - **wasted-stage rate**: losers stage a full version before losing
      the promote — thrown-away work. Measured for the worst case
      (simultaneous arrival) and the realistic case (load_or_fit_pdf's
      check-before-fit, arrivals staggered by the fit itself).
    - **heal latency**: how long a torn-marker _promote heal takes.
    - **manifest churn**: marker writes per contention round (the
      object-store PUT bill).
    """
    import threading
    import uuid as _uuid

    from tf_idf_mapreduce_spark.sources import fs
    from tf_idf_mapreduce_spark.sources.model_store import (
        CURRENT_MARKER,
        _promote,
        _read_current,
    )

    emit("## P16 — commit contention: N writers against one shared root")
    emit()
    emit(
        "| layer | branch | writers | claim-True | final=one-winner's "
        "| wasted stages | mean commit ms | max commit ms | marker "
        "writes |"
    )
    emit("|---|---|---|---|---|---|---|---|---|")

    ns = (8,) if quick else (8, 16, 32)

    # --- layer 1: the raw primitive, both branches -------------------
    for branch in ("local", "file://"):
        for n in ns:
            base = tempfile.mkdtemp(prefix="p16_prim_")
            atexit.register(shutil.rmtree, base, ignore_errors=True)
            path = (
                os.path.join(base, "marker")
                if branch == "local"
                else f"file://{base}/marker"
            )
            puts = [0]
            real_put = fs.put_text_exclusive

            def counted(p, t, s=None):
                puts[0] += 1
                return real_put(p, t, s)

            barrier = threading.Barrier(n)
            results: list[tuple[str, bool, float]] = []
            lock = threading.Lock()

            def attempt(i):
                text = f"writer-{i}-{_uuid.uuid4().hex}"
                barrier.wait()
                t0 = time.time()
                ok = counted(path, text, spark)
                dt = (time.time() - t0) * 1000
                with lock:
                    results.append((text, ok, dt))

            threads = [
                threading.Thread(target=attempt, args=(i,))
                for i in range(n)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            final = fs.read_text(path, spark)
            winners = [t for t, ok, _ in results if ok]
            losers = [t for t, ok, _ in results if not ok]
            assert len(winners) >= 1 and final in winners
            assert final not in losers  # a loser is NEVER the commit
            lat = [d for _, _, d in results]
            emit(
                f"| primitive | {branch} | {n} | {len(winners)} | "
                f"{'yes' if len(winners) == 1 else 'multi-claim'} | - | "
                f"{sum(lat) / len(lat):.2f} | {max(lat):.2f} | {puts[0]} |"
            )

    # --- layer 2: the real store _promote (stage + promote + loser
    # cleanup), local branch — the protocol the model store runs ------
    for n in ns:
        d = tempfile.mkdtemp(prefix="p16_store_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        marker_writes = [0]
        real_excl, real_atom = fs.put_text_exclusive, fs.put_text_atomic

        def count_excl(p, t, s=None):
            if p.endswith(CURRENT_MARKER):
                marker_writes[0] += 1
            return real_excl(p, t, s)

        def count_atom(p, t, s=None):
            if p.endswith(CURRENT_MARKER):
                marker_writes[0] += 1
            return real_atom(p, t, s)

        fs.put_text_exclusive = count_excl
        fs.put_text_atomic = count_atom
        try:
            barrier = threading.Barrier(n)
            outcome: list[tuple[str, str, float]] = []
            lock = threading.Lock()

            def promote_once(i):
                ver = f"data-{_uuid.uuid4().hex}.parquet"
                with open(os.path.join(d, ver), "w") as f:
                    f.write("x" * 1024)  # the staged version
                barrier.wait()
                t0 = time.time()
                win = _promote(d, ver)
                dt = (time.time() - t0) * 1000
                if win != ver:
                    os.remove(os.path.join(d, ver))  # loser cleanup
                with lock:
                    outcome.append((ver, win, dt))

            threads = [
                threading.Thread(target=promote_once, args=(i,))
                for i in range(n)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        finally:
            fs.put_text_exclusive = real_excl
            fs.put_text_atomic = real_atom
        cur = _read_current(d)
        assert cur is not None and os.path.exists(os.path.join(d, cur))
        wins = {w for _, w, _ in outcome}
        assert wins == {cur}  # every caller agreed on ONE winner
        survivors = [
            e for e in os.listdir(d) if e.startswith("data-")
        ]
        assert survivors == [cur]  # losers cleaned their stages
        wasted = sum(1 for v, w, _ in outcome if v != w)
        lat = [t for _, _, t in outcome]
        emit(
            f"| store _promote | local | {n} | 1 | yes | {wasted}/{n} | "
            f"{sum(lat) / len(lat):.2f} | {max(lat):.2f} | "
            f"{marker_writes[0]} |"
        )

    # --- heal latency: a torn marker (names a missing version) -------
    d = tempfile.mkdtemp(prefix="p16_heal_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    with open(os.path.join(d, CURRENT_MARKER), "w") as f:
        f.write("data-gone.parquet")
    ver = f"data-{_uuid.uuid4().hex}.parquet"
    with open(os.path.join(d, ver), "w") as f:
        f.write("x")
    t0 = time.time()
    win = _promote(d, ver)
    heal_ms = (time.time() - t0) * 1000
    assert win == ver and _read_current(d) == ver
    emit()
    emit(
        f"Torn-marker heal (_promote over a marker naming a missing "
        f"version): {heal_ms:.2f} ms — one read + one atomic overwrite, "
        f"no retry loop."
    )
    emit()
    emit(
        "Reading: exactly-one-winner held at every N on both branches — "
        "O_EXCL on the local branch, and on file:// (Hadoop "
        "LocalFileSystem, a CHECK-THEN-ACT create) the round-12 "
        "read-back arbitration: every racer claims, exactly one "
        "observes its own bytes committed, and a loser's content is "
        "never the final marker. Commit latency on the local branch is "
        "sub-25ms at every N; the file:// branch grows with N only "
        "through py4j gateway queueing (~0.17s per serialized JVM "
        "round-trip), not filesystem contention — either way promote "
        "cost at 1000 executors is bounded by the STAGING work, not "
        "the commit. "
        "Wasted stages at simultaneous arrival are (N-1)/N by design — "
        "the realistic ceiling is far lower because load_or_fit_pdf "
        "checks the live marker BEFORE fitting, so only writers whose "
        "fits overlap can collide; the price of a collision is one "
        "redundant fit, never a wrong read. Marker churn is O(N) "
        "exclusive-create attempts but exactly ONE durable write on "
        "the winner path (plus one atomic heal per torn marker) — at "
        "an object store this is N cheap failed conditional PUTs + 1 "
        "real PUT per contention round."
    )
    emit()


PROBES = {
    "p1": probe_doc_freq,
    "p2": probe_lsh_buckets,
    "p3": probe_prefix_sum,
    "p4": probe_grid_gd,
    "p5": probe_cms,
    "p6": probe_incremental_index,
    "p7": probe_bpe_vocab,
    "p8": probe_m4,
    "p9": probe_screen_reuse,
    "p10": probe_skyline,
    "p11": probe_tfidf_flagship,
    "p12": probe_store_amortization,
    "p13": probe_bucketed_fold_skew,
    "p14": probe_promoted_chain,
    "p15": probe_stream_merge,
    "p16": probe_commit_contention,
    "p17": probe_sharded_federation,
    "p18": probe_takedown_overlay,
}


def main() -> int:
    quick = "--quick" in sys.argv
    # --only pN: run ONE section in this process and append its markdown
    # to SCALE_PROBE.md (header written by --only p1). Sections share a
    # JVM only within themselves: a full in-one-JVM run accumulates
    # 20-50M-row localCheckpoint blocks and GC/page pressure that was
    # measured to distort LATER sections by 3-6x (two full runs showed
    # P5/P8 outliers that vanish in fresh-JVM runs), so the supported
    # full-probe invocation is scripts/scale_probe_all.sh — one process
    # per section.
    only = None
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = a.split("=", 1)[1]
    # the probe materializes 20-50M-row relations via localCheckpoint —
    # far past the 1g default driver heap (local mode: driver IS the
    # executor). Must be set before the JVM launches, hence here and not
    # in ENGINE_CONF (a cluster sizes executors, not the driver).
    spark = get_spark(
        app_name="scale-probe", extra_conf={"spark.driver.memory": "48g"}
    )
    spark.sparkContext.setLogLevel("ERROR")
    if only is None or only == "p1":
        emit("# SCALE_PROBE — measured 100 TB design-claim evidence")
        emit()
        emit(
            f"Probe scale: up to 50M rows / 100k docs on local[32] "
            f"(sf0.1 fixture is ~600k lineitem rows / 5k docs). "
            f"Deterministic hash-derived inputs; best-of-2 steady-state "
            f"noop-sink timings{' (QUICK mode)' if quick else ''}; "
            f"one fresh JVM per section."
        )
        emit()
    for key, fn in PROBES.items():
        if only is None or only == key:
            fn(spark, quick)
    md = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_PROBE.md",
    )
    mode = "w" if (only is None or only == "p1") else "a"
    with open(md, mode) as f:
        f.write("\n".join(LINES) + "\n")
    print(f"wrote {md} ({mode})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
