"""The four reference MR jobs as composable DataFrame transforms.

Reference pipeline (TfidfMapReduce.java:63-97): WordCount → CountTF →
CalcTFIDF → SortByValue, each materialized to HDFS between jobs. Here each
stage is a lazy transform, and ``tfidf_core`` composes them over ONE
tokenization of the corpus. The executed (final AQE) plan of the scored
relation, pinned by ``tests/test_plans.py``, is:

- one scan of the corpus text, tokenized once;
- a hash exchange on (word, doc) for the word count, with map-side
  partial aggregation the reference never configured (no combiner in
  WordCount.java:149-159);
- a hash exchange on doc for the doc-totals window, which the df branch
  reuses (a ``ReusedExchange``) rather than re-tokenizing;
- a hash exchange on word for the df aggregate, broadcast back;
- the 1-row N subplan: a scan of the doc column only, counted distinct
  and broadcast.

A global sort adds a range-partitioned exchange. No disk round-trips.
Every TF-IDF head derives from the same core (``corpus_core`` memoizes
its plans per corpus), so each head's plan tokenizes once too.

Scale notes (100 TB posture):
- A2/A3 use unbounded partition windows, not agg+join: one exchange each,
  and Spark's window operator spills — unlike the reference reducers that
  buffer whole groups in an in-memory List/HashMap (CountTF.java:92-99,
  CalcTFIDF.java:111-120), an OOM at scale.
- The global sort is range-partitioned with sampling (orderBy), not the
  reference's single reducer (SortByValue.java:111-126, default 1 reduce).
- ``total_docs`` enters the plan as a broadcast 1-row aggregate, mirroring
  the reference's Configuration broadcast (CalcTFIDF.java:150,105) without
  a driver-side collect.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.tokenize import tokenize


def word_count(words: DataFrame) -> DataFrame:
    """Job 1 (A1): occurrences per (word, doc).

    Reference: map to ``word|filename → 1`` then reduce-sum
    (WordCount.java:97,125-138). Catalyst plans partial+final HashAggregate
    automatically — the map-side combine the reference lacks.
    Schema: (word, doc, count).
    """
    return words.groupBy("word", "doc").agg(F.count("*").alias("count"))


def doc_totals(wc: DataFrame) -> DataFrame:
    """Job 2 (A2): annotate each row with its document's total word count.

    Reference: reducer buffers all of a doc's rows in a List, sums, re-emits
    (CountTF.java:87-109). Spark-first: an unbounded window sum — one
    exchange on doc, spillable, no OOM hazard.
    Schema: + doc_total.
    """
    w = Window.partitionBy("doc")
    return wc.withColumn("doc_total", F.sum("count").over(w))


def doc_freq(wtc: DataFrame) -> DataFrame:
    """Job 3a (A3): document frequency — distinct docs containing each word.

    Reference: reducer collects the per-word posting list into a HashMap and
    counts it (CalcTFIDF.java:111-123). Input rows are already distinct per
    (word, doc) (Job 1's group-by), so counting rows per word is exact.

    Skew posture: two-phase aggregate + equi-join, NOT a partition window.
    ``count(*) over (partition by word)`` puts every posting of a word in
    ONE window task — a stopword at 100 TB is billions of rows on a single
    core. The aggregate gets map-side partial combine (skew neutralized
    before the shuffle), and AQE's skew-join splitting handles the probe
    side of the join back.
    Schema: + df.
    """
    counts = wtc.groupBy("word").agg(F.count("*").alias("df"))
    return wtc.join(counts, "word")


DOC_FREQ_SALTS = 8


def doc_freq_salted(wtc: DataFrame, n_salts: int = DOC_FREQ_SALTS) -> DataFrame:
    """A3 with an EXPLICIT two-stage salt — the 100 TB stopword posture
    when you don't want to lean on AQE's runtime skew handling.

    ``doc_freq``'s agg is already partial-combined, but the join back on
    ``word`` still routes every posting of the hottest term through ONE
    join task. Here both sides carry a composite (word, salt) key: the
    probe side salts each row by ``hash(doc) % n_salts`` (deterministic,
    no rand()) and the counts side replicates each word's df across all
    salts, so a stopword's postings spread over ``n_salts`` join tasks.
    Counting sums per (word, salt) partials first — stage 2's shuffle
    carries ≤ n_salts rows per word regardless of skew.

    Exactly ``doc_freq``'s rows — salting a sum and replicating a
    broadcast-shaped dimension never changes the relation.
    """
    salt = F.pmod(F.abs(F.hash("doc")), F.lit(n_salts))
    salted = wtc.withColumn("_salt", salt)
    partial = salted.groupBy("word", "_salt").agg(F.count("*").alias("_pc"))
    counts = partial.groupBy("word").agg(F.sum("_pc").alias("df"))
    rep = counts.select(
        "word",
        "df",
        F.explode(F.array(*[F.lit(i) for i in range(n_salts)])).alias("_salt"),
    )
    cols = [*wtc.columns, "df"]
    return salted.join(rep, ["word", "_salt"]).select(*cols)


def tfidf(with_df: DataFrame, total_docs: Column) -> DataFrame:
    """Job 3b (M1-M3): tf = count/doc_total; idf = ln(total_docs/df).

    Natural log, double math, and idf=0 rows (word in every doc) are kept —
    all per CalcTFIDF.java:124-132. ``F.log`` is ln, matching ``Math.log``.
    Schema: (word, doc, count, doc_total, df, tf, idf, tfidf).
    """
    return (
        with_df.withColumn("tf", F.col("count") / F.col("doc_total"))
        .withColumn("idf", F.log(total_docs.cast("double") / F.col("df")))
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
    )


def tfidf_sorted(scored: DataFrame) -> DataFrame:
    """Job 4 (O2-O3): global descending sort by score.

    Reference: swap-to-key + inverted comparator + single reducer
    (SortByValue.java:42-69,111-126); within equal scores the order is
    arrival order — nondeterministic. Spark-first: range-partitioned
    sampling sort that scales past one node, with (word, doc) as an explicit
    deterministic tiebreak (our addition, SURVEY.md §6).
    """
    return scored.orderBy(F.desc("tfidf"), F.asc("word"), F.asc("doc"))


class TfidfCore(NamedTuple):
    """The four relations of one corpus that every TF-IDF head derives
    from — the reference's jobs 1-3 (TfidfMapReduce.java:63-84), each a
    lazy plan over the SAME tokenization."""

    word_count: DataFrame  # (word, doc, count)
    doc_totals: DataFrame  # + doc_total
    doc_freq: DataFrame  # + df
    scored: DataFrame  # + tf, idf, tfidf


def tfidf_core(
    corpus: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc",
    total_docs: int | None = None,
) -> TfidfCore:
    """Build the TF-IDF core of a corpus: tokenize once, then word count
    → doc totals → df → scored, each stage derived from the one before.

    A head must derive every branch from these relations so that its
    executed plan scans and tokenizes the corpus ONCE: AQE reuses an
    exchange only when the subtree below it is identical, so each branch
    has to keep the columns that hold that subtree together (see the df
    aggregate below, and ``query_terms``).

    ``total_docs`` defaults to ``countDistinct(doc_col)`` so the IDF
    denominator is the number of DOCUMENTS regardless of corpus shape —
    one-row-per-doc or one-row-per-LINE (``read_text_corpus``) both give
    the document count, matching TfidfMapReduce.java:51. Caveat: a doc
    contributing zero rows (an empty file) is invisible to any
    DataFrame-side count; to replicate the reference's directory-entry
    semantics (empty files still raise the denominator) pass an explicit
    ``total_docs`` (the per-stage CLI parity, CalcTFIDF.java:174-183 —
    our CLI passes the directory-entry count).
    """
    wc = word_count(tokenize(corpus, text_col=text_col, doc_col=doc_col))
    wtc = doc_totals(wc)
    # ``doc_freq`` with count(doc_total) for count(*): the same number
    # HERE, where doc_total is a window sum over a doc's non-null counts
    # and so never NULL. Counting the window column keeps the window in
    # the df branch, so both join sides share the doc-keyed exchange and
    # AQE reuses it; count(*) lets Catalyst prune that branch down to a
    # distinct (word, doc) that tokenizes the corpus a second time.
    with_df = wtc.join(
        wtc.groupBy("word").agg(F.count("doc_total").alias("df")), "word"
    )
    if total_docs is None:
        n = corpus.agg(F.countDistinct(F.col(doc_col)).alias("total_docs"))
        scored = tfidf(
            with_df.crossJoin(F.broadcast(n)), F.col("total_docs")
        ).drop("total_docs")
    else:
        scored = tfidf(with_df, F.lit(total_docs))
    return TfidfCore(wc, wtc, with_df, scored)


def tfidf_pipeline(
    corpus: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc",
    total_docs: int | None = None,
) -> DataFrame:
    """The full 4-job chain as one lazy plan: corpus → scored (word, doc,
    ...) — the ``scored`` relation of ``tfidf_core``."""
    return tfidf_core(corpus, text_col, doc_col, total_docs).scored


def corpus_core(spark, sf_dir: str) -> TfidfCore:
    """The TF-IDF core of the fixture ``documents`` table, built once per
    (application, ``sf_dir``, documents fingerprint) in the package memo
    (``sources.io.memo``). Every call returns fresh DataFrames over
    the memoized plans, so no two callers share a QueryExecution or its
    shuffle files — no rows are kept, each execution reads parquet and
    runs all of its stages."""
    from ..sources.io import (
        documents_as_corpus,
        load_table,
        memo,
        table_fingerprint,
    )

    core = memo(
        spark,
        sf_dir,
        "tfidf_core",
        table_fingerprint(sf_dir, "documents"),
        lambda: tfidf_core(
            documents_as_corpus(load_table(spark, sf_dir, "documents"))
        ),
    )
    return TfidfCore._make(part.select("*") for part in core)


#: Size of the self-contained search query: the corpus's most frequent words.
QUERY_TERMS = 5


def query_terms(wc: DataFrame) -> DataFrame:
    """The search query of ``tfidf_search``, ``tfidf_bm25`` and
    ``tfidf_query_expansion``: the corpus's ``QUERY_TERMS`` most frequent
    words (total count desc, word asc — deterministic). ``wc`` is any
    relation with one (word, count) row per posting. Over a core, pass
    its ``word_count``: this branch then reuses the word-count exchange,
    where a scored relation drags its df join into the branch and
    re-tokenizes the corpus."""
    return (
        wc.groupBy("word")
        .agg(F.sum("count").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(QUERY_TERMS)
        .select("word")
    )


def incremental_index(spark, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE: fold a new document batch into an existing
    TF-IDF index without re-tokenizing the corpus — the daily-arrival
    twin of ``dedup.incremental_dedup`` (same deterministic ~10% batch
    slice, ``curation.hash_sample``'s bucket rule).

    What an index update actually touches: per-doc stats (count,
    doc_total) are LOCAL to each doc — the existing postings rows are
    reused verbatim. Only the corpus-global stats move: df (additive:
    df_new = df_old + df_batch, a full-outer word join of two word-count
    tables) and N (scalar add). The idf re-multiply is then a map-only
    pass over postings. At 100 TB the old side's (postings, df, N) is
    the PERSISTED index — the daily cost is tokenizing the ~0.1% batch
    plus one word-keyed outer join against a df table of vocabulary
    size, instead of re-scanning the corpus. This variant builds both
    sides in-plan — the topology pin, deliberately store-free so the
    fold itself stays pinned even with durability disabled;
    ``incremental_index_persisted`` (round 9) is the production shape
    whose old side IS the loaded index.

    Must reproduce the one-shot ``tfidf_full`` EXACTLY (its oracle is
    the one-shot SQL): same (word, doc, count, doc_total, df) rows, same
    ln-idf double math, idf=0 rows kept (CalcTFIDF.java:124-132 parity).
    """
    from ..sources.io import documents_as_corpus, load_table
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    docs = load_table(spark, sf_dir, "documents")
    is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX
    old = fold(None, lambda: documents_as_corpus(docs.where(~is_batch)))
    return score(
        fold(old, lambda: documents_as_corpus(docs.where(is_batch)), arrival)
    )


#: The index's two store families, in fold order: postings (word,
#: doc, count, doc_total) and per-word document frequency (word, dfx).
INDEX_FAMILIES = ("tfidf_index_postings", "tfidf_index_df")
POSTINGS, DF = INDEX_FAMILIES
#: The third part, the document count, is a number: in the store the
#: ``_N`` file inside its df version's dir (Spark skips ``_`` files),
#: in a streamed root the ``"n"`` of its manifest entry.
N = "_N"


class IndexState(NamedTuple):
    """A TF-IDF index as additive state, the reference's job-3 inputs
    (CalcTFIDF.java:105,150): postings segments, each document in
    exactly one; df per word; and N. Scoring is a pure function of it
    (``score``), so any number of ``fold``s may run before one score."""

    segments: list  # of (word, doc, count, doc_total)
    df: DataFrame  # (word, dfx)
    n: int


def in_plan(part: str, build):
    """``fold``'s ``put`` for an index kept in the plan: nothing is
    written."""
    return build()


def arrival(part: str, build):
    """``fold``'s ``put`` for an ARRIVAL slice kept in the plan: its
    postings are checkpointed BEFORE df derives from them
    (arrival-sized, safe to materialize at any scale; an old side may be
    the whole corpus, so it folds with ``in_plan``). Without the barrier
    the serving join's branches re-execute the arrival tokenize once
    each — P13's derived-subplan lesson applied to the fold; measured
    0.89 -> 0.47 s warm at sf0.1."""
    rel = build()
    return rel.localCheckpoint() if part == POSTINGS else rel


def _store_put(spark, origins: list, *keys: tuple):
    """``fold``'s ``put`` for the model store: postings and df are
    word-bucketed tables (``_index_table``) under their key of ``keys``
    (postings, df order), N is the ``_N`` file of the live df version
    (``_version_n``), and each origin is appended to ``origins``."""
    key_of = dict(zip(INDEX_FAMILIES, keys))

    def put(part: str, build):
        if part == N:
            rel, origin = _version_n(spark, key_of[DF], build)
        else:
            rel, origin = _index_table(part, key_of[part], spark, build)
        origins.append(origin)
        return rel

    return put


def _version_n(spark, df_key: tuple, build) -> tuple:
    """``(N, origin)`` from the ``_N`` file inside the live version dir
    of the df table under ``df_key``. N lives in that version and goes
    with it, so it can never be paired with another version's df. A
    missing or torn (unparseable) file is computed and committed with
    ``fs.commit_text`` (first writer wins, a torn one healed by
    overwrite); a disabled or read-only store serves the computed int."""
    from ..sources import fs
    from ..sources.model_store import live_table_dir

    ver = live_table_dir(DF, df_key, spark)
    if ver is None:
        return build(), "fit"
    path = fs.join(ver, N)
    text = fs.read_text(path, spark)
    if text and text.strip().isdigit():
        return int(text), "store"
    n = build()
    try:
        n = int(
            fs.commit_text(path, str(n), lambda t: t.strip().isdigit(), spark)
        )
    except OSError:
        return n, "fit"
    return n, "store"


def fold(state, corpus, put=in_plan) -> IndexState:
    """Fold one corpus slice into index ``state`` — the one update rule
    behind every index path (in-plan, model store, streamed root).

    The slice is tokenized once into postings; its df derives from the
    postings ``put`` hands back (one scan of what was just written, the
    tokenize never re-evaluated per consumer); its N is counted from the
    CORPUS, because a zero-word document has no postings but still
    raises the IDF denominator (the reference's directory-entry
    semantics, TfidfMapReduce.java:51) with one aggregate ``first()``
    and added on the driver. df adds per word (a full-outer merge of
    two vocabulary-sized tables — one row per word per side, so it
    cannot skew). Both adds are associative, so consecutive folds equal
    one fold of the union. ``state`` is an ``IndexState`` or any
    (segments, df, N) triple with N an int; None is the empty index,
    whose fold is the slice's own state.

    ``corpus`` is a zero-argument function returning the slice's corpus
    (doc, text): only the builds ``put`` runs call it, so a slice whose
    tables a store already holds is never even planned.

    ``put(part, build)`` decides how each part (``POSTINGS``, ``DF``,
    ``N``, in that order) is materialized from its ``build`` — lazy
    DataFrames for the first two, an int for N: ``in_plan``,
    ``arrival``, ``_store_put`` (the model store) or a streamed index
    root's writer (``streaming.queries.make_index_merge``, committing
    through ``sources.index_root``)."""
    segments, old_df, old_n = state or ([], None, 0)
    postings = put(POSTINGS, lambda: doc_totals(word_count(tokenize(corpus()))))

    def add_df():
        new = postings.groupBy("word").agg(F.count("*").alias("dfx"))
        if old_df is None:
            return new
        return (
            old_df.withColumnRenamed("dfx", "df_old")
            .join(new.withColumnRenamed("dfx", "df_new"), "word", "full_outer")
            .select(
                "word",
                (
                    F.coalesce("df_old", F.lit(0)) + F.coalesce("df_new", F.lit(0))
                ).alias("dfx"),
            )
        )

    def add_n():
        return old_n + corpus().agg(F.countDistinct("doc")).first()[0]

    return IndexState([*segments, postings], put(DF, add_df), put(N, add_n))


def score(state) -> DataFrame:
    """Score an index state (``IndexState`` or any (segments, df, N)
    triple, N an int bound as a long literal): join each postings
    segment with df separately, THEN union —
    the join distributes over the union (identical rows), and
    per-segment joins let every word-bucketed segment meet the bucketed
    df with zero exchange, where a union-then-join would discard the
    children's bucketing (Spark's union reports unknown output
    partitioning) and reshuffle the whole corpus. Same ln-idf double
    math as the one-shot pipeline, idf=0 rows kept, tfidf on the 6 dp
    grid."""
    from functools import reduce

    segments, dfx, n = state
    df = dfx.withColumnRenamed("dfx", "df")
    parts = [seg.join(df, "word") for seg in segments]
    scored = tfidf(
        reduce(lambda a, b: a.unionByName(b), parts), F.lit(n).cast("long")
    )
    return scored.select(
        "word", "doc", "count", "doc_total", "df",
        F.round("tfidf", 6).alias("tfidf"),
    )


def score_index(segments, dfx, n) -> DataFrame:
    """``score`` with the state passed as its three parts."""
    return score((segments, dfx, n))


def _index_store_key(spark, sf_dir: str) -> tuple:
    """The persisted index's store key. It reads the session's shuffle
    width, and that one read also sets the layout: every index table is
    bucketed into exactly that many word buckets (``_index_table`` takes
    the count back out of the key, so a table can never be registered
    under one width and keyed under another). An entry point builds the
    key once and hands it down — ``streaming.runner`` flips the same
    conf around drains, and a second read could see another value. A
    session at another width keys (and fits) its own index."""
    from ..sources.io import plan_confs, table_fingerprint
    from .curation import SAMPLE_BUCKET_MAX

    # uniform durable-key discipline (round-9 ADVICE): every store key
    # carries the AQE conf even where content is AQE-invariant
    width, aqe = plan_confs(spark)
    return (
        "tfidf_index",
        sf_dir,
        table_fingerprint(sf_dir, "documents"),
        SAMPLE_BUCKET_MAX,  # the batch-slice rule is part of what "old corpus" means
        int(width),  # key[4]
        aqe,
    )


def _index_table(name: str, key: tuple, spark, compute):
    """``load_or_compute_bucketed_table`` for an index table: bucketed on
    ``word`` into as many buckets as the shuffle width ``key`` (or the
    base key it extends) was built with."""
    from ..sources.model_store import load_or_compute_bucketed_table

    return load_or_compute_bucketed_table(
        name, key, spark, compute, "word", key[4]
    )


def persisted_index(spark, sf_dir: str, key: tuple | None = None):
    """The TF-IDF index ITSELF as two durable store tables — postings
    (word, doc, count, doc_total) and df (word, dfx), both word-bucketed
    parquet, with the document count N in the df version's ``_N`` file
    — fit once over the old corpus (the ~90% non-batch slice) and
    LOADED by every later fold.
    This closes the round-8 gap: ``incremental_index`` re-tokenized the
    whole old corpus in-plan every run; here the daily cost is tokenizing
    the arrival slice plus one word-keyed merge against a vocabulary-
    sized df table, exactly the shape the docstring promised at 100 TB.

    Layout matters as much as persistence: both relations are written
    ``bucketBy(<shuffle width>, word)`` and re-registered as external
    bucketed catalog tables on load, so the fold's two word-keyed joins
    read the corpus-sized postings WITHOUT shuffling it — only the
    arrival slice and the df-merge output move. df derives from the
    persisted postings (one bucketed scan, shuffle-free group-by); N
    comes from the corpus because zero-word docs carry no postings but
    still count (reference directory-entry semantics,
    TfidfMapReduce.java:51).

    Skew & serving rule (measured, SCALE_PROBE P13): word skew is a
    non-issue for this layout — the df MERGE cannot skew (one row per
    word per side), the postings-side per-word share is structurally
    capped at ~1/(distinct words per doc) (13-22% measured even at
    Zipf s=2, where the same distribution gives ~50% TOKEN share), and
    the residual hot-bucket imbalance tops out barely above the hot
    word; the ``doc_freq_salted`` treatment does NOT apply — salting
    would force the reshuffle this layout exists to avoid. What DOES
    matter is materialization: score against the PERSISTED df table
    (broadcast a small parquet read per segment branch — what
    ``promoted_index`` writes per version). Broadcasting a DERIVED
    df-merge re-executes its whole subplan once per segment branch
    (Catalyst reuses the exchange only in the no-AQE SMJ shape) —
    measured slowest of all four regimes at probe scale.

    The bucket count is the session's shuffle width, read once into the
    store key (``_index_store_key``); an entry point that already built
    the key passes it as ``key``, so key and bucket spec agree.

    The index is the fold of the old corpus into the empty state, with
    every part stored under ``key``. Returns ``(segments, df, n,
    origin)`` — one segment, the postings; n an int. Origin "store"
    means all three parts are served from durable store files — which, per
    the table loaders' contract, includes the very first build (the
    write path reads its own parquet back, so every consumer in every
    session sees literally the same files); "fit" appears only when
    durability degraded (store disabled/read-only/unreadable)."""
    from ..sources.io import documents_as_corpus, load_table
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    key = key or _index_store_key(spark, sf_dir)

    def old_corpus():
        docs = load_table(spark, sf_dir, "documents")
        return documents_as_corpus(
            docs.where(~(_sample_bucket() <= SAMPLE_BUCKET_MAX))
        )

    origins: list = []
    state = fold(None, old_corpus, _store_put(spark, origins, key, key))
    return (*state, "store" if set(origins) == {"store"} else "fit")


def incremental_index_persisted(spark, sf_dir: str) -> DataFrame:
    """``incremental_index`` in its PRODUCTION shape: the old side is the
    persisted index (``persisted_index`` — word-bucketed store tables),
    so the fold never re-tokenizes the old corpus. Same batch slice,
    same additive merge, and the result must hash-match the one-shot
    ``tfidf_full`` oracle exactly — the persistence is invisible in the
    relation, visible only in the plan (old-side documents scans: 0 when
    warm) and the runtime."""
    from ..sources.io import documents_as_corpus, load_table
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    old = persisted_index(spark, sf_dir)[:3]
    docs = load_table(spark, sf_dir, "documents")
    batch = documents_as_corpus(
        docs.where(_sample_bucket() <= SAMPLE_BUCKET_MAX)
    )
    return score(fold(old, lambda: batch, arrival))


def incremental_chain_index(spark, sf_dir: str) -> DataFrame:
    """TWO consecutive daily folds against the persisted index — the
    associativity proof a production index-maintenance loop rests on:
    ((index ⊕ day1) ⊕ day2) must equal the one-shot build over
    everything, bit for bit. The batch slice splits into two "days" by
    the hash character AFTER the sampling bucket's (same deterministic
    md5 preimage, so the split replays in SQL); each day is one
    ``fold``, and only the final state is scored. Hash-matches the
    one-shot ``tfidf_full`` oracle — if the df merge or the scalar-N
    add were not associative (e.g. a max-merge, a recomputed N), day
    ordering would leak into idf and the hash would break.

    At 100 TB each fold's cost is its day's tokenize + a
    vocabulary-sized df merge (P6/P12-priced); the chain shows the
    update rule composes across days without index rebuilds in
    between."""
    from ..sources.io import documents_as_corpus, load_table
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    state = persisted_index(spark, sf_dir)[:3]
    docs = load_table(spark, sf_dir, "documents")
    is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX
    day_char = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.coalesce(F.col("text"), F.lit("")),
            )
        ),
        3,
        1,
    )
    for day in (day_char < "8", day_char >= "8"):
        state = fold(
            state,
            lambda day=day: documents_as_corpus(docs.where(is_batch & day)),
            arrival,
        )
    # score joins the merged df under each of its three segment joins.
    # Broadcast it once, with the tokenizer's non-empty-word constraint
    # stated on it: the day segments carry that constraint and the
    # stored base does not, so without it Catalyst infers a different
    # filter under each join and re-plans both merges per distinct
    # filter — two full-outer joins run twice
    df = F.broadcast(state.df.where(F.col("word") != ""))
    return score(state._replace(df=df))


#: Days in the promoted chain — the batch slice splits into this many
#: deterministic "daily" arrivals (md5-char range rule below).
CHAIN_DAYS = 3


def _chain_day_pred(day: int, n_days: int = CHAIN_DAYS) -> Column:
    """Deterministic day-of-arrival for a batch doc: the hex digit AFTER
    the sampling bucket's (position 3 of the same md5 preimage — so the
    split is content-derived, replayable, and independent of the bucket
    rule) mapped to ``n_days`` contiguous ranges. ``day`` is 1-based."""
    c = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("doc_id").cast("string"),
                    F.coalesce(F.col("text"), F.lit("")),
                )
            ),
            3,
            1,
        ),
        16,
        10,
    ).cast("int")
    lo = (16 * (day - 1)) // n_days
    hi = (16 * day) // n_days
    return (c >= lo) & (c < hi)


def promoted_index(
    spark, sf_dir: str, upto_day: int, n_days: int = CHAIN_DAYS,
    key: tuple | None = None,
):
    """The index lifecycle loop the round-9 verdict asked for: each daily
    fold's merged state is PROMOTED back into the store as a NEW index
    version, so day k reads day k-1's parquet instead of re-executing
    every prior merge in lineage (``incremental_chain_index`` keeps day-1
    state as a nested subplan — an N-day chain there grows linearly).

    Each day is one ``fold`` whose ``put`` is the store writer
    (``_store_put``). The streamed index runs the same fold per
    micro-batch with plain parquet under its root as ``put``
    (``streaming.queries.make_index_merge``, its manifest protocol in
    ``sources.index_root``), and both serve through ``score``: two
    layouts, each with its own commit record, over one fold and one
    commit step (``sources.fs.commit_text``).

    Version layout (all under the same two store families, so version
    keys age out via ``models prune`` like any stale artifact):

    - **postings** are APPEND-ONLY SEGMENTS: the base table (v0, the old
      corpus) plus one word-bucketed segment per promoted day. Promoting
      day k writes ONLY the day's slice — never rewrites the corpus-sized
      base (a full merged-postings rewrite per day would be a daily
      100 TB shuffle+write; the segment append is the LSM-style shape
      real indexes use, with ``compact_index`` as the merge verb). The
      scoring join distributes over the union, so each bucketed segment
      still joins df shuffle-free.
    - **df** is rewritten per version (vocabulary-sized — the additive
      full-outer merge of v_{k-1}'s df table with the day segment's
      word counts; both sides word-bucketed store tables, so the merge
      plans zero exchanges).
    - **N** is a number per version, the ``_N`` file inside its df
      version's dir (scalar add; day count comes from the CORPUS slice
      so zero-word docs still raise it — directory-entry semantics,
      TfidfMapReduce.java:51).

    Promotion is atomic per table (the store's stage + O_EXCL
    ``_CURRENT``-manifest protocol — no directory renames, object-store
    safe); a crash between the writes leaves a partial version whose
    missing parts the next run recomputes deterministically from
    v_{k-1} — never a torn read, never a wrong answer; N lives inside
    its df version, so a df refit always recounts its N. Mirrors the
    reference's own job-chain materialization (TfidfMapReduce.java:63-84)
    promoted from HDFS temp dirs to versioned bucketed tables.

    Returns ``(segments, df, n, origin)`` — postings segment list
    (base first), the version-``upto_day`` df relation and N, and
    origin "store" iff every artifact is served from durable store
    files (true from the first build on; "fit" only under degraded
    durability — see ``persisted_index``; ``key`` as there)."""
    from ..sources.io import documents_as_corpus, load_table
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    key = key or _index_store_key(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX

    # resolve the newest COMPACTED version at or below upto_day: after
    # `models compact`, the merged segment (plus its derived df/N)
    # replaces base + day segments, whose dirs may be pruned
    start, state, origins = 0, None, []
    for c in range(upto_day, 0, -1):
        state = _load_compacted(spark, key, c, n_days, docs, is_batch, origins)
        if state is not None:
            start = c
            break
    if state is None:
        *state, origin = persisted_index(spark, sf_dir, key)
        origins.append(origin)
    for k in range(start + 1, upto_day + 1):
        state = fold(
            state,
            lambda k=k: documents_as_corpus(
                docs.where(is_batch & _chain_day_pred(k, n_days))
            ),
            _store_put(spark, origins, *_day_keys(key, n_days, k)),
        )
    return (*state, "store" if set(origins) == {"store"} else "fit")


def _day_keys(key: tuple, n_days: int, k: int):
    """Store keys of day ``k``'s promoted (postings, df)."""
    return key + ("chain", n_days, "day", k), key + ("chain", n_days, "df", k)


def _compact_keys(key: tuple, c: int, n_days: int):
    return (
        key + ("chain", n_days, "compact", c),
        key + ("chain", n_days, "compact_df", c),
    )


def _load_compacted(
    spark, key: tuple, c: int, n_days: int, docs, is_batch, origins: list
):
    """Version ``c``'s compacted index state if the compacted postings
    artifact exists, else None. The compacted segment IS all postings
    through day c, so the state is the fold of the corpus admitted
    through day c into the empty state, under the compaction keys: the
    postings load from that segment, and df/N are DERIVED like any
    fold's if they were lost — df a shuffle-free group-by of
    the bucketed postings, N a count over the admitted corpus (zero-word
    docs carry no postings but still count — directory-entry
    semantics). Load origins go to ``origins``."""
    from ..sources.io import documents_as_corpus
    from ..sources.model_store import live_table_dir

    keys = _compact_keys(key, c, n_days)
    if live_table_dir(POSTINGS, keys[0], spark) is None:
        return None
    upto_pred = is_batch
    if c < n_days:
        day_ors = _chain_day_pred(1, n_days)
        for k in range(2, c + 1):
            day_ors = day_ors | _chain_day_pred(k, n_days)
        upto_pred = is_batch & day_ors
    admitted = docs.where((~is_batch) | upto_pred)
    return fold(
        None,
        lambda: documents_as_corpus(admitted),
        _store_put(spark, origins, *keys),
    )


def compact_index(
    spark, sf_dir: str, upto_day: int = CHAIN_DAYS,
    n_days: int = CHAIN_DAYS, prune: bool = False,
) -> dict:
    """The LSM-style merge verb for the promoted chain (round-9 verdict
    #7): rewrite the current version's postings segments (base + one per
    promoted day, each carrying its own small files) into ONE clean
    word-bucketed table, persist the derived df/N beside it, and —
    optionally — prune the per-day CHAIN artifacts the compacted state
    supersedes (the shared base-key tables are kept: sibling queries
    serve from them outside the chain — see the prune block below).
    After compaction an N-day chain's serving plan scans ONE
    postings table regardless of N, and the store's file count stays
    flat instead of accreting a segment per day. The compacted relation
    is provably identical: postings union is row-disjoint (each doc
    lives in exactly one segment), df/N re-derive from it exactly
    (``test_compacted_chain_*``).

    Returns a summary dict (files/segments before and after). Exposed as
    ``models compact`` in the CLI."""
    from ..sources import fs
    from ..sources.io import load_table
    from ..sources.model_store import model_dir
    from .curation import SAMPLE_BUCKET_MAX, _sample_bucket

    key = _index_store_key(spark, sf_dir)
    segments, dfx, n, _origin = promoted_index(
        spark, sf_dir, upto_day, n_days, key
    )
    n_files_before = _index_file_count(spark, key)

    def union_all():
        from functools import reduce

        return reduce(lambda a, b: a.unionByName(b), segments)

    _index_table(POSTINGS, _compact_keys(key, upto_day, n_days)[0], spark, union_all)
    docs = load_table(spark, sf_dir, "documents")
    is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX
    _load_compacted(spark, key, upto_day, n_days, docs, is_batch, [])

    pruned = 0
    if prune:
        # ancestors the compacted state supersedes: every per-day
        # segment/df/N at or below the compaction point. The BASE-key
        # tables are NOT victims (ADVICE r10): they are not chain
        # artifacts — persisted_index consumers (tfidf_incremental_
        # persisted, the e2e queries) serve from them directly, and
        # pruning them would silently push those siblings into a
        # corpus-sized rebuild on their next cold run. The base ages
        # out via `models prune` like any other artifact if its
        # consumers really are gone.
        victims = []
        for k in range(1, upto_day + 1):
            victims += zip(INDEX_FAMILIES, _day_keys(key, n_days, k))
        for fam, vkey in victims:
            d = model_dir(fam, vkey, spark)
            if d and fs.exists(d, spark):
                fs.delete_recursive(d, spark)
                pruned += 1
    return {
        "compacted_through_day": upto_day,
        "segments_before": len(segments),
        "files_before": n_files_before,
        "files_after": _index_file_count(spark, key),
        "ancestors_pruned": pruned,
    }


def _index_file_count(spark, key: tuple) -> int:
    """Data-file count across the index families (bucket files
    only, not markers) — the flat-after-compaction pin's metric."""
    from ..sources import fs
    from ..sources.model_store import store_files, store_root

    root = store_root(spark)
    if root is None:
        return 0
    return sum(
        name.endswith(".parquet")
        for fam in INDEX_FAMILIES
        for name, _mtime, _size in store_files(fs.join(root, fam), spark)
    )


def incremental_chain_persisted(spark, sf_dir: str) -> DataFrame:
    """``incremental_chain_index`` in its PRODUCTION shape (round-9
    verdict #1): three consecutive daily folds, each PROMOTED back into
    the store as a new index version before the next folds against it —
    so the plan depth per day is constant (day k reads v_{k-1}'s
    parquet; nothing re-executes prior merges) and the fully-warm chain
    reads ONLY index tables (zero documents scans, pinned). Must still
    hash-match the one-shot ``tfidf_full`` oracle: promotion is an
    execution strategy, invisible in the relation."""
    return score(promoted_index(spark, sf_dir, CHAIN_DAYS)[:3])


def incremental_e2e_promoted(
    spark, sf_dir: str, persist_screens: bool | None = None
) -> DataFrame:
    """The production DAY as one closed verb: admission screens → fold
    of the ADMITTED slice → PROMOTE the merged state into the store as
    an e2e index version → serve from parquet. Where
    ``incremental_e2e_index`` scores the fold in lineage (the screens
    and the merge re-plan every run), here day zero writes the admitted
    segment + merged df + N once, and every later run — tomorrow's
    dashboards, every downstream consumer — reads ONLY index tables:
    zero documents scans, zero screen-table scans (plan-pinned). The
    promote key folds every constant the admission depends on (dup
    thresholds, MinHash shape, contamination/PII/quality rules) plus
    both data fingerprints, so a policy edit refits rather than serving
    a stale admission. Hash-equal to the ``tfidf_incremental_e2e``
    oracle — promotion is invisible in the relation."""
    from ..functions.hashing import MINHASH_B, MINHASH_R
    from ..sources.io import documents_as_corpus, load_table, table_fingerprint
    from .curation import (
        CONTAM_BENCH_MOD,
        CONTAM_NGRAM,
        PII_PATTERNS,
        SAMPLE_BUCKET_MAX,
        _sample_bucket,
        incremental_manifest,
        resolve_persist_screens,
    )
    from .dedup import INCREMENTAL_EST_JACCARD, MINHASH_K, NEARDUP_MIN_COSINE
    from .textstats import QUALITY_KEEP_MAX_PUNCT, QUALITY_KEEP_MIN_WORDS

    persist_screens = resolve_persist_screens(spark, sf_dir, persist_screens)
    base_key = _index_store_key(spark, sf_dir)
    base = persisted_index(spark, sf_dir, base_key)[:3]
    key = base_key + (
        "e2e",
        table_fingerprint(sf_dir, "embeddings"),
        MINHASH_K,
        MINHASH_R,
        MINHASH_B,
        INCREMENTAL_EST_JACCARD,
        NEARDUP_MIN_COSINE,
        CONTAM_NGRAM,
        CONTAM_BENCH_MOD,
        tuple(sorted(PII_PATTERNS.items())),
        QUALITY_KEEP_MIN_WORDS,
        QUALITY_KEEP_MAX_PUNCT,
    )

    def day_corpus():
        # COLD path only: once the segment/df/N are promoted, no run
        # ever re-evaluates the manifest (the screens' own durable
        # tables make the second call here cheap on day zero too)
        docs = load_table(spark, sf_dir, "documents")
        admitted = (
            incremental_manifest(spark, sf_dir, persist_screens=persist_screens)
            .where(F.col("status") == "admitted")
            .select("doc_id")
            .localCheckpoint()
        )
        return documents_as_corpus(
            docs.where(_sample_bucket() <= SAMPLE_BUCKET_MAX).join(
                F.broadcast(admitted), "doc_id"
            )
        )

    put = _store_put(spark, [], key + ("day",), key + ("df",))
    return score(fold(base, day_corpus, put))


def incremental_e2e_index(
    spark, sf_dir: str, persist_screens: bool | None = None
) -> DataFrame:
    """The day's index update END TO END: the arriving batch passes the
    ADMISSION manifest first (``curation.incremental_manifest`` — both
    dup screens, contamination, PII, quality), and only ``admitted``
    docs fold into the index via the same ``fold`` as
    ``incremental_index``. This is the composed incremental story: a
    crawl day costs one screen pass + one admitted-slice tokenize + the
    word-keyed df merge — the rejected docs never touch the index.

    The oracle rebuilds the index ONE-SHOT over (corpus + admitted batch
    docs) by replaying the manifest in SQL and filtering the token CTE's
    source — so the screen-then-merge composition must equal a from-
    scratch build over exactly the surviving documents.

    The admitted doc-id set carries an UNCONDITIONAL ``localCheckpoint``
    (batch-sized, one column): the merge's word-count / df / total-docs
    branches each re-evaluate the batch side, and without the barrier
    the ENTIRE admission manifest (every screen's corpus scan) re-ran
    per branch — the round-6 plan audit counted 74 documents scans; the
    barrier alone cuts the plan to 6 scans and measured 6.9 s → 1.8 s
    at sf0.1 (round 8).

    ``persist_screens``: additionally barrier the manifest's screen
    relations as durable parquet tables; ``None`` (default) resolves
    the POLICY via ``curation.resolve_persist_screens`` (explicit flag
    > conf > persist — the durable tables measured faster than the
    lazy composition even locally, P9 round-8; plan bounds pinned by
    ``tests/test_plans.py``).
    """
    from ..sources.io import documents_as_corpus, load_table
    from .curation import (
        SAMPLE_BUCKET_MAX,
        _sample_bucket,
        incremental_manifest,
        resolve_persist_screens,
    )

    persist_screens = resolve_persist_screens(spark, sf_dir, persist_screens)
    docs = load_table(spark, sf_dir, "documents")
    is_batch = _sample_bucket() <= SAMPLE_BUCKET_MAX
    admitted = (
        incremental_manifest(spark, sf_dir, persist_screens=persist_screens)
        .where(F.col("status") == "admitted")
        .select("doc_id")
        # UNCONDITIONAL barrier, batch-sized single column: the merge's
        # three branches each re-evaluate the batch side, and without
        # this the whole admission manifest (every screen) re-runs per
        # branch — measured 6.9 s lazy vs 1.8 s with only this barrier
        # at sf0.1 (round 8; the round-7 "lazy wins" number compared
        # screen-level checkpoints, not this one). A one-column slice
        # of the day's arrivals is safe to materialize at any scale.
        .localCheckpoint()
    )
    batch_admitted = docs.where(is_batch).join(F.broadcast(admitted), "doc_id")
    # round 9: the old side is the PERSISTED index — the composed daily
    # update now costs one screen pass + the admitted-slice tokenize +
    # the word-keyed merge, with the old corpus never re-read (store
    # disabled → persisted_index degrades to the same in-plan build as
    # before)
    old = persisted_index(spark, sf_dir)[:3]
    return score(fold(old, lambda: documents_as_corpus(batch_admitted), arrival))
