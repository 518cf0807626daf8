"""Text-analysis operators over ``documents`` — language ID, quality
scoring, token counting, fingerprinting. All pure Column expressions
(JVM regex + md5); deterministic integer/ratio outputs.

These are the per-document map-only passes of a training-data pipeline:
no shuffles at all except the optional corpus-level aggregations — at
100 TB they run at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.grid import r6
from ..functions.hashing import norm_words
from ..sources.io import load_table

#: Tiny per-language function-word lexicons for the n-gram-free heuristic
#: language ID. Deliberately small and public-knowledge (closed-class
#: words); real pipelines plug in fastText-style models via the same shape.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "es": ("el", "la", "los", "las", "es", "y", "que", "en", "un", "una"),
    "fr": ("le", "la", "les", "et", "est", "que", "dans", "un", "une", "pour"),
}

#: BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

STOPWORDS_EN = LANG_LEXICONS["en"]


def _hits(words: Column, lexicon: tuple[str, ...]) -> Column:
    return F.size(F.filter(words, lambda w: w.isin(*lexicon))).cast("long")


def pred_lang_from_hits(hits: dict[str, Column]) -> Column:
    """The lang-id DECISION as one expression over already-computed hit
    columns — argmax with lexicographic tiebreak, 'und' when no lexicon
    hits. The single definition shared by ``lang_id`` and the fused
    ``curation.features_table`` scan, so the two can never disagree;
    callers materialize the hits once (a column or struct field) so each
    lexicon filter evaluates once, not once per comparison."""
    # argmax via greatest + first-match-wins over sorted codes
    best = F.greatest(*hits.values())
    pred = F.coalesce(
        *[F.when(hits[c] == best, F.lit(c)) for c in sorted(LANG_LEXICONS)]
    )
    return F.when(best > 0, pred).otherwise(F.lit("und"))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: function-word hits per language, argmax with
    lexicographic tiebreak. Emits the per-language evidence columns so the
    decision is auditable (and oracle-checkable)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", norm_words(F.col("text")).alias("words")
    )
    scored = d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        *[
            _hits(F.col("words"), lex).alias(f"hits_{code}")
            for code, lex in LANG_LEXICONS.items()
        ],
    )
    return scored.select(
        "doc_id",
        "labeled_lang",
        *[f"hits_{c}" for c in LANG_LEXICONS],
        pred_lang_from_hits(
            {c: F.col(f"hits_{c}") for c in LANG_LEXICONS}
        ).alias("pred_lang"),
    )


#: Composite keep/drop rule thresholds (C4-style): minimum word count
#: and maximum punctuation ratio. Named (not inline) so durable screen
#: tables can fold them into their store keys — a threshold change must
#: mint a NEW key hash, never silently reuse a stale screen verdict.
QUALITY_KEEP_MIN_WORDS = 10
QUALITY_KEEP_MAX_PUNCT = 0.3


def quality_exprs(text: Column, words: Column) -> dict[str, Column]:
    """The per-doc quality signals as a named column-expression bundle —
    ONE definition shared by ``quality_scores`` and the fused
    ``curation.features_table`` scan. Ratios are exact int/int divisions
    — engine-portable."""
    n_chars = F.length(text).cast("long")
    n_words = F.size(words).cast("long")
    n_punct = (
        F.length(text) - F.length(F.regexp_replace(text, r"\p{P}", ""))
    ).cast("long")
    n_stop = _hits(words, STOPWORDS_EN)
    mean_word_len = F.when(
        n_words > 0,
        F.aggregate(words, F.lit(0).cast("long"), lambda a, w: a + F.length(w))
        / n_words,
    ).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "n_punct": n_punct,
        "n_stopwords": n_stop,
        "mean_word_len": mean_word_len,
        "punct_ratio": F.when(n_chars > 0, n_punct / n_chars).otherwise(
            F.lit(0.0)
        ),
        "stopword_ratio": F.when(n_words > 0, n_stop / n_words).otherwise(
            F.lit(0.0)
        ),
        "keep": (
            (n_words >= QUALITY_KEEP_MIN_WORDS)
            & F.when(
                n_chars > 0, n_punct / n_chars < QUALITY_KEEP_MAX_PUNCT
            ).otherwise(F.lit(False))
        ),
    }


def quality_weight(words: Column) -> Column:
    """Smoothed stopword-density weight in (0, 1]: ``(n_stop+1)/(n_words+1)``.

    A cheap fluency proxy (C4-style: English prose has high stopword
    density; keyword-spam and boilerplate don't) used as the per-doc
    scaling factor in quality-weighted retrieval
    (``similarity.mips_topk``). Exact rational of two integers, so the
    double it divides to is bit-identical across engines — safe to use
    unrounded inside comparisons."""
    n_words = F.size(words).cast("long")
    n_stop = _hits(words, STOPWORDS_EN)
    return (n_stop + F.lit(1)) / (n_words + F.lit(1))


def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc quality signals: token counts, length stats, punctuation and
    stopword ratios, plus a composite keep/drop flag (the C4-style filter
    shape). Expressions live in ``quality_exprs`` (shared single
    definition)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", norm_words(F.col("text")).alias("words")
    )
    q = quality_exprs(F.col("text"), F.col("words"))
    return d.select(
        "doc_id", *[q[k].alias(k) for k in (
            "n_chars", "n_words", "n_punct", "n_stopwords", "mean_word_len",
            "punct_ratio", "stopword_ratio", "keep",
        )]
    )


def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token accounting: whitespace words vs BPE-ish pre-tokens (letter
    runs / digit runs / punctuation singles) — the cost model for
    training-data budgeting."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(norm_words(F.col("text"))).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: md5 of the whitespace-normalized text (exact
    content identity modulo spacing) + first-64-bit prefix as int for
    compact storage/joins."""
    d = load_table(spark, sf_dir, "documents")
    normalized = F.concat_ws(" ", norm_words(F.col("text")))
    fp = F.md5(normalized)
    return d.select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 15), 16, 10).cast("long").alias("fingerprint60"),
    )


def bigram_stats(spark: SparkSession, sf_dir: str, k: int = 50) -> DataFrame:
    """Corpus bigram language-model stats: the top-k bigrams by frequency
    with conditional probability P(w2 | w1) = c(w1 w2) / c(w1), where
    c(w1) is w1's corpus unigram count.

    Bigrams come from the codegen shingle builder (n=2); the unigram side
    is a standard word count broadcast into the division (vocabulary ≪
    corpus). Deterministic ties: count desc, bigram asc.
    """
    from ..functions.hashing import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    bg = (
        shingle_rows(d, ["doc_id"], n=2)
        .where(F.instr("shingle", " ") > 0)  # single-word docs yield no bigram
        .groupBy(F.col("shingle").alias("bigram"))
        .agg(F.count("*").alias("n_bigram"))
    )
    uni = (
        d.select(F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w1"))
    )
    w1 = F.substring_index("bigram", " ", 1)
    return (
        bg.withColumn("w1", w1)
        .join(F.broadcast(uni), F.col("w1") == F.col("w"))
        .select(
            "bigram",
            "n_bigram",
            "n_w1",
            F.round(F.col("n_bigram") / F.col("n_w1"), 6).alias("p_cond"),
        )
        .orderBy(F.desc("n_bigram"), F.asc("bigram"))
        .limit(k)
    )


#: Histogram bucket width (chars) for ``length_histogram``.
LENGTH_BUCKET = 256


def length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in fixed 256-char buckets — the
    shape-of-the-corpus profile every curation run starts with (truncation
    spikes, boilerplate shoulders, empty-doc mass all show up here).

    A single map-side-combinable aggregate on a derived low-cardinality
    key: the only exchange carries one row per bucket per task. No UDF,
    no second pass — at 100 TB this is scan-bound, exactly as cheap as a
    count(*).
    """
    docs = load_table(spark, sf_dir, "documents")
    ln = F.length("text")
    return (
        docs.groupBy(
            F.floor(ln / LENGTH_BUCKET).cast("bigint").alias("bucket")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.min(ln).cast("bigint").alias("min_len"),
            F.max(ln).cast("bigint").alias("max_len"),
        )
        .orderBy("bucket")
    )


ZIPF_MIN_FREQ = 5


def zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: the log-log OLS slope of
    word frequency against frequency rank (natural text ≈ -1; a heavily
    templated or synthetic corpus drifts far off it) — a one-number
    distribution-shape check for corpus QA.

    Ranks are computed WITHOUT a global window (a global row_number puts
    the whole vocabulary in one task): the frequency histogram (distinct
    count values — hundreds of rows at any corpus size) gets a cumulative
    offset, broadcast back onto the vocabulary, and row_number only runs
    per frequency bucket — rank(w) = offset(freq) + position among that
    frequency's words. The regression itself is one mergeable aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= ZIPF_MIN_FREQ)
    )
    hist = vocab.groupBy("n").agg(F.count("*").alias("n_words"))
    # words with strictly higher frequency rank ahead of this bucket
    cum = hist.select(
        "n",
        (
            F.sum("n_words").over(
                Window.orderBy(F.desc("n")).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
        ).alias("offset"),
    ).fillna(0, subset=["offset"])
    ranked = vocab.join(F.broadcast(cum), "n").select(
        "n",
        (
            F.col("offset")
            + F.row_number().over(
                Window.partitionBy("n").orderBy(F.asc("w"))
            )
        ).alias("rank"),
    )
    return ranked.agg(
        F.count("*").alias("n_vocab"),
        F.round(F.regr_slope(F.log("n"), F.log("rank")), 6).alias("zipf_slope"),
        F.round(
            F.regr_intercept(F.log("n"), F.log("rank")), 6
        ).alias("zipf_intercept"),
        F.round(F.regr_r2(F.log("n"), F.log("rank")), 6).alias("zipf_r2"),
    )


def lm_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: each document's mean bigram surprisal
    ``-ln P(w2|w1)`` under the corpus's own bigram LM — the classic
    cheap-perplexity filter (high score = improbable word sequences =
    boilerplate, OCR noise, or spam; near-zero = templated repetition).

    One pass builds the LM (bigram + unigram counts — vocabulary-sized,
    far smaller than the corpus), a bigram-keyed join scores every doc
    occurrence, and a per-doc aggregate averages. Per-bigram surprisals
    round @6dp BEFORE the DECIMAL sum so both engines add identical
    values in any order. At 100 TB both the LM build and the scoring join
    shuffle on the bigram key — high-cardinality, skew handled by AQE;
    nothing driver-side.
    """
    from ..functions.hashing import shingle_rows

    d = load_table(spark, sf_dir, "documents")
    bg = (
        shingle_rows(d, ["doc_id"], n=2)
        .where(F.instr("shingle", " ") > 0)
        .select("doc_id", F.col("shingle").alias("bigram"))
    )
    lm_bg = bg.groupBy("bigram").agg(F.count("*").alias("n_bigram"))
    uni = (
        d.select(F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w1"))
    )
    lm = (
        lm_bg.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(uni, F.col("w1") == F.col("w"))
        .select(
            "bigram",
            F.round(
                -F.log(F.col("n_bigram") / F.col("n_w1")), 6
            ).alias("neg_logp"),
        )
    )
    # floor(x*1e6 + 0.5)/1e6, not round(x, 6): the exact-decimal sum
    # divided by an integer count lands on EXACT .5 ties at 6dp, where
    # Spark (HALF_UP on shortest repr) and DuckDB (binary value) disagree
    # — the floor formula is the same IEEE op sequence in both engines
    # (one sf0.1 row diverged under round())
    mean6 = r6(
        F.sum(F.col("neg_logp").cast("decimal(38,6)")).cast("double")
        / F.count("*")
    )
    return (
        bg.join(lm, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            mean6.alias("lm_score"),
        )
    )


def flesch_expr(text: Column) -> Column:
    """The Flesch reading-ease estimate as ONE column expression (6dp
    grid; NULL for zero-word docs) — single definition shared by
    ``readability`` and the fused ``curation.features_table`` scan."""
    words = F.size(norm_words(text)).cast("double")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(text, F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("double")
    syllables = F.size(
        F.regexp_extract_all(F.lower(text), F.lit("[aeiouy]+"), 0)
    ).cast("double")
    score = (
        F.lit(206.835)
        - F.lit(1.015) * (words / sentences)
        - F.lit(84.6) * (syllables / words)
    )
    return F.when(
        words > 0, r6(score)
    )


def readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Flesch reading-ease estimate — the classic readability
    quality signal (a pre-training filter axis orthogonal to length,
    repetition and stopword ratios): 206.835 − 1.015·(words/sentences)
    − 84.6·(syllables/words). Syllables are approximated as vowel-letter
    groups (the standard cheap estimator); sentences as terminal-
    punctuation runs, floored at 1. Map-only — three regex counts per
    row inside codegen, no shuffle; zero-word docs emit NULL score.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.size(norm_words(F.col("text"))).cast("double")
    sentences = F.greatest(
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), 0)),
        F.lit(1),
    ).cast("double")
    syllables = F.size(
        F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)
    ).cast("double")
    return d.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
        syllables.cast("long").alias("n_syllables"),
        flesch_expr(F.col("text")).alias("flesch"),
    )


NOVELTY_NGRAM = 5


def novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization/duplication-risk scan: the fraction of each doc's
    distinct 5-grams that also occur in ANY other document. A high
    shared fraction marks boilerplate or near-copies a dedup pass
    missed; a novelty of 1.0 means every n-gram is unique to the doc.

    Never pairwise: the (doc, n-gram) relation joins the per-n-gram
    document-frequency rollup of ITSELF — one shuffle on the n-gram
    hash (partial-combined) + one join, same cost class as tf-idf's
    document frequency (A3), not contamination's doc x doc expansion.
    """
    from ..functions.hashing import shingle_rows
    from ..sources.io import load_table

    d = load_table(spark, sf_dir, "documents")
    grams = (
        shingle_rows(d, ["doc_id"], n=NOVELTY_NGRAM)
        .select("doc_id", F.md5("shingle").alias("h"))
        .distinct()
    )
    df_counts = grams.groupBy("h").agg(F.count("*").alias("n_docs_with"))
    return (
        grams.join(df_counts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_shared",
            r6(
                (F.col("n_grams") - F.col("n_shared")) / F.col("n_grams")
            ).alias("novelty"),
        )
    )


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24  # 8-token overlap between consecutive chunks


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the embedding/RAG prep pass
    that turns each document into model-sized pieces (CHUNK_TOKENS-token
    windows every CHUNK_STRIDE tokens, so consecutive chunks share the
    overlap that keeps boundary context retrievable).

    Entirely JVM codegen: one tokenize, a ``sequence`` of window starts,
    ``slice`` per window, ``explode`` — no Python in the loop, and the
    shuffle (if a consumer repartitions) carries chunks, never repeated
    full documents. A doc shorter than one window yields exactly one
    (possibly short) chunk; an empty doc one empty chunk — so every
    document appears in the output (the invariant a downstream
    embed-join relies on).
    """
    d = load_table(spark, sf_dir, "documents")
    words = norm_words(F.col("text"))
    n = F.size(words)
    last = F.greatest(
        F.ceil((n - F.lit(CHUNK_TOKENS)) / F.lit(float(CHUNK_STRIDE))),
        F.lit(0),
    ).cast("int")
    chunk = F.slice(
        F.col("_words"), F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS
    )
    return (
        d.select(
            "doc_id",
            words.alias("_words"),
            F.explode(F.sequence(F.lit(0), last)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.size(chunk).cast("long").alias("n_tokens"),
            F.array_join(chunk, " ").alias("chunk_text"),
        )
    )


BOILERPLATE_TOP_K = 50


def boilerplate_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-chunk (boilerplate) detection: token-window chunks that
    recur across the corpus — headers, footers, license blocks, templated
    paragraphs — ranked by occurrence count. The pass that feeds
    sub-document dedup (drop the chunk, keep the doc), which whole-doc
    near-dup misses when unique content surrounds shared boilerplate.

    One shuffle keyed on the chunk digest (md5, fixed 32 bytes — the
    chunk text itself never shuffles twice: min() carries one exemplar);
    the global top-k is a TakeOrderedAndProject, never a full sort.
    """
    ch = chunk_documents(spark, sf_dir).where(F.col("n_tokens") > 0)
    return (
        ch.groupBy(F.md5("chunk_text").alias("chunk_hash"))
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("chunk_text").alias("exemplar"),
        )
        .where(F.col("n_occurrences") > 1)
        .orderBy(F.desc("n_occurrences"), F.asc("chunk_hash"))
        .limit(BOILERPLATE_TOP_K)
    )


CLEAN_TILE_TOKENS = 32  # non-overlapping tiles — removal is unambiguous
CLEAN_MIN_DOCS = 2  # a tile recurring in >= this many docs is boilerplate


def clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup that CLEANS, not just detects: the rewritten
    corpus with cross-document repeated spans (boilerplate headers /
    footers / license blocks / templated paragraphs) removed — the
    Lee-et-al-style exact-substring-dedup output stage a training
    pipeline feeds to the tokenizer, downstream of the detection pass
    ``boilerplate_chunks`` reports on.

    Removal rule (deterministic, oracle-replayable): documents tile into
    NON-overlapping CLEAN_TILE_TOKENS-token windows over the RAW
    whitespace tokens (case preserved — surviving text keeps its
    original bytes up to whitespace collapse); a tile whose
    case-insensitive content hash recurs in >= CLEAN_MIN_DOCS distinct
    documents is boilerplate: every occurrence EXCEPT the first — the
    lexicographically-least (doc_id, tile_idx) — is dropped, so each
    repeated span survives exactly once corpus-wide (the keep-one
    variant of Lee et al.'s ExactSubstr; removing all copies would
    delete content no document retains). Detection deliberately uses
    the same lowercase-join hashing as ``boilerplate_chunks``; the
    non-overlapping stride (vs the detector's overlapping windows) is
    what makes removal well-defined — overlapping matches would leave
    "remove half a window" ambiguity. A document with NO removed tile
    passes through byte-for-byte (the original ``text`` column, not a
    token-rejoined copy).

    Plan shape: one corpus scan explodes to tiles (JVM ``sequence`` /
    ``slice``, no Python); the repeated-key relation is one (hash)
    aggregate; the verdict join is hash-keyed and the rebuild is one
    doc_id-keyed aggregate using ``collect_list`` of (tile_idx, tokens)
    structs — null-skipping, so removed tiles never re-shuffle their
    text. At 100 TB: tiles shuffle once keyed by 32-byte digests, the
    rebuild shuffle carries only surviving token arrays, and the final
    documents join is doc-keyed (sort-merge, both sides already large).
    """
    from ..functions.hashing import _WS

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = F.filter(F.split(F.col("text"), _WS), lambda w: w != "")
    n = F.size(F.col("_words"))
    last = F.greatest(
        F.ceil((n - F.lit(CLEAN_TILE_TOKENS)) / F.lit(float(CLEAN_TILE_TOKENS))),
        F.lit(0),
    ).cast("int")
    keyed = (
        d.select("doc_id", raw.alias("_words"))
        .select(
            "doc_id",
            "_words",
            F.explode(F.sequence(F.lit(0), last)).alias("tile_idx"),
        )
        .select(
            "doc_id",
            F.col("tile_idx").cast("long").alias("tile_idx"),
            F.slice(
                "_words", F.col("tile_idx") * CLEAN_TILE_TOKENS + 1, CLEAN_TILE_TOKENS
            ).alias("tw"),
        )
        .select(
            "doc_id",
            "tile_idx",
            "tw",
            F.size("tw").cast("long").alias("nt"),
            F.md5(F.lower(F.array_join("tw", " "))).alias("k"),
        )
    )
    rep = (
        keyed.where(F.col("nt") > 0)
        .groupBy("k")
        .agg(
            F.countDistinct("doc_id").alias("nd"),
            # struct min = lexicographic (doc_id, tile_idx) — the one
            # occurrence of a repeated span that survives
            F.min(F.struct("doc_id", "tile_idx")).alias("first_occ"),
        )
        .where(F.col("nd") >= CLEAN_MIN_DOCS)
        .select("k", "first_occ")
    )
    flagged = keyed.join(rep, "k", "left").select(
        "doc_id",
        "tile_idx",
        "tw",
        "nt",
        (
            F.col("first_occ").isNotNull()
            & (F.col("nt") > 0)
            & ~(
                (F.col("doc_id") == F.col("first_occ.doc_id"))
                & (F.col("tile_idx") == F.col("first_occ.tile_idx"))
            )
        ).alias("rm"),
    )
    kept_struct = F.when(~F.col("rm"), F.struct("tile_idx", "tw"))
    agg = flagged.groupBy("doc_id").agg(
        F.sum("nt").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_tiles"),
        F.sum(F.col("rm").cast("int")).cast("long").alias("n_tiles_removed"),
        F.sum(F.when(F.col("rm"), F.col("nt")).otherwise(0))
        .cast("long")
        .alias("n_tokens_removed"),
        F.array_join(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)), lambda s: s.tw
                )
            ),
            " ",
        ).alias("_rebuilt"),
    )
    return agg.join(d, "doc_id").select(
        "doc_id",
        "n_tokens",
        "n_tiles",
        "n_tiles_removed",
        "n_tokens_removed",
        F.when(F.col("n_tiles_removed") == 0, F.col("text"))
        .otherwise(F.col("_rebuilt"))
        .alias("cleaned_text"),
    )


BPE_PAIR_TOP_K = 50


def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training, as a relation:
    count every ADJACENT pre-token pair across the corpus and rank the
    merge candidates — the step a tokenizer-training pipeline repeats
    (count, merge, re-count); one iteration is the engine-shaped unit,
    and the ranked table doubles as a collocation report.

    Pre-tokens are the engine's BPE-ish regex (letter runs / digit
    runs / single punctuation — the ``shard_pack`` token convention).
    One corpus scan explodes each doc's token array into adjacent
    (left, right) structs via ``transform`` over an index sequence
    (JVM codegen, no Python); ONE (left, right) shuffle with map-side
    partial aggregation; the top-k plans as TakeOrderedAndProject. At
    100 TB this is scan + one exchange keyed on bounded-width token
    pairs.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
    idx = F.sequence(F.lit(1), F.greatest(F.size("_t") - 1, F.lit(0)))
    pairs = (
        d.select(toks.alias("_t"))
        .where(F.size("_t") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("_t", i).alias("tok_left"),
                        F.element_at("_t", i + F.lit(1)).alias("tok_right"),
                    ),
                )
            ).alias("p")
        )
    )
    return (
        pairs.groupBy(
            F.col("p.tok_left").alias("tok_left"),
            F.col("p.tok_right").alias("tok_right"),
        )
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("tok_left"), F.asc("tok_right"))
        .limit(BPE_PAIR_TOP_K)
    )


BPE_MERGE_TOP = 10


def bpe_merge_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price the top-``BPE_MERGE_TOP`` merge candidates: for each, the
    NAIVE adjacent-pair count vs the number of merges a left-to-right
    greedy non-overlapping application would actually perform (= tokens
    actually saved). The two differ exactly on self-pairs (a,a) inside
    runs — "aaa" counts two (a,a) pairs but supports one merge — which
    is why a tokenizer trainer applies merges greedily instead of
    trusting raw pair counts; this report is that correction, per
    candidate, computed independently per pair (the gain of applying
    only that merge to the current token stream).

    Shape: one corpus scan explodes positioned pairs (JVM ``transform``
    over an index sequence), a broadcast semi-join keeps only candidate
    pairs (10 rows), then gaps-and-islands per (doc, pair) — consecutive
    match positions form an island; greedy yields floor((k+1)/2) merges
    per k-length island. The window partitions by (doc, pair) — bounded
    partitions, no corpus-wide ordering — and the final aggregate is 10
    rows. At 100 TB: scan + ONE bounded exchange on (doc, pair).
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
    idx = F.sequence(F.lit(1), F.greatest(F.size("_t") - 1, F.lit(0)))
    pairs = (
        d.select("doc_id", toks.alias("_t"))
        .where(F.size("_t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        i.cast("long").alias("pos"),
                        F.element_at("_t", i).alias("tok_left"),
                        F.element_at("_t", i + F.lit(1)).alias("tok_right"),
                    ),
                )
            ).alias("p"),
        )
        .select("doc_id", "p.pos", "p.tok_left", "p.tok_right")
    )
    top = bpe_pair_counts(spark, sf_dir).limit(BPE_MERGE_TOP).select(
        "tok_left", "tok_right"
    )
    matched = pairs.join(F.broadcast(top), ["tok_left", "tok_right"])
    w = Window.partitionBy("doc_id", "tok_left", "tok_right").orderBy("pos")
    islands = matched.withColumn(
        "grp", F.col("pos") - F.row_number().over(w)
    )
    runs = islands.groupBy("doc_id", "tok_left", "tok_right", "grp").agg(
        F.count("*").alias("k")
    )
    return (
        runs.groupBy("tok_left", "tok_right")
        .agg(
            F.sum("k").cast("long").alias("n_adjacent"),
            F.sum(F.floor((F.col("k") + 1) / 2)).cast("long").alias("n_merges"),
        )
        .orderBy(F.desc("n_adjacent"), F.asc("tok_left"), F.asc("tok_right"))
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training — the full iterative merge learner
# ---------------------------------------------------------------------------

#: Number of merge rounds the trainer query runs. Small on purpose: each
#: round is one distributed pass over the VOCAB (not the corpus), and the
#: oracle replays every round as an unrolled CTE — 8 rounds keeps the SQL
#: readable while still exercising second-order merges (a learned symbol
#: becoming one side of a later pair, e.g. 'p'+'ar' after 'a'+'r').
BPE_TRAIN_MERGES = 8


def _bpe_apply_chain_udf(merge_rules: list[tuple[str, str, str]]):
    """Apply BPE merge rules in order to symbol arrays, each rule as a
    greedy left-to-right non-overlapping scan (merge at i consumes i+1;
    a freshly merged symbol never re-merges as a left side within its
    round, since ``merged = left||right != left``), one Python pass per
    symbol array in Arrow batches (O(K·len) allocations, where chained
    ``aggregate`` folds rebuild the accumulator per element). Pure
    string equality/concat — exact by construction; pinned against the
    column-form fold kept in ``tests/test_textstats_extra.py`` by
    ``test_bpe_apply_chain_udf_matches_fold``. The per-word symbol SPLIT
    stays JVM-side (``substr`` semantics are the engine's own), so this
    only replaces the merge scan."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    rules = [(left, right, merged) for left, right, merged in merge_rules]

    @pandas_udf(ArrayType(StringType()))
    def apply_chain(syms_col):
        out = []
        for syms in syms_col.to_numpy():
            s = list(syms)
            for left, right, merged in rules:
                res, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == left and s[i + 1] == right:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                s = res
            out.append(s)
        return pd.Series(out)

    return apply_chain


def _bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, n) over the BPE-ish pre-tokens — the ONE corpus scan the
    trainer ever does; every merge round after it runs on this vocab."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
    )


def _bpe_pair_count_table(vocab: DataFrame) -> DataFrame:
    """Weighted adjacent-pair counts over the trainer's (n, syms) vocab —
    the one distributed relation every merge round reads."""
    idx = F.sequence(F.lit(1), F.size("syms") - 1)
    return (
        vocab.where(F.size("syms") >= 2)
        .select(
            "n",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("syms", i).alias("tok_left"),
                        F.element_at("syms", i + F.lit(1)).alias("tok_right"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy(
            F.col("p.tok_left").alias("tok_left"),
            F.col("p.tok_right").alias("tok_right"),
        )
        .agg(F.sum("n").cast("long").alias("n_pair"))
    )


def _bpe_safe_chain(
    vocab: DataFrame, top: list, max_m: int
) -> list[tuple[str, str, int]]:
    """Speculate-then-verify merge batching, EXACTLY equal to the
    classic one-merge-per-round trajectory (the oracle replays the
    classic learner move-for-move, so "close" is not an option).

    The guess: the classic learner's next ``max_m`` picks are
    speculated to be the top ``max_m`` candidates of the CURRENT count
    table. The verification: one distributed pass computes every
    intermediate pair-count table the guess implies — stage ``i`` is
    the vocab with the first ``i`` guessed merges applied (one Arrow
    ``mapInPandas`` sweep computes all stages with per-partition
    pre-aggregation, O(m * len) per word) — and takes each stage's
    argmax under the classic (count desc, left, right) order. The committed chain is the longest
    prefix whose guessed merge matches the TRUE argmax of its stage;
    the first mismatch (a newly created pair outranking the guess, or
    a count decay reordering it) truncates, and the next round
    re-speculates from the fresh table. Commit-by-proof, never by hope:
    a wrong guess costs one extra vocab pass, a right one saves
    ``k - 1`` driver barriers AND ``k - 1`` checkpoint materializations.

    Each committed merge records its argmax row's count — the
    selection-time count of the classic trajectory (stage 0's from the
    already-collected candidate list, later stages' from the
    verification pass). Returns [(left, right, n_pair), ...]."""
    guess = [
        (row["tok_left"], row["tok_right"], int(row["n_pair"]))
        for row in top[:max_m]
    ]
    if len(guess) < 2:
        return guess
    # one Arrow pass over the vocab computes EVERY intermediate table:
    # per word, apply the guessed merges sequentially (O(m * len) — the
    # equivalent chained-fold Column expression re-evaluates the whole
    # chain per stage, O(m^2), measured 3-8x slower at m>=8) and count
    # stage-i adjacent pairs into a per-partition Counter, so only
    # pre-aggregated (stage, pair, n) rows reach the shuffle
    merge_rules = [(left, right, left + right) for left, right, _n in guess[:-1]]

    def _stage_counts(batches):
        import collections

        import pandas as _pd

        acc: collections.Counter = collections.Counter()
        for pdf in batches:
            for n, syms in zip(pdf["n"], pdf["syms"]):
                syms = list(syms)
                n = int(n)
                for stage, (left, right, merged) in enumerate(
                    merge_rules, start=1
                ):
                    out, i = [], 0
                    while i < len(syms):
                        if (
                            i + 1 < len(syms)
                            and syms[i] == left
                            and syms[i + 1] == right
                        ):
                            out.append(merged)
                            i += 2
                        else:
                            out.append(syms[i])
                            i += 1
                    syms = out
                    for a, b in zip(syms, syms[1:]):
                        acc[(stage, a, b)] += n
        yield _pd.DataFrame(
            [(st, a, b, c) for (st, a, b), c in acc.items()],
            columns=["stage", "tok_left", "tok_right", "n_pair"],
        ).astype({"stage": "int32", "n_pair": "int64"})

    stage_pairs = (
        vocab.mapInPandas(
            _stage_counts,
            "stage int, tok_left string, tok_right string, n_pair long",
        )
        .groupBy("stage", "tok_left", "tok_right")
        .agg(F.sum("n_pair").cast("long").alias("n_pair"))
    )
    w = Window.partitionBy("stage").orderBy(
        F.desc("n_pair"), F.asc("tok_left"), F.asc("tok_right")
    )
    argmaxes = {
        int(r["stage"]): (r["tok_left"], r["tok_right"], int(r["n_pair"]))
        for r in stage_pairs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .collect()
    }
    chain = [guess[0]]
    for i in range(1, len(guess)):
        true_i = argmaxes.get(i)
        if true_i is None or true_i[:2] != guess[i][:2]:
            break
        chain.append(true_i)  # selection-time count from stage i's table
    return chain


#: Candidate rows collected per round for batch selection (driver-tiny).
BPE_BATCH_CANDIDATES = 64

#: Default cap on merges learned per round. The verification truncates
#: to the trajectory-exact prefix, so the cap only bounds speculation
#: depth; SCALE_PROBE P7b measured rounds 24 -> 5 and wall 1.3x FASTER
#: at m=8 on a natural-ish corpus, identical merges at every m.
BPE_BATCH_M = 8

#: Probe instrumentation (SCALE_PROBE P7): per-learn round counters,
#: reset by the caller. Not part of any query surface.
_BPE_TRAIN_STATS: dict = {"rounds": 0, "chain_lengths": []}


def _bpe_learn_merges(
    spark: SparkSession, sf_dir: str, n_merges: int, batch_m: int = BPE_BATCH_M
) -> list[tuple]:
    """Run the Sennrich-style learner; returns
    ``[(rank, tok_left, tok_right, merged, n_pair), ...]``.

    Spark-first shape (vs the reference's in-memory trainer): the corpus
    is scanned ONCE into a distributed (word, count) vocab; rounds then
    run on the vocab only. Merge rounds are BATCHED: each round counts
    pairs once, selects up to ``batch_m`` merges whose equality with the
    classic one-at-a-time trajectory is PROVED (``_bpe_safe_chain`` —
    consecutive disjoint prefix + new-pair dominance, verified by one
    extra vocab pass), and applies them as chained folds under a single
    ``localCheckpoint``. A production 30k-merge vocab thus costs
    ~30k/batch driver round-trips instead of 30k (SCALE_PROBE P7
    measures the rounds-vs-m batching win); the learned trajectory is
    bit-identical by construction, not by luck. The driver only ever
    sees K merge rows plus <= 64 candidate rows per round, never data.
    At 100 TB the vocab is the distinct-pretoken table (orders of
    magnitude smaller than the corpus and shrinking per round).
    """
    from ..sources.io import plan_confs, table_fingerprint
    from ..sources.model_store import memo_fit

    def _fit_pdf():
        import pandas as pd

        words = _bpe_word_counts(spark, sf_dir)
        vocab = words.select(
            "n",
            F.transform(
                F.sequence(F.lit(1), F.length("word")),
                lambda i: F.col("word").substr(i, F.lit(1)),
            ).alias("syms"),
        ).localCheckpoint()
        merges: list[tuple] = []
        while len(merges) < n_merges:
            top = (
                _bpe_pair_count_table(vocab)
                .orderBy(
                    F.desc("n_pair"), F.asc("tok_left"), F.asc("tok_right")
                )
                .limit(BPE_BATCH_CANDIDATES)
                .collect()
            )
            if not top:
                break
            chain = _bpe_safe_chain(
                vocab, top, min(batch_m, n_merges - len(merges))
            )
            for left, right, n_pair in chain:
                merges.append(
                    (len(merges) + 1, left, right, left + right, n_pair)
                )
            apply_chain = _bpe_apply_chain_udf(
                [(left, right, left + right) for left, right, _n in chain]
            )
            vocab = vocab.select(
                "n", apply_chain(F.col("syms")).alias("syms")
            ).localCheckpoint()
            _BPE_TRAIN_STATS["rounds"] += 1
            _BPE_TRAIN_STATS["chain_lengths"].append(len(chain))
        return pd.DataFrame(
            merges,
            columns=["rank", "tok_left", "tok_right", "merged", "n_pair"],
        )

    # durable L2 (model_store): a fresh process LOADS the learned merge
    # table instead of re-running the round loop — ints/strings, so the
    # parquet round-trip is trivially exact. Confs in the version (the
    # PQ codebook rule): the merges are provably partition-invariant
    # (exact long sums, deterministic argmax), but a conf change must
    # RECOMPUTE so the invariance suite tests the real path, not a hit
    version = (
        int(n_merges),
        int(batch_m),
        table_fingerprint(sf_dir, "documents"),
        *plan_confs(spark),
    )
    return memo_fit(
        spark,
        sf_dir,
        "bpe_merges",
        version,
        _fit_pdf,
        lambda pdf: [
            (int(r.rank), r.tok_left, r.tok_right, r.merged, int(r.n_pair))
            for r in pdf.itertuples(index=False)
        ],
    )


def bpe_train(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_TRAIN_MERGES
) -> DataFrame:
    """The learned BPE merge table: rank, pair, merged symbol, and the
    weighted adjacent-pair count at selection time (naive Sennrich count —
    overlapping self-pairs included — because that IS the classic ranking
    statistic; ``bpe_merge_gain`` is the overlap-corrected report).
    Completes the BPE story: ``text_bpe_pairs`` is round 1's candidate
    table, ``text_bpe_merge_gain`` prices candidates, this trains.

    Reference scope: the reference engine has no tokenizer trainer
    (WordCount.java:1 stops at word counts); this is extension surface
    for the LLM-data-pipeline family.
    """
    merges = _bpe_learn_merges(spark, sf_dir, n_merges)
    schema = (
        "rank int, tok_left string, tok_right string, "
        "merged string, n_pair long"
    )
    return spark.createDataFrame(merges, schema=schema)


def bpe_encode_stats(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_TRAIN_MERGES
) -> DataFrame:
    """Apply the learned merges back to the corpus and report per-doc
    compression: pre-token count, post-merge BPE token count, and chars
    per BPE token — the acceptance metric a tokenizer-training pipeline
    reads before shipping a vocab.

    Once the K merge rules are learned (cached driver-side, K tuples),
    encoding needs NO iteration: the K folds chain as one nested column
    expression — applied ONCE PER DISTINCT WORD, not per instance (the
    fold is the expensive part; the distinct-word table is orders of
    magnitude smaller than the token stream), then joined back onto the
    token stream on the word key. At 100 TB: one corpus scan, one
    distinct-word shuffle, a word-keyed join (broadcast-able while the
    sized vocab fits, AQE decides), one (doc_id) rollup.
    """
    merges = _bpe_learn_merges(spark, sf_dir, n_merges)
    d = load_table(spark, sf_dir, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
            ).alias("word"),
        )
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    syms = _bpe_apply_chain_udf(
        [(left, right, merged) for _, left, right, merged, _n in merges]
    )(chars)
    vocab_sizes = toks.select("word").distinct().select(
        "word",
        F.length("word").alias("n_chars"),
        F.size(syms).alias("n_syms"),
    )
    per_word = toks.join(vocab_sizes, "word").select(
        "doc_id", "n_chars", "n_syms"
    )
    return (
        per_word.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_pretokens"),
            F.sum("n_syms").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.sum("n_syms"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("doc_id")
    )


def bpe_vocab(
    spark: SparkSession, sf_dir: str, n_merges: int = BPE_TRAIN_MERGES
) -> DataFrame:
    """The token vocabulary the learned merges imply: every symbol that
    survives in the encoded corpus, with its corpus occurrence count, the
    number of distinct words containing it, and whether it is a learned
    merge (vs a base character). The artifact a tokenizer ships.

    One corpus scan -> word counts; the K folds run once per DISTINCT
    word (same shape as ``bpe_encode_stats``); the final explode is over
    the vocab table's short symbol arrays — token-keyed aggregation over
    vocab-sized input, nothing corpus-sized shuffles twice.
    """
    merges = _bpe_learn_merges(spark, sf_dir, n_merges)
    learned = [m[3] for m in merges]
    words = _bpe_word_counts(spark, sf_dir)
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    syms = _bpe_apply_chain_udf(
        [(left, right, merged) for _, left, right, merged, _n in merges]
    )(chars)
    exploded = words.select(
        "n", F.explode(syms).alias("token")
    )
    return (
        exploded.groupBy("token")
        .agg(
            F.sum("n").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_words"),
        )
        .withColumn(
            "is_merge",
            F.col("token").isin(*learned) if learned else F.lit(False),
        )
        .orderBy(F.desc("n_occurrences"), F.asc("token"))
    )


#: Vocabulary-coverage curve points: top-N cutoffs a tokenizer budget
#: sweep would price. Small, fixed, public round numbers; the 10-cutoff
#: keeps the curve non-degenerate on the tiny-vocab fixture corpus.
VOCAB_COVERAGE_CUTOFFS = (10, 100, 1000, 10000)


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N vocabulary coverage / OOV-rate curve over the pre-token
    stream: for each cutoff N, the fraction of all token OCCURRENCES
    covered by the N most frequent word types — the first diagnostic a
    tokenizer-budget decision reads (how much of the stream a word-level
    vocab of size N explains, and what falls to the fallback path).

    Shape: ONE (word) shuffle builds counts; the top-max(N) selection is
    a TakeOrderedAndProject (distributed top-k, no global sort); the
    running sum then runs over a <=max(N)-row relation — bounded by the
    cutoff constant, NOT the corpus, so the single-partition window is
    load-bearing only over 10k rows. The corpus-sized total attaches as
    a broadcast scalar (A4 pattern, CalcTFIDF.java:150 analogue).
    """
    wc = _bpe_word_counts(spark, sf_dir)
    total = wc.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count("*").cast("long").alias("total_types"),
    )
    top = (
        wc.orderBy(F.desc("n"), F.asc("word"))
        .limit(max(VOCAB_COVERAGE_CUTOFFS))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("word"))
            ),
        )
    )
    cuts = F.array(*[F.lit(c) for c in VOCAB_COVERAGE_CUTOFFS])
    per_cut = (
        top.select("n", F.explode(cuts).alias("n_vocab"), "rank")
        .where(F.col("rank") <= F.col("n_vocab"))
        .groupBy("n_vocab")
        .agg(
            F.sum("n").cast("long").alias("covered_tokens"),
            F.count("*").cast("long").alias("n_types"),
        )
    )
    return (
        per_cut.crossJoin(F.broadcast(total))
        .select(
            "n_vocab",
            "n_types",
            "covered_tokens",
            "total_tokens",
            "total_types",
            F.round(
                F.col("covered_tokens").cast("double") / F.col("total_tokens"), 6
            ).alias("coverage"),
            F.round(
                F.lit(1.0)
                - F.col("covered_tokens").cast("double") / F.col("total_tokens"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("n_vocab")
    )


# ---------------------------------------------------------------------------
# Count-min sketch word frequencies — the mergeable-sketch path
# ---------------------------------------------------------------------------

#: Count-min geometry: d independent hash rows x w counters. Hashes reuse
#: the first CMS_D MinHash affine permutations mod MINHASH_P, then mod
#: CMS_W — all-integer, engine-portable, no RNG state.
CMS_D = 4
CMS_W = 1024
CMS_TOP_K = 20


def _cms_hashed(wc: DataFrame) -> DataFrame:
    """(word, n) -> one row per (word, n, i, bucket) for the d hash rows."""
    from ..functions.hashing import MINHASH_P, MINHASH_PERMS, word_hash32

    h = word_hash32(F.col("word"))
    buckets = F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                (((h * F.lit(a) + F.lit(b)) % MINHASH_P) % CMS_W).alias("bucket"),
            )
            for i, (a, b) in enumerate(MINHASH_PERMS[:CMS_D])
        ]
    )
    return wc.select("word", "n", F.explode(buckets).alias("hb")).select(
        "word", "n", F.col("hb.i").alias("i"), F.col("hb.bucket").alias("bucket")
    )


def cms_counters(wc: DataFrame) -> DataFrame:
    """The count-min state itself: (i, bucket, c) — d*w rows of mergeable
    longs. Sketches of disjoint corpora merge by elementwise addition
    (pinned by the mergeability pytest), which is what makes this the
    bounded-state path for shard/day/stream frequency aggregation."""
    return _cms_hashed(wc).groupBy("i", "bucket").agg(F.sum("n").alias("c"))


def word_cms_report(
    spark: SparkSession, sf_dir: str, k: int = CMS_TOP_K
) -> DataFrame:
    """Count-min sketch audit for word frequencies: the top-k exact words
    with their CMS estimates and the overcount — value-checking the
    sketch's one-sided error (``cms_est >= n`` always; overshoot is the
    collision mass in the word's luckiest row).

    Why a sketch query at all: exact word counts at 100 TB need a
    vocabulary-sized shuffle per batch, and a STREAM can't keep exact
    counts in bounded state. The CMS is d*w = 4096 longs of MERGEABLE
    state — per-partition sketches sum elementwise (partial aggregation
    applies, the same map-side-combine story as A1), shards and days
    merge by addition, and the estimate is a d-way min over one row per
    hash. This query builds the sketch from the per-word count relation
    (vocab-sized, already one shuffle) rather than re-hashing every
    token occurrence — at fixture scale both are cheap; at 100 TB the
    word-count relation is the persisted index the sketch summarizes.

    Determinism: hashes are md5-derived affine permutations
    (``MINHASH_PERMS[:CMS_D]``), so the DuckDB oracle replays the sketch
    bit-for-bit — the error itself is value-checked, not bounded.
    """
    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(norm_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    counters = cms_counters(wc)
    top = wc.orderBy(F.desc("n"), F.asc("word")).limit(k)
    top_hashed = _cms_hashed(top)
    est = (
        top_hashed.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("word")
        .agg(F.min("c").alias("cms_est"), F.first("n").alias("n"))
    )
    return est.select(
        "word",
        F.col("n").cast("long").alias("n"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("n")).cast("long").alias("overcount"),
    ).orderBy(F.desc("n"), F.asc("word"))


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID evaluation: the (labeled, predicted) confusion matrix
    with per-cell counts and row fractions — the accuracy report that
    decides whether the heuristic lexicon classifier is good enough for
    the mixture/stratification stages that consume its predictions.

    Pure composition over ``lang_id`` (one corpus scan) plus a
    languages-squared-bounded aggregate; row_frac is an exact int/int
    rational. At 100 TB the matrix is |langs|² rows — driver-safe by
    construction.
    """
    li = lang_id(spark, sf_dir)
    totals = li.groupBy("labeled_lang").agg(F.count("*").alias("n_labeled"))
    return (
        li.groupBy("labeled_lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .join(F.broadcast(totals), "labeled_lang")
        .select(
            "labeled_lang",
            "pred_lang",
            "n_docs",
            (F.col("n_docs") / F.col("n_labeled")).alias("row_frac"),
        )
    )


def lm_heldout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-hygiene twin of ``lm_doc_scores``: train the bigram LM on the
    TRAIN split only (the ``split_report`` md5 bucket — content-keyed,
    growth-stable) and score the held-out (val+test) documents' bigrams
    against it. One summary row: split sizes, held-out bigram count, OOV
    rate (bigrams the train LM never saw — unscorable, reported rather
    than smoothed over), and mean surprisal over the scored ones — the
    honest generalization number, where ``text_lm_score`` is
    self-perplexity (the corpus scored under its own LM).

    Scale shape is ``lm_doc_scores``' (LM build + bigram-keyed scoring
    join, AQE-handled skew) plus two 1-row count broadcasts; the split
    predicate is a map-only expression on both passes, never a
    materialized assignment table."""
    from ..functions.hashing import shingle_rows
    from .curation import SPLIT_VAL_LO, _sample_bucket

    d = load_table(spark, sf_dir, "documents")
    is_train = _sample_bucket() < SPLIT_VAL_LO
    train = d.where(is_train)
    held = d.where(~is_train)

    def bigrams(docs: DataFrame) -> DataFrame:
        return (
            shingle_rows(docs, ["doc_id"], n=2)
            .where(F.instr("shingle", " ") > 0)
            .select("doc_id", F.col("shingle").alias("bigram"))
        )

    lm_bg = bigrams(train).groupBy("bigram").agg(
        F.count("*").alias("n_bigram")
    )
    uni = (
        train.select(F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n_w1"))
    )
    lm = (
        lm_bg.withColumn("w1", F.substring_index("bigram", " ", 1))
        .join(uni, F.col("w1") == F.col("w"))
        .select(
            "bigram",
            F.round(-F.log(F.col("n_bigram") / F.col("n_w1")), 6).alias(
                "neg_logp"
            ),
        )
    )
    scored = bigrams(held).join(lm, "bigram", "left")
    summary = scored.agg(
        F.count("*").alias("n_heldout_bigrams"),
        (F.count("*") - F.count("neg_logp")).alias("n_oov"),
        r6(
            (F.count("*") - F.count("neg_logp")) / F.count("*")
        ).alias("oov_rate"),
        r6(
            F.sum(F.col("neg_logp").cast("decimal(38,6)")).cast("double")
            / F.count("neg_logp")
        ).alias("mean_surprisal"),
    )
    n_train = train.agg(F.count("*").alias("n_train_docs"))
    n_held = held.agg(F.count("*").alias("n_heldout_docs"))
    return (
        summary.crossJoin(F.broadcast(n_train))
        .crossJoin(F.broadcast(n_held))
        .select(
            "n_train_docs",
            "n_heldout_docs",
            "n_heldout_bigrams",
            "n_oov",
            "oov_rate",
            "mean_surprisal",
        )
    )


#: Encoding-hygiene character classes, written as literal chars/ranges in
#: the Java-regex ∩ RE2 dialect (no lookaround, no \uXXXX escapes — the
#: replacement char is embedded literally so both engines read the same
#: pattern).
ENC_REPLACEMENT = "�"
ENC_CONTROL_CLASS = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"
ENC_NON_ASCII_CLASS = "[^\\x00-\\x7f]"


def encoding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus byte-hygiene scan: per document, the damage markers a
    decode pass leaves behind — U+FFFD replacement characters (the
    reader contract REPLACES invalid UTF-8, never drops rows, so this
    column is where that damage becomes countable), C0 control
    characters (minus tab/newline/CR — legitimate text), non-ASCII
    fraction, and a clean flag — the triage relation that routes docs
    to re-extraction before they poison a tokenizer vocabulary.

    Map-only codegen regex counts over one scan, zero shuffle; the
    fraction is long/long on the floor grid. 100 TB = scan speed."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_repl = F.size(
        F.regexp_extract_all("text", F.lit(ENC_REPLACEMENT), F.lit(0))
    ).cast("long")
    n_ctrl = F.size(
        F.regexp_extract_all("text", F.lit(ENC_CONTROL_CLASS), F.lit(0))
    ).cast("long")
    n_nonascii = F.size(
        F.regexp_extract_all("text", F.lit(ENC_NON_ASCII_CLASS), F.lit(0))
    ).cast("long")
    n_chars = F.length("text").cast("long")
    frac = F.when(
        n_chars > 0,
        r6(n_nonascii / n_chars),
    )
    return d.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_repl.alias("n_replacement"),
        n_ctrl.alias("n_control"),
        n_nonascii.alias("n_non_ascii"),
        frac.alias("non_ascii_frac"),
        ((n_repl == 0) & (n_ctrl == 0)).alias("is_clean"),
    ).orderBy("doc_id")


def type_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity: type-token ratio (distinct words /
    words) plus the raw counts — THE standard corpus-QA diversity stat
    (template spam and keyword stuffing crater it; ``text_repetition``
    flags the dominant-word extreme, TTR grades the whole range).
    One tokenize pass, one (doc, word) aggregate, ratios on the shared
    @6dp grid — the n_types aggregate partial-combines map-side, so
    100 TB pays the tokenize scan plus one doc-keyed exchange."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(norm_words(F.col("text"))).alias("w")
    )
    per = words.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_types"),
    )
    return per.select(
        "doc_id",
        "n_tokens",
        "n_types",
        r6(F.col("n_types") / F.col("n_tokens")).alias("ttr"),
    ).orderBy("doc_id")


def hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena profile per source: vocabulary size, the count of
    words occurring exactly once, and their ratio — the vocabulary-
    health companion to the Zipf fit (natural text sits near 0.4-0.6
    hapax share; template spam craters it, OCR noise inflates it).
    Two aggregates over one tokenize scan — (source, word) counts, then
    the per-source rollup; both partial-combine map-side."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("source", "w")
        .agg(F.count("*").alias("n"))
    )
    return (
        wc.groupBy("source")
        .agg(
            F.count("*").alias("n_vocab"),
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_hapax"),
            F.sum("n").alias("n_tokens"),
        )
        .select(
            "source",
            "n_vocab",
            "n_hapax",
            "n_tokens",
            r6(F.col("n_hapax") / F.col("n_vocab")).alias("hapax_rate"),
        )
        .orderBy("source")
    )


def frequency_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies spectrum: how many words occur exactly n
    times — the relation behind Zipf's law (``text_zipf`` fits its
    slope), hapax counting (``text_hapax_rate`` reads the n=1 cell),
    and Good-Turing smoothing (whose estimator is literally built from
    these cells). Two map-side-combined aggregates; the spectrum is at
    most |distinct frequencies| rows — hundreds at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    spec = wc.groupBy("n").agg(F.count("*").alias("n_words"))
    total = spec.agg(F.sum("n_words").alias("n_vocab"))
    return (
        spec.crossJoin(F.broadcast(total))
        .select(
            F.col("n").alias("frequency"),
            "n_words",
            r6(F.col("n_words") / F.col("n_vocab")).alias("vocab_share"),
        )
        .orderBy("frequency")
    )


def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair vocabulary overlap: Jaccard of each source pair's
    word SETS — the corpus-structure map that flags mirrored or
    re-crawled sources by what they talk about (``curate_source_kl``
    measures distributional drift of one source vs the corpus; this is
    the pairwise set view). One (source, word) distinct relation
    self-joins on word — the join carries vocabulary-sized sides, never
    documents — then pair counts against per-source vocab sizes;
    int/int Jaccard, engine-exact."""
    d = load_table(spark, sf_dir, "documents")
    sv = (
        d.select("source", F.explode(norm_words(F.col("text"))).alias("w"))
        .distinct()
    )
    sizes = sv.groupBy("source").agg(F.count("*").alias("sz"))
    a = sv.select(F.col("source").alias("source_a"), "w")
    b = sv.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_common"))
    )
    za = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            "sz_a",
            "sz_b",
            (
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("vocab_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Gopher-style within-document repetition + corpus PMI collocations
# ---------------------------------------------------------------------------

#: Gopher-ish repetition gates (Rae et al. 2021 use per-n-gram character
#: fractions; these are the token-count analogues at the same order of
#: magnitude): a doc is flagged repetitive when over 30% of its 3-gram
#: occurrences are repeats or one 2-gram alone covers over 20% — each
#: rule applying only past a minimum gram support (a 5-word distinct
#: doc has top2_share 0.25 by pigeonhole; short docs are the length
#: screen's job, not this one's).
REP_DUP3_MAX = 0.30
REP_TOP2_MAX = 0.20
REP_MIN_GRAMS = 10


def repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repetition screen, the Gopher repetition rules'
    n-gram form: per doc, the fraction of 3-gram occurrences that are
    duplicates (1 - distinct/total) and the share of 2-gram occurrences
    claimed by the single most frequent 2-gram — boilerplate, keyword
    stuffing, and looping generation all light these up while passing
    the length/punctuation quality gates (``quality_scores`` cannot see
    repetition; this is the complementary signal, and the cross-corpus
    chunk dedup in ``text_chunks`` cannot see WITHIN-doc repeats).

    Scale shape: one corpus scan feeds two gram explodes; each groups on
    (doc_id, gram) — high-cardinality keys, map-side combined, no
    corpus-wide hot key — then collapses to one row per doc. Docs too
    short for an n-gram keep zero fractions (guarded sequences — no
    short-doc pad shingle here, true n-gram semantics). Ratios are
    exact int/int divisions on the @6dp floor grid.
    """
    d = load_table(spark, sf_dir, "documents")
    words = norm_words(F.col("text"))
    base = d.select("doc_id", words.alias("ws"))

    def grams(n: int) -> DataFrame:
        idx = F.sequence(F.lit(1), F.size("ws") - (n - 1))
        return (
            base.where(F.size("ws") >= n)
            .select(
                "doc_id",
                F.explode(
                    F.transform(
                        idx, lambda i: F.concat_ws(" ", F.slice("ws", i, n))
                    )
                ).alias("g"),
            )
        )

    g2 = (
        grams(2)
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("total2"),
            F.max("c").cast("long").alias("top2"),
        )
    )
    g3 = (
        grams(3)
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("total3"),
            F.count("*").cast("long").alias("distinct3"),
        )
    )
    dup3 = F.when(
        F.col("total3") > 0,
        r6(
            (F.col("total3") - F.col("distinct3"))
            / F.col("total3")
        ),
    ).otherwise(F.lit(0.0))
    top2 = F.when(
        F.col("total2") > 0, r6(F.col("top2") / F.col("total2"))
    ).otherwise(F.lit(0.0))
    return (
        base.select("doc_id")
        .join(g2, "doc_id", "left")
        .join(g3, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("total2", F.lit(0)).cast("long").alias("n_2grams"),
            F.coalesce("total3", F.lit(0)).cast("long").alias("n_3grams"),
            dup3.alias("dup3_frac"),
            top2.alias("top2_share"),
        )
        .select(
            "*",
            (
                (
                    (F.col("n_3grams") >= REP_MIN_GRAMS)
                    & (F.col("dup3_frac") > REP_DUP3_MAX)
                )
                | (
                    (F.col("n_2grams") >= REP_MIN_GRAMS)
                    & (F.col("top2_share") > REP_TOP2_MAX)
                )
            ).alias("repetitive"),
        )
        .orderBy("doc_id")
    )


#: PMI report knobs: a collocation needs >= 5 corpus occurrences (PMI of
#: rare pairs is pure noise), and the report is the top 50.
PMI_MIN_PAIR = 5
PMI_TOP_K = 50


def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level collocation mining: pointwise mutual information of
    adjacent word pairs, ``ln( (c_ab/B) / ((c_a/W)(c_b/W)) )`` with W =
    total tokens and B = total bigrams — the statistical-phrase table
    (multiword entities, templated boilerplate phrases) that complements
    ``text_bpe_pairs``' raw-frequency ranking: frequency finds 'of the',
    PMI finds the pairs that predict each other.

    One scan; unigram and bigram counts are two map-side-combined
    aggregations; the W/B scalars attach as broadcast 1-row aggregates
    (the A4 shape). Only pairs with >= PMI_MIN_PAIR occurrences are
    scored (rare-pair PMI is noise and the support filter also bounds
    the ln's operand away from the grid edges); the @6dp grid absorbs
    the cross-engine ln ulp exactly as the Gumbel/Zipf families do.
    Top-``PMI_TOP_K`` by (pmi desc, pair) — TakeOrderedAndProject.
    """
    d = load_table(spark, sf_dir, "documents")
    words = norm_words(F.col("text"))
    base = d.select("doc_id", words.alias("ws"))
    uni = (
        base.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("c"))
    )
    idx = F.sequence(F.lit(1), F.size("ws") - 1)
    bi = (
        base.where(F.size("ws") >= 2)
        .select(
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at("ws", i).alias("w1"),
                        F.element_at("ws", i + F.lit(1)).alias("w2"),
                    ),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").cast("long").alias("c_ab"))
        .where(F.col("c_ab") >= PMI_MIN_PAIR)
    )
    tot_w = uni.agg(F.sum("c").cast("long").alias("W"))
    tot_b = (
        base.select(
            F.greatest(F.size("ws") - 1, F.lit(0)).cast("long").alias("nb")
        )
        .agg(F.sum("nb").cast("long").alias("B"))
    )
    pmi = F.log(
        (F.col("c_ab").cast("double") / F.col("B"))
        / (
            (F.col("c_a").cast("double") / F.col("W"))
            * (F.col("c_b").cast("double") / F.col("W"))
        )
    )
    # vocab-keyed equi-joins, NOT broadcast: at 100 TB the distinct-word
    # table is itself huge; AQE picks broadcast while it fits and the
    # word-keyed shuffle (1 row per word per side, support-filtered
    # pairs) is the scalable fallback
    return (
        bi.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("c_a")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("c_b")),
            "w2",
        )
        .crossJoin(F.broadcast(tot_w))
        .crossJoin(F.broadcast(tot_b))
        .select(
            "w1",
            "w2",
            "c_ab",
            "c_a",
            "c_b",
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_K)
    )
