"""Corpus-curation operators — the filter/sample/audit passes of a
training-data pipeline: PII scanning, benchmark-contamination checks,
deterministic sampling, table profiling, and repetition scoring.

All scan-speed map-only passes or single-shuffle aggregations; no Python
UDFs anywhere — every operator is pure Column expressions (JVM regex +
md5), so at 100 TB they run inside whole-stage codegen at parquet-scan
throughput.

Scale design highlights:
- PII scan / hash sample: zero shuffles (pure per-row projections —
  a filter pass over the corpus).
- Contamination: n-gram hashes of the benchmark side are tiny by
  construction (benchmarks are small) — broadcast them; the corpus side
  never shuffles.
- Repetition: one shuffle on (doc, word), then the per-doc pass reuses
  that exchange (window over doc).
- Profile: exact per-column distincts expand to one pass per column at
  scale; the shape (long-format metric rows) is what matters — swap in
  approx_count_distinct for the 100 TB run if exactness isn't required.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.grid import r6
from ..functions.hashing import norm_words, shingle_rows
from ..sources.io import load_table
from .prefix import two_phase_running_sum

#: PII regexes, written in the common Java-regex ∩ RE2 dialect so Spark and
#: any RE2-based oracle (DuckDB) agree: no backrefs, no lookaround.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "url": r"https?://[^ \t\n\r\f]+",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}

#: Contamination check: docs whose id ≡ 0 (mod this) act as the held-out
#: benchmark set; n-gram order for overlap.
CONTAM_BENCH_MOD = 23
CONTAM_NGRAM = 5

#: Deterministic sample: keep a doc iff the first byte of
#: md5(doc_id:text) is below this (hex) bound — 0x00..0x19 ≈ 10.2%.
SAMPLE_BUCKET_MAX = "19"


def has_pii_expr(text: Column) -> Column:
    """The redaction flag as ONE column expression — any PII pattern hit.
    Single definition shared by ``pii_scan`` and the fused
    ``features_table`` scan."""
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(p), F.lit(0))).cast("long")
        for p in PII_PATTERNS.values()
    ]
    return sum(counts, F.lit(0).cast("long")) > 0


def pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc PII signal counts (emails, IPv4s, URLs, phone-shaped) and a
    redaction flag. Map-only: regex counting inside codegen, no shuffle —
    the shape of a 100 TB pre-training privacy filter."""
    counts = [
        F.size(F.regexp_extract_all(F.col("text"), F.lit(p), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, p in PII_PATTERNS.items()
    ]
    d = load_table(spark, sf_dir, "documents").select("doc_id", *counts)
    any_pii = (
        sum((F.col(f"n_{n}") for n in PII_PATTERNS), F.lit(0).cast("long")) > 0
    )
    return d.select("doc_id", *[f"n_{n}" for n in PII_PATTERNS], any_pii.alias("has_pii"))


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning verb ``pii_scan`` only detects: every document
    rewritten with each PII span replaced by its typed placeholder
    (``<EMAIL>``, ``<IPV4>``, ``<URL>``, ``<PHONE>``) — the corpus a
    pipeline actually feeds to the tokenizer after the privacy screen,
    the same detect→clean completion ``text_clean_corpus`` gives the
    boilerplate pass.

    Map-only, zero shuffle: a fixed chain of ``regexp_replace`` calls
    inside codegen, one per pattern in ``PII_PATTERNS`` declaration
    order — the SAME sequence the oracle replays (replacement ORDER is
    semantics: an email inside a URL is gone by the time the email
    pattern runs), and the placeholders contain no digits or ``://`` so
    no later pattern can match an earlier rewrite. At 100 TB this is
    scan speed; damage is visible (typed placeholders, a ``changed``
    flag), never silent deletion."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    clean = F.col("text")
    for name, p in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, p, f"<{name.upper()}>")
    return d.select(
        "doc_id",
        clean.alias("clean_text"),
        (clean != F.col("text")).alias("changed"),
    ).orderBy("doc_id")


def _doc_ngram_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, md5(5-gram)) — the overlap unit for contamination.
    Row-level n-gram build (``shingle_rows``) keeps the pass in codegen."""
    d = load_table(spark, sf_dir, "documents")
    return (
        shingle_rows(d, ["doc_id"], n=CONTAM_NGRAM)
        .select("doc_id", F.md5("shingle").alias("h"))
        .distinct()
    )


def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: for every corpus doc, its 5-gram
    overlap against each "benchmark" doc (stand-in: doc_id ≡ 0 mod 23).

    Returns (doc_id, bench_doc, n_shared, overlap_frac) for overlapping
    pairs only. The benchmark side is small by construction (real
    benchmarks are a few thousand rows) and is broadcast — the 100 TB
    corpus side joins map-side and never shuffles on n-grams; the only
    exchange is the per-(doc, bench) count.
    """
    grams = _doc_ngram_hashes(spark, sf_dir)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    bench = (
        grams.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_doc"), "h")
    )
    hits = (
        grams.where(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
        .join(F.broadcast(bench), "h")
        .groupBy("doc_id", "bench_doc")
        .agg(F.count("*").alias("n_shared"))
    )
    # hits is candidate-sized (tiny); broadcasting it lets the per-doc
    # sizes table (one row per corpus doc — huge at scale) stay map-side
    return sizes.join(F.broadcast(hits), "doc_id").select(
        "doc_id",
        "bench_doc",
        "n_shared",
        F.round(F.col("n_shared") / F.col("n_grams"), 6).alias("overlap_frac"),
    )


def _sample_bucket() -> Column:
    """First md5 byte (2 hex chars) of ``doc_id:coalesce(text, '')`` —
    the shared deterministic sampling bucket."""
    return F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.col("doc_id").cast("string"),
                F.coalesce(F.col("text"), F.lit("")),
            )
        ),
        1,
        2,
    )


def hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% corpus sample: keep a doc iff the first md5 byte
    of ``doc_id:text`` falls under the bucket bound.

    Content-hash sampling is the reproducible way to sample at 100 TB — no
    RNG state, no seed coordination across executors, stable under
    re-partitioning and re-runs, and the bucket column lets downstream
    stages sub-sample consistently (bucket < '0c' is a strict subset).

    NULL text is hashed as '' (coalesce) so the keep/drop decision is
    engine-identical: Spark's concat_ws SKIPS null args while SQL '||'
    PROPAGATES null — without the coalesce a dirty corpus samples
    differently under the two engines."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _sample_bucket()
    return (
        d.select("doc_id", "source", bucket.alias("bucket"))
        .where(F.col("bucket") <= SAMPLE_BUCKET_MAX)
    )


#: Columns profiled by ``profile_table`` (the orders fixture's full schema).
PROFILE_COLUMNS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)


def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format data profile of ``orders``: one row per column with
    row/null/distinct counts — the schema-audit pass before a big pipeline
    run. Exact distincts here (the fixture gate needs exact values); the
    100 TB variant swaps in approx_count_distinct, same output shape."""
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[F.count(c).alias(f"nn_{c}") for c in PROFILE_COLUMNS],
        *[F.countDistinct(c).alias(f"nd_{c}") for c in PROFILE_COLUMNS],
    )
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                (F.col("n_rows") - F.col(f"nn_{c}")).alias("n_nulls"),
                F.col(f"nd_{c}").alias("n_distinct"),
            )
            for c in PROFILE_COLUMNS
        ]
    )
    return (
        agg.select(F.explode(per_col).alias("m"))
        .select("m.col_name", "m.n_rows", "m.n_nulls", "m.n_distinct")
    )


#: Per-language keep rates for the stratified sample (hex bucket bounds on
#: md5(doc_id:text): '19' ≈ 10.2%, '33' ≈ 20.3%, '0c' ≈ 5.1%).
STRATA_BUCKET_MAX: dict[str, str] = {"en": "19", "de": "33", "es": "33", "fr": "0c"}
STRATA_DEFAULT_MAX = "07"


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified sample: each stratum gets its
    own md5-bucket bound (up-sample scarce languages, down-sample dominant
    ones — the mixture-balancing pass of a pre-training data build).

    Same zero-shuffle, zero-RNG scan as ``hash_sample``; the per-stratum
    rate table is a literal CASE expression, so changing the mixture is a
    config change, not a new shuffle. NULL text hashes as '' — see
    ``hash_sample``."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _sample_bucket()
    bound = F.lit(STRATA_DEFAULT_MAX)
    for lang, mx in STRATA_BUCKET_MAX.items():
        bound = F.when(F.col("lang") == lang, F.lit(mx)).otherwise(bound)
    return (
        d.select("doc_id", "lang", bucket.alias("bucket"), bound.alias("bound"))
        .where(F.col("bucket") <= F.col("bound"))
        .select("doc_id", "lang", "bucket")
    )


def profile_table_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB twin of ``profile_table``: HyperLogLog++ distinct
    estimates (one pass, mergeable state, no per-column expand) plus
    approximate o_totalprice percentiles — the profile you can actually
    afford over a petabyte table. No SQL oracle (sketch internals are
    engine-specific); tests pin the estimates within HLL's rsd of exact.
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.approx_count_distinct(c, rsd=0.02).alias(f"nd_{c}")
            for c in PROFILE_COLUMNS
        ],
        F.percentile_approx("o_totalprice", [0.5, 0.95, 0.99], 10_000).alias("pct"),
    )
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"nd_{c}").alias("approx_distinct"),
            )
            for c in PROFILE_COLUMNS
        ]
    )
    return agg.select(
        F.explode(per_col).alias("m"),
        F.round(F.element_at("pct", 1), 2).alias("price_p50"),
        F.round(F.element_at("pct", 2), 2).alias("price_p95"),
        F.round(F.element_at("pct", 3), 2).alias("price_p99"),
    ).select(
        "m.col_name",
        "m.n_rows",
        "m.approx_distinct",
        "price_p50",
        "price_p95",
        "price_p99",
    )


def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals: word count, distinct-word count, the
    distinct ratio, and the dominant word with its frequency (ties break
    lexicographically). Docs with ≥1 word appear (empty docs have no
    repetition signal).

    Two exchanges, both of compressed rows: the (doc_id, word) count
    partial-aggregates map-side (raw token rows never cross the wire), and
    the per-doc window re-clusters those already-distinct (doc, word, n)
    rows by doc_id. That beats the single-exchange alternative
    (pre-repartition by doc_id), which would shuffle every RAW token.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(norm_words(F.col("text"))).alias("w")
    )
    wc = d.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    win = Window.partitionBy("doc_id")
    ordered = Window.partitionBy("doc_id").orderBy(F.desc("n"), F.asc("w"))
    return (
        wc.select(
            "doc_id",
            "w",
            "n",
            F.sum("n").over(win).alias("n_words"),
            F.count("*").over(win).alias("n_distinct"),
            F.row_number().over(ordered).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_words",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_words"), 6).alias("distinct_ratio"),
            F.col("w").alias("top_word"),
            F.col("n").alias("top_word_n"),
        )
    )


#: A document sharing >= this fraction of its n-grams with a benchmark doc
#: is treated as contaminated by ``keep_list``.
KEEP_CONTAM_FRAC = 0.2


def keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline composed end-to-end: every document classified
    into its final disposition — ``benchmark`` (held-out eval member),
    ``contaminated`` (n-gram overlap with a benchmark doc >=
    KEEP_CONTAM_FRAC), ``pii`` (any PII hit), ``low_quality`` (fails the
    C4-style filter), or ``kept`` — the keep/drop manifest a training-data
    build hands to the sampler. First matching reason wins, in that
    severity order.

    All inputs are existing single-pass operators; the composition adds
    two doc_id-keyed joins (contamination hits are candidate-sized and
    broadcast; quality and PII ride the same corpus scan at 100 TB via
    plan reuse — no operator here introduces a new full-data exchange).
    """
    from .textstats import quality_scores

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    contam = (
        contamination_check(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.max("overlap_frac").alias("max_overlap"))
    )
    pii = pii_scan(spark, sf_dir).select("doc_id", "has_pii")
    q = quality_scores(spark, sf_dir).select("doc_id", "keep")
    status = (
        F.when(F.col("doc_id") % CONTAM_BENCH_MOD == 0, "benchmark")
        .when(F.col("max_overlap") >= KEEP_CONTAM_FRAC, "contaminated")
        .when(F.col("has_pii"), "pii")
        .when(~F.col("keep"), "low_quality")
        .otherwise("kept")
    )
    return (
        d.join(F.broadcast(contam), "doc_id", "left")
        .join(pii, "doc_id")
        .join(q, "doc_id")
        .select("doc_id", "lang", "source", status.alias("status"))
    )


def mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture audit: per (lang, source) stratum, its document and
    whitespace-token counts, token share of the corpus, and the cumulative
    share in descending-share order — the table a data-mixture decision is
    made from.

    One corpus scan partial-aggregates to |lang|x|source| rows; the share
    and cumulative windows run on that tiny relation (fractions round @6dp
    and cumulate through DECIMAL so the running sum is order-exact in both
    engines)."""
    d = load_table(spark, sf_dir, "documents")
    strata = d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(norm_words(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    total = Window.partitionBy()
    ordered = Window.orderBy(
        F.desc("n_tokens"), F.asc("lang"), F.asc("source")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # floor(x*1e6 + 0.5)/1e6: k/n ratios hit exact .5 ties at 6dp where
    # the engines' round() conventions diverge (see rel_window_ranks)
    frac = r6(F.col("n_tokens") / F.sum("n_tokens").over(total))
    return (
        strata.withColumn("token_frac", frac)
        .withColumn(
            "cum_token_frac",
            F.round(
                F.sum(F.col("token_frac").cast("decimal(38,6)"))
                .over(ordered)
                .cast("double"),
                6,
            ),
        )
    )


#: Shard packing: target BPE-ish tokens per training shard, and the
#: doc_id range width of one prefix-sum bucket (bounds every window
#: group; the bucket-totals relation has n_docs/bucket rows).
SHARD_TOKEN_BUDGET = 4096
SHARD_PREFIX_BUCKET = 1024


def shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard manifest: assign every document (in doc_id
    order) to the training shard where its first token lands —
    ``shard_id = (global_cum - n_tokens) // SHARD_TOKEN_BUDGET`` — the
    deterministic packing a dataloader uses to cut a corpus into
    fixed-token-budget files.

    The global running sum is the DISTRIBUTED TWO-PHASE PREFIX SUM
    (``prefix.two_phase_running_sum`` — bucket-local windows bounded by
    SHARD_PREFIX_BUCKET rows + a broadcast |buckets|-row offsets
    relation), never a single-partition global window (the classic
    100 TB trap: ``sum() over (order by ...)`` with no partition puts
    the whole corpus in one task).
    """
    from .textstats import BPE_ISH_PATTERN

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn(
        "bucket", F.floor(F.col("doc_id") / SHARD_PREFIX_BUCKET).cast("long")
    )
    cum = two_phase_running_sum(
        tok,
        bucket="bucket",
        order_by=["doc_id"],
        value=F.col("n_tokens"),
        out="cum_tokens",
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / SHARD_TOKEN_BUDGET)
        .cast("long")
        .alias("shard_id"),
    )


#: Weighted-sample size (Efraimidis-Spirakis A-ES).
WEIGHTED_SAMPLE_M = 50


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sample without replacement (Efraimidis-
    Spirakis A-ES): each doc draws key = u^(1/w) with w = its BPE-ish
    token count and u a uniform derived from md5(doc_id:text); the m
    largest keys are the sample — inclusion probability proportional to
    weight, exactly the quality/length-weighted corpus draw a training
    mixture uses.

    Same 100 TB shape as ``hash_sample``: one scan, no RNG state (the
    hash IS the randomness — reproducible across re-runs, re-partitioning
    and engines), and the top-m plans as TakeOrderedAndProject, never a
    full sort. Keys are compared on the @6dp grid with doc_id tiebreak so
    engine ulp differences in pow/ln cannot flip the selection.
    """
    from .textstats import BPE_ISH_PATTERN

    d = load_table(spark, sf_dir, "documents")
    w = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("double")
        .alias("w")
    )
    # uniform in (0,1): first 8 md5 hex chars as an int, +0.5, / 2^32
    u = (
        (F.conv(F.substring(_sample_bucket_md5(), 1, 8), 16, 10).cast("double")
         + F.lit(0.5))
        / F.lit(float(1 << 32))
    )
    base = d.select("doc_id", w, u.alias("u")).where(F.col("w") > 0)
    key = F.pow(F.col("u"), F.lit(1.0) / F.col("w"))
    key6 = r6(key)
    return (
        base.select(
            "doc_id",
            F.col("w").cast("long").alias("n_tokens"),
            key6.alias("sample_key"),
        )
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(WEIGHTED_SAMPLE_M)
    )


def _sample_bucket_md5() -> Column:
    """Full md5 hex of ``doc_id:coalesce(text, '')`` (same preimage as
    ``_sample_bucket``, all 32 chars)."""
    return F.md5(
        F.concat_ws(
            ":",
            F.col("doc_id").cast("string"),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )


def train_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the curation pipeline: pack only the KEPT documents
    (``keep_list`` disposition — dedup/contamination/PII/quality already
    applied) into fixed-token-budget training shards and emit the
    per-shard manifest a dataloader consumes: document count, token
    count, and the covered doc_id range.

    Same distributed two-phase prefix sum as ``shard_pack`` (the shared
    ``prefix.two_phase_running_sum`` — never a single-partition global
    window), but over the FILTERED corpus, which is the realistic
    shape: at 100 TB the keep-list filter drops 30-60% of rows before
    any token is counted, and the filter rides the same scan as the
    token count (one exchange for the bucket window, one tiny offsets
    broadcast, one partial+final shard aggregate).
    """
    from .textstats import BPE_ISH_PATTERN

    kept = keep_list(spark, sf_dir).filter(F.col("status") == "kept").select(
        "doc_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        d.join(kept, "doc_id")
        .select(
            "doc_id",
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
            )
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn(
            "bucket", F.floor(F.col("doc_id") / SHARD_PREFIX_BUCKET).cast("long")
        )
    )
    cum = two_phase_running_sum(
        tok,
        bucket="bucket",
        order_by=["doc_id"],
        value=F.col("n_tokens"),
        out="cum_tokens",
    )
    packed = cum.select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / SHARD_TOKEN_BUDGET)
        .cast("long")
        .alias("shard_id"),
    )
    return packed.groupBy("shard_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


#: train/val/test split bounds over the 256-value md5 bucket byte:
#: [00..f7] train (248/256), [f8..fb] val (4/256), [fc..ff] test.
SPLIT_VAL_LO = "f8"
SPLIT_TEST_LO = "fc"


def split_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic held-out split assignment + audit: every document
    hashes into train/val/test by its content-keyed md5 bucket (same
    bucket convention as ``hash_sample`` — stable under re-runs,
    re-partitioning, and corpus growth: a doc's split never changes when
    other docs arrive, the property a training pipeline needs to avoid
    silent eval contamination). Emits the per-(split, lang) audit table:
    doc count, whitespace-token count, and the split's share of docs.

    One scan, one partial+final aggregate to |splits|x|langs| rows; the
    share ratio is computed on that tiny relation. At 100 TB the
    assignment is a map-only expression — the report is the only
    aggregate."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _sample_bucket()
    split = (
        F.when(bucket < SPLIT_VAL_LO, "train")
        .when(bucket < SPLIT_TEST_LO, "val")
        .otherwise("test")
    )
    per = (
        d.select(
            split.alias("split"),
            "lang",
            F.size(norm_words(F.col("text"))).cast("long").alias("n_tok"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    total = per.agg(F.sum("n_docs").alias("n_total"))
    return per.crossJoin(F.broadcast(total)).select(
        "split",
        "lang",
        "n_docs",
        "n_tokens",
        r6(F.col("n_docs") / F.col("n_total")).alias("doc_frac"),
    )


def source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report: each source's unigram KL divergence
    from the whole-corpus distribution, ``KL(P_s || P) = Σ_w p_sw ·
    ln(p_sw / p_w)`` — the number that flags a source whose language
    shifted (new crawl snapshot, template change, spam influx) before it
    skews a training mixture. 0 = indistinguishable from the corpus.

    No smoothing is needed: every word of a source exists in the corpus,
    so p_w > 0 wherever p_sw > 0. Per-word terms round @6dp BEFORE the
    DECIMAL sum (the repo-wide convention from ``lm_doc_scores``) so
    both engines add identical values in any order.

    Scale shape: one shuffle on (source, word) with map-side partial
    counts; the per-source and per-word totals are vocabulary-sized
    rollups of that relation; the 1-row corpus total broadcasts. Nothing
    driver-side, no second pass over the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    words = d.select("source", F.explode(norm_words(F.col("text"))).alias("w"))
    per_sw = words.groupBy("source", "w").agg(F.count("*").alias("n_sw"))
    per_s = per_sw.groupBy("source").agg(F.sum("n_sw").alias("n_s"))
    per_w = per_sw.groupBy("w").agg(F.sum("n_sw").alias("n_w"))
    total = per_w.agg(F.sum("n_w").alias("n_total"))

    # the log ratio multiplies as DOUBLE, not BIGINT: n_sw * n_total
    # overflows int64 once the corpus holds ~1e13 tokens and a word
    # reaches ~1e6 source occurrences (ANSI mode would kill the job;
    # non-ANSI would wrap silently). The oracle casts in the same order,
    # so the IEEE sequence stays identical.
    term = F.round(
        (F.col("n_sw") / F.col("n_s"))
        * F.log(
            (F.col("n_sw").cast("double") * F.col("n_total").cast("double"))
            / (F.col("n_s").cast("double") * F.col("n_w").cast("double"))
        ),
        6,
    ).cast("decimal(38,6)")
    return (
        per_sw.join(per_s, "source")
        .join(per_w, "w")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.max("n_s").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct_words"),
            F.sum(term).cast("double").alias("_kl"),
        )
        .select(
            "source",
            "n_tokens",
            "n_distinct_words",
            r6(F.col("_kl")).alias("kl_nats"),
        )
    )


def quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language quality bucketing: every document lands
    in the head / middle / tail TERTILE of its language's LM-score
    (mean bigram surprisal) distribution — the canonical web-corpus
    curation pass (Wenzek et al., "CCNet", 2020: perplexity tertiles
    per language against a reference LM; here the corpus's own bigram
    LM from ``lm_doc_scores`` plays the reference role).

    Scale shape: per-language tertile THRESHOLDS come from one exact
    ``percentile`` aggregate per language — |langs| rows broadcast back
    onto the scored relation for a map-side bucket assignment. No
    per-language window over the documents (a lang-partitioned ntile
    would funnel each language's whole corpus slice into one task —
    the dominant language at 100 TB is most of the corpus).
    """
    from .textstats import lm_doc_scores

    scores = lm_doc_scores(spark, sf_dir)
    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = scores.join(langs, "doc_id")
    thresholds = scored.groupBy("lang").agg(
        F.round(
            F.percentile("lm_score", F.lit(1.0 / 3)), 6
        ).alias("t_head"),
        F.round(
            F.percentile("lm_score", F.lit(2.0 / 3)), 6
        ).alias("t_middle"),
    )
    bucket = (
        F.when(F.col("lm_score") <= F.col("t_head"), "head")
        .when(F.col("lm_score") <= F.col("t_middle"), "middle")
        .otherwise("tail")
    )
    return scored.join(F.broadcast(thresholds), "lang").select(
        "doc_id",
        "lang",
        "lm_score",
        "t_head",
        "t_middle",
        bucket.alias("bucket"),
    )


#: severity-ordered removal stages of the keep-list pipeline
ATTRITION_STAGES = [
    "benchmark",
    "contaminated",
    "pii",
    "low_quality",
    "semantic_dup",
]


def attrition_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage-attrition funnel of the curation pipeline: for each removal
    stage (in ``keep_list``'s severity order), how many documents it
    removed, how many remain after it, and its drop rate against the
    population that REACHED it — the one-page summary a data lead reads
    before approving a corpus build.

    The funnel now includes the SemDeDup stage: documents that survive
    every keep-list screen but lose their semantic cluster's keeper vote
    (``dedup.semantic_keep``) drop at the final ``semantic_dup`` stage —
    stage order is severity order, so a doc removed earlier never reaches
    the semantic screen (and a semantic cluster whose quality keeper was
    itself removed earlier still counts its other members here: funnels
    attribute each doc to its FIRST removing stage). Docs without an
    embedding pass the semantic stage by construction.

    Pure rollup over the composed disposition (|stages| rows); the only
    window runs over the 5-row stage relation — tiny by construction,
    like ``shard_pack``'s offsets. The corpus total broadcasts as a
    1-row aggregate.
    """
    from .dedup import semantic_keep

    sem = semantic_keep(spark, sf_dir).select(
        "doc_id", F.col("status").alias("sem_status")
    )
    kl = (
        keep_list(spark, sf_dir)
        .join(sem, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("status") != "kept", F.col("status"))
            .when(F.col("sem_status") == "semantic_dup", F.lit("semantic_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
        )
    )
    counts = kl.groupBy("status").agg(F.count("*").alias("n"))
    stages = spark.createDataFrame(
        [(i, s) for i, s in enumerate(ATTRITION_STAGES)],
        "stage_idx long, status string",
    )
    total = kl.agg(F.count("*").alias("n_total"))
    j = stages.join(counts, "status", "left").select(
        "stage_idx",
        F.col("status").alias("stage"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_removed"),
    )
    w = Window.orderBy("stage_idx").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = j.withColumn("_cum", F.sum("n_removed").over(w)).crossJoin(
        F.broadcast(total)
    )
    n_reached = F.col("n_total") - F.col("_cum") + F.col("n_removed")
    return r.select(
        "stage_idx",
        "stage",
        "n_removed",
        (F.col("n_total") - F.col("_cum")).cast("long").alias("n_remaining"),
        r6(F.col("n_removed") / n_reached).alias("drop_rate"),
    ).orderBy("stage_idx")


#: DSIR-style importance weighting: hashed-unigram buckets and the
#: target slice the weights aim the corpus at.
IMPORTANCE_BUCKETS = 1024
IMPORTANCE_TARGET_LANG = "en"


def importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling (DSIR, Xie et al. 2023)
    reduced to its engine shape: per-document log importance weight
    ``Σ_b cnt_doc(b) · (ln p_target(b) − ln p_corpus(b))`` over hashed
    unigram buckets, Laplace-smoothed — the score that resamples a raw
    corpus toward a target distribution (here: the ``lang = 'en'``
    slice stands in for the high-quality target set). Feed the weights
    to ``weighted_sample`` and the pipeline IS importance resampling.

    Scale shape: one (doc, bucket) shuffle with map-side partials; the
    two distribution tables are ≤ IMPORTANCE_BUCKETS rows each —
    broadcast; the per-doc sum reuses the doc key. Nothing driver-side,
    no second corpus pass. Per-bucket terms round @6dp BEFORE the
    DECIMAL sum (the ``source_kl`` convention) so both engines add
    identical values in any order.
    """
    from ..functions.hashing import word_hash32

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(norm_words(F.col("text"))).alias("w")
    )
    bucketed = words.select(
        "doc_id",
        "lang",
        F.pmod(word_hash32(F.col("w")), F.lit(IMPORTANCE_BUCKETS)).alias("b"),
    )
    doc_b = bucketed.groupBy("doc_id", "b").agg(F.count("*").alias("cnt"))
    tgt = (
        bucketed.where(F.col("lang") == IMPORTANCE_TARGET_LANG)
        .groupBy("b")
        .agg(F.count("*").alias("n_t"))
    )
    cor = bucketed.groupBy("b").agg(F.count("*").alias("n_c"))
    # coalesce: an empty target slice (no document with the target lang)
    # must degrade to the smoothed floor (n_t+1)/(0+BUCKETS), not NULL
    # out every weight silently
    n_t_total = tgt.agg(
        F.coalesce(F.sum("n_t"), F.lit(0)).alias("n_t_total")
    )
    n_c_total = cor.agg(
        F.coalesce(F.sum("n_c"), F.lit(0)).alias("n_c_total")
    )
    j = (
        doc_b.join(F.broadcast(cor), "b")
        .join(F.broadcast(tgt), "b", "left")
        .crossJoin(F.broadcast(n_t_total))
        .crossJoin(F.broadcast(n_c_total))
    )
    n_t = F.coalesce(F.col("n_t"), F.lit(0))
    lp = F.log(
        (n_t + 1).cast("double")
        / (F.col("n_t_total") + IMPORTANCE_BUCKETS).cast("double")
    ) - F.log(
        (F.col("n_c") + 1).cast("double")
        / (F.col("n_c_total") + IMPORTANCE_BUCKETS).cast("double")
    )
    term = F.round(F.col("cnt") * lp, 6).cast("decimal(38,6)")
    return (
        j.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.sum(term).cast("double").alias("_lw"),
        )
        .select(
            "doc_id",
            "n_tokens",
            r6(F.col("_lw")).alias("log_weight"),
        )
    )


def importance_resample(
    spark: SparkSession, sf_dir: str, m: int = WEIGHTED_SAMPLE_M
) -> DataFrame:
    """DSIR end to end: sample m documents with probability ∝
    exp(log_weight) via the Gumbel-top-m trick — key = log_weight +
    Gumbel(u), u the deterministic md5-derived uniform ``hash_sample``
    and ``weighted_sample`` already use. Working in LOG space is what
    makes it well-posed: exp(log_weight) overflows float64 past |lw| ≈
    700 (easily reached — the weight grows with document length), while
    the Gumbel key never leaves the weight's own scale.

    Same 100 TB shape as ``weighted_sample``: the weight pass is
    ``importance_weights``' one shuffle; the key is map-only on top; the
    top-m plans as TakeOrderedAndProject. Keys land on the @6dp grid
    with doc_id tiebreak so engine ulp differences in ln cannot flip
    the selection.
    """
    w = importance_weights(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    u = (
        F.conv(F.substring(_sample_bucket_md5(), 1, 8), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    keyed = w.join(d, "doc_id").select(
        "doc_id", "n_tokens", "log_weight", u.alias("u")
    )
    gumbel = -F.log(-F.log(F.col("u")))
    key6 = r6(F.col("log_weight") + gumbel)
    return (
        keyed.select("doc_id", "n_tokens", "log_weight", key6.alias("sample_key"))
        .orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(m)
    )


#: Survivor resample size for the composed pipeline — larger than
#: WEIGHTED_SAMPLE_M so the shard packer has something to pack.
E2E_RESAMPLE_M = 200


def e2e_manifest(
    spark: SparkSession, sf_dir: str, m: int = E2E_RESAMPLE_M
) -> DataFrame:
    """The training-data pipeline composed end to end as ONE lazy plan —
    raw corpus → benchmark holdout → exact dedup → lexical (MinHash)
    near-dup → semantic (SemDeDup) near-dup → quality / PII /
    contamination screens → DSIR importance resample over the survivors
    → token-budget shard pack of the selected set — the product story
    the individual queries rehearse, emitted as one per-document
    manifest row: (doc_id, status, selected, sample_key, n_tokens,
    shard_id).

    Stage order is the pipeline's: dedup passes run before the content
    screens (dedup is cheap-per-byte and shrinks everything downstream;
    the severity order of ``keep_list`` is preserved within the screens).
    First matching stage wins:
    benchmark → exact_dup → lexical_dup → semantic_dup → low_quality →
    pii → contaminated → kept. Dedup keepers use the corpus quality rule
    (most words, doc_id tiebreak); exact dedup keeps the lowest doc_id
    (identical text ties the quality rule to the same choice).

    Everything is a composition of already-verified operators —
    ``keep_list``, ``exact_dedup_groups``'s hash rule,
    ``duplicate_clusters`` + the ``keeper_by_quality`` rank,
    ``dedup.semantic_keep``, ``importance_weights`` + the Gumbel-top-m
    key, and ``shard_pack``'s two-phase prefix sum — glued by doc_id
    equi-joins. Besides the barriers the component algorithms already
    own (the iterative component loops' ``localCheckpoint``s), the
    composition owns exactly TWO, both priced: the (doc_id, status)
    disposition (2 narrow columns, consumed by the resample branch AND
    the final annotate join — the manifest temp table a production
    pipeline writes anyway) and the m-row selected set (O(m); collapses
    the DSIR pass to one run). ``tests/test_plans.py`` pins that no
    further barrier or cartesian sneaks in, and that the m-row selected
    set broadcasts into the final annotate-joins.
    """
    from .dedup import duplicate_clusters, semantic_keep
    from .textstats import BPE_ISH_PATTERN

    d = load_table(spark, sf_dir, "documents")
    kl = keep_list(spark, sf_dir).select(
        "doc_id", F.col("status").alias("kl_status")
    )
    ex = d.select("doc_id", F.md5("text").alias("h"))
    keep0 = ex.groupBy("h").agg(F.min("doc_id").alias("keep0"))
    ex = ex.join(keep0, "h").select(
        "doc_id", (F.col("doc_id") != F.col("keep0")).alias("is_exact_dup")
    )
    clusters = duplicate_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    nw = d.select(
        "doc_id", F.size(norm_words(F.col("text"))).cast("long").alias("n_words")
    )
    wq = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_words"), F.asc("doc_id")
    )
    wc = Window.partitionBy("cluster_id")
    lex = (
        clusters.join(nw, "doc_id")
        .select(
            "doc_id",
            F.row_number().over(wq).alias("rn"),
            F.count("*").over(wc).alias("csz"),
        )
        .select(
            "doc_id", ((F.col("csz") > 1) & (F.col("rn") > 1)).alias("is_lex_dup")
        )
    )
    sem = semantic_keep(spark, sf_dir).select(
        "doc_id", (F.col("status") == "semantic_dup").alias("is_sem_dup")
    )
    status = (
        F.when(F.col("kl_status") == "benchmark", F.lit("benchmark"))
        .when(F.col("is_exact_dup"), F.lit("exact_dup"))
        .when(F.col("is_lex_dup"), F.lit("lexical_dup"))
        .when(F.coalesce(F.col("is_sem_dup"), F.lit(False)), F.lit("semantic_dup"))
        .when(F.col("kl_status") == "low_quality", F.lit("low_quality"))
        .when(F.col("kl_status") == "pii", F.lit("pii"))
        .when(F.col("kl_status") == "contaminated", F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    # consumed by BOTH the survivor/resample branch and the final
    # annotate join — materialize the (doc_id, status) disposition once
    # (2 narrow columns; at 100 TB this is the manifest temp table a
    # real pipeline writes anyway) instead of re-running every dedup
    # pass per consumer
    base = (
        d.select("doc_id")
        .join(kl, "doc_id")
        .join(ex, "doc_id")
        .join(lex, "doc_id")
        .join(sem, "doc_id", "left")
        .select("doc_id", status.alias("status"))
        .localCheckpoint()
    )
    iw = importance_weights(spark, sf_dir).select("doc_id", "log_weight")
    u = (
        F.conv(F.substring(_sample_bucket_md5(), 1, 8), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    gumbel = -F.log(-F.log(F.col("u")))
    key6 = r6(F.col("log_weight") + gumbel)
    surv = (
        base.where(F.col("status") == "kept")
        .join(iw, "doc_id")
        .join(d.select("doc_id", "text"), "doc_id")
        .select("doc_id", "log_weight", u.alias("u"))
        .select("doc_id", key6.alias("sample_key"))
    )
    # m rows — the selected-set barrier is O(m) and collapses the DSIR
    # weight pass to one run (its two consumers below would otherwise
    # each recompute the (doc, bucket) shuffle)
    sel = (
        surv.orderBy(F.desc("sample_key"), F.asc("doc_id"))
        .limit(m)
        .select("doc_id", "sample_key")
        .localCheckpoint()
    )
    tok = (
        d.join(sel.select("doc_id"), "doc_id")
        .select(
            "doc_id",
            F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
            .cast("long")
            .alias("n_tokens"),
        )
        .withColumn(
            "bucket", F.floor(F.col("doc_id") / SHARD_PREFIX_BUCKET).cast("long")
        )
    )
    shards = two_phase_running_sum(
        tok,
        bucket="bucket",
        order_by=["doc_id"],
        value=F.col("n_tokens"),
        out="cum_tokens",
    ).select(
        "doc_id",
        "n_tokens",
        F.floor((F.col("cum_tokens") - F.col("n_tokens")) / SHARD_TOKEN_BUDGET)
        .cast("long")
        .alias("shard_id"),
    )
    return (
        base.join(F.broadcast(sel), "doc_id", "left")
        .join(F.broadcast(shards), "doc_id", "left")
        .select(
            "doc_id",
            "status",
            F.col("sample_key").isNotNull().alias("selected"),
            "sample_key",
            "n_tokens",
            "shard_id",
        )
    )


def features_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document feature-store export: every scalar quality / language
    / repetition / novelty / readability / PII / length signal the engine
    computes, joined into ONE wide row per document — the training table
    for a learned quality filter (the fastText/logreg classifier stage of
    a production corpus pipeline), and the audit surface a human samples
    when a threshold misbehaves.

    The four MAP-ONLY signals (lang decision, quality ratios, Flesch,
    PII flag) are computed in ONE fused select over a single corpus scan
    — their expressions are the SAME shared definitions the standalone
    operators use (``pred_lang_expr`` / ``quality_exprs`` /
    ``flesch_expr`` / ``has_pii_expr``), so the export can never drift
    from the per-signal queries; the previous per-signal LEFT-join form
    read the documents table SEVEN times, which at 100 TB is 7x corpus
    IO for one export. Only the three shuffle-bearing signals (bigram
    LM score, repetition, novelty) remain doc_id LEFT joins — total by
    construction on the fused side, NULL-visible on the joined side.
    """
    from .textstats import (
        LANG_LEXICONS,
        flesch_expr,
        lm_doc_scores,
        novelty_scores,
        pred_lang_from_hits,
        quality_exprs,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text",
        norm_words(F.col("text")).alias("words"),
    )
    q = quality_exprs(F.col("text"), F.col("words"))
    # two chained selects, ONE scan: the hits columns materialize once
    # (pred_lang_expr over raw words would re-evaluate each lexicon
    # filter twice — in the argmax and in the tiebreak comparisons)
    fused = d.select(
        "doc_id",
        "lang",
        "source",
        F.struct(
            *[
                F.size(
                    F.filter(F.col("words"), lambda w: w.isin(*lex))
                ).cast("long").alias(code)
                for code, lex in LANG_LEXICONS.items()
            ]
        ).alias("_hits"),
        q["n_chars"].alias("n_chars"),
        q["n_words"].alias("n_words"),
        q["mean_word_len"].alias("mean_word_len"),
        q["punct_ratio"].alias("punct_ratio"),
        q["stopword_ratio"].alias("stopword_ratio"),
        q["keep"].alias("quality_keep"),
        flesch_expr(F.col("text")).alias("flesch"),
        has_pii_expr(F.col("text")).alias("has_pii"),
    )
    fused = fused.withColumn(
        "pred_lang",
        pred_lang_from_hits(
            {c: F.col(f"_hits.{c}") for c in LANG_LEXICONS}
        ),
    ).drop("_hits")
    lm = lm_doc_scores(spark, sf_dir).select("doc_id", "lm_score")
    rep = repetition_scores(spark, sf_dir).select("doc_id", "distinct_ratio")
    nov = novelty_scores(spark, sf_dir).select("doc_id", "novelty")
    return (
        fused.join(lm, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .join(nov, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            "source",
            "pred_lang",
            "n_chars",
            "n_words",
            "mean_word_len",
            "punct_ratio",
            "stopword_ratio",
            "quality_keep",
            "lm_score",
            "distinct_ratio",
            "novelty",
            "flesch",
            "has_pii",
        )
    )


# --- learned quality classifier (distilled linear model) -------------------

#: Classifier hyperparameters. The label is "the doc carries >= QC_HITS_MIN
#: English function-word hits" (the lang-id lexicon's evidence signal);
#: features are cheap per-doc ratios, so the learned model is the
#: distilled-classifier stage of a production pipeline (the fastText /
#: logreg quality filter trained on expensive labels, applied at scan
#: speed). lr/iteration count picked where the @6dp-grid GD below reaches
#: a stable ~0.83 accuracy on the fixtures (Newton's method tops out at
#: ~0.97 — the gap is the price of the oracle-replayable fixed-step GD).
QC_LR = 10.0
QC_ITERS = 25
QC_HITS_MIN = 2
QC_LEN_CAP = 1000


def _qc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc (x1, x2, x3, y) on the repo-wide @6dp grid: scaled
    English-hit ratio, capped length fraction, scaled punctuation ratio,
    and the >=QC_HITS_MIN-hits label. Every value is either an exact
    int/int division or a grid-rounded product, so DuckDB lands on the
    identical float64s."""
    from .textstats import STOPWORDS_EN

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", norm_words(F.col("text")).alias("words")
    )
    n_words = F.size("words").cast("long")
    hits = F.size(F.filter(F.col("words"), lambda w: w.isin(*STOPWORDS_EN))).cast(
        "long"
    )
    n_chars = F.length("text").cast("long")
    n_punct = (
        F.length("text")
        - F.length(F.regexp_replace(F.col("text"), r"\p{P}", ""))
    ).cast("long")
    en_r = F.when(n_words > 0, hits / n_words).otherwise(F.lit(0.0))
    lenf = F.least(n_words, F.lit(QC_LEN_CAP)) / F.lit(QC_LEN_CAP)
    punct = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))

    return d.select(
        "doc_id",
        r6(en_r * F.lit(20)).alias("x1"),
        r6(lenf * F.lit(2)).alias("x2"),
        r6(punct * F.lit(4)).alias("x3"),
        (hits >= QC_HITS_MIN).cast("long").alias("y"),
    )


def _qc_fit(spark: SparkSession, sf_dir: str) -> list:
    """The ``QC_ITERS``-step grid GD described in ``quality_classifier``,
    behind the two-level model cache (process memo L1, durable parquet
    model store L2): a regenerated fixture or invariance config refits
    while one session's train/eval/sweep queries fit ONCE. Returns the
    4-double weight vector (the only state that ever reaches the
    driver)."""
    from ..sources.io import plan_confs, table_fingerprint
    from ..sources.model_store import memo_fit

    def _fit_pdf():
        import pandas as pd

        w = _qc_fit_gd(spark, sf_dir)
        return pd.DataFrame(
            [(j, x) for j, x in enumerate(w)], columns=["j", "w"]
        )

    # durable L2 (model_store): 4 @6dp doubles — a fresh process loads
    # the weight table instead of re-running QC_ITERS gradient passes
    return memo_fit(
        spark,
        sf_dir,
        "qc_weights",
        (table_fingerprint(sf_dir, "documents"), *plan_confs(spark)),
        _fit_pdf,
        lambda pdf: [float(x) for x in pdf.sort_values("j")["w"]],
    )


def _qc_fit_gd(spark: SparkSession, sf_dir: str) -> list:
    """The raw distributed gradient-descent loop (no caching)."""
    import math

    feats = _qc_features(spark, sf_dir).localCheckpoint()
    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(QC_ITERS):
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
        row = feats.select(
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
        ).head()
        n = row.n
        w = [
            math.floor(
                (w[j] - QC_LR * row[f"g{j}"] / n / 1_000_000) * 1_000_000 + 0.5
            )
            / 1_000_000
            for j in range(4)
        ]
    return w


def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a logistic-regression quality/language classifier ON the
    corpus and score every document with it — the learned-filter stage of
    a training-data pipeline (heuristic labels in, a cheap linear scorer
    out), as one deterministic relational computation.

    Fixed-step batch gradient descent, ``QC_ITERS`` iterations: each
    iteration is ONE tiny aggregate over the (checkpointed) feature
    relation — per-row grid-rounded sigmoid, per-row INTEGER gradient
    contributions floor((p−y)·x·1e6+0.5) summed exactly (grid units, so
    the sum is order-independent integer arithmetic, immune to FP
    reassociation across partitions), then a 4-number weight update on
    the driver. Only the weight vector (model state, 4 doubles) ever
    reaches the driver — the MLlib driver/executor split; the n-row
    feature relation never moves. At 100 TB each iteration is a map-side
    partial aggregate over the corpus scan — the classic distributed-GD
    shape — and the scoring pass is map-only.

    Fully oracle-replayable for the same reason as ``kmeans_fit``:
    weights live on the @6dp grid, gradients are exact integers, and the
    update expression is written with identical operation order in both
    engines; the only cross-engine surface is exp() (~1 ulp), absorbed
    by the grid everywhere except within ~1e-10 of a rounding boundary.

    The fit is cached per (sf_dir, data fingerprint, partition conf) —
    the same process-lifetime model-cache contract as the IVF centroids
    and PQ codebooks: train once, score/evaluate/sweep many times (the
    production shape; also what keeps ``classifier_eval`` /
    ``classifier_roc`` from re-paying the 25-job fit in one session).
    """
    w = _qc_fit(spark, sf_dir)
    feats = _qc_features(spark, sf_dir)
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    prob = F.floor(
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))) * F.lit(1_000_000) + F.lit(0.5)
    ) / F.lit(1_000_000)
    return feats.select(
        "doc_id",
        prob.alias("prob"),
        (prob >= F.lit(0.5)).alias("pred"),
        (F.col("y") == 1).alias("label"),
    )


def classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluation report for ``quality_classifier``: the confusion matrix
    and the derived precision / recall / accuracy / F1, as one tiny
    relation — the go/no-go table a pipeline owner reads before swapping
    a learned filter in for the heuristic it distills.

    One aggregate over the scored relation (which is itself one more
    pass over the checkpointed features); ratios are computed from exact
    integer counts and grid-rounded, so the oracle replays them exactly.
    At 100 TB this is a map-side-combined count — evaluation is never
    the bottleneck.
    """
    scored = quality_classifier(spark, sf_dir)
    p, l = F.col("pred"), F.col("label")  # noqa: E741 — l mirrors the math
    agg = scored.agg(
        F.sum((p & l).cast("long")).alias("tp"),
        F.sum((p & ~l).cast("long")).alias("fp"),
        F.sum((~p & l).cast("long")).alias("fn"),
        F.sum((~p & ~l).cast("long")).alias("tn"),
    )

    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    precision = F.when(tp + fp > 0, r6(tp / (tp + fp))).otherwise(F.lit(0.0))
    recall = F.when(tp + fn > 0, r6(tp / (tp + fn))).otherwise(F.lit(0.0))
    accuracy = r6((tp + tn) / n)
    f1 = F.when(
        2 * tp + fp + fn > 0, r6(2 * tp / (2 * tp + fp + fn))
    ).otherwise(F.lit(0.0))
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        precision.alias("precision"),
        recall.alias("recall"),
        accuracy.alias("accuracy"),
        f1.alias("f1"),
    )


#: Decision thresholds swept by ``classifier_roc`` (inclusive 6dp grid
#: values — prob >= t keeps the doc).
ROC_THRESHOLDS = (0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def classifier_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-curve sweep for the learned filter: per candidate
    decision threshold, the confusion counts and grid-rounded
    precision / recall — the table a pipeline owner reads to PICK the
    threshold (trade kept-volume against label fidelity) instead of
    defaulting to 0.5.

    ONE pass over the scored relation: each row explodes into the 9
    (threshold, outcome) pairs — a 9× map-side fan-out of 2 small
    columns, NOT 9 scans — then one aggregate keyed by threshold.
    At 100 TB: the same single corpus-scan shape as training, fan-out
    bounded by the constant threshold list.
    """
    scored = quality_classifier(spark, sf_dir)
    t = F.explode(
        F.array(*[F.lit(x) for x in ROC_THRESHOLDS])
    ).alias("threshold")
    e = scored.select("prob", "label", t)
    pred = F.col("prob") >= F.col("threshold")

    agg = e.groupBy("threshold").agg(
        F.sum((pred & F.col("label")).cast("long")).alias("tp"),
        F.sum((pred & ~F.col("label")).cast("long")).alias("fp"),
        F.sum((~pred & F.col("label")).cast("long")).alias("fn"),
        F.sum((~pred & ~F.col("label")).cast("long")).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = F.when(tp + fp > 0, r6(tp / (tp + fp))).otherwise(F.lit(0.0))
    recall = F.when(tp + fn > 0, r6(tp / (tp + fn))).otherwise(F.lit(0.0))
    return agg.select(
        "threshold", "tp", "fp", "fn", "tn",
        precision.alias("precision"),
        recall.alias("recall"),
    ).orderBy("threshold")


#: Fixed training-sequence length for ``sequence_pack`` (tokens).
SEQ_PACK_LEN = 256


def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the stage BETWEEN the shard manifest and the
    tokenizer: lay the corpus token stream (doc_id order, the
    ``shard_pack`` convention) into fixed-``SEQ_PACK_LEN`` training
    sequences, SPLITTING documents across sequence boundaries, and emit
    one row per (document, sequence) piece: where in the sequence the
    piece sits (``seq_offset``), where in the document it starts
    (``doc_offset``), and its length — exactly the index a dataloader
    needs to materialize packed examples with document-boundary masks.

    Unlike ``shard_pack`` (whole docs, budget-sized files), packing must
    split: a doc spanning [start, start+n) in the global stream covers
    sequences floor(start/L)..floor((start+n-1)/L), each piece clipped
    to its sequence window. The global positions come from the SAME
    distributed two-phase prefix sum; the spans explode into at most
    ceil(n/L)+1 pieces per doc — bounded fan-out, no shuffle beyond the
    prefix sum's two bounded exchanges. Every output column is exact
    integer arithmetic, so the DuckDB oracle replays it verbatim.
    """
    from .textstats import BPE_ISH_PATTERN

    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("long")
        .alias("n_tokens"),
    ).withColumn(
        "bucket", F.floor(F.col("doc_id") / SHARD_PREFIX_BUCKET).cast("long")
    )
    cum = two_phase_running_sum(
        tok,
        bucket="bucket",
        order_by=["doc_id"],
        value=F.col("n_tokens"),
        out="cum_tokens",
    ).where(F.col("n_tokens") > 0)
    L = F.lit(SEQ_PACK_LEN)
    start = (F.col("cum_tokens") - F.col("n_tokens")).alias("start")
    spans = cum.select(
        "doc_id",
        "n_tokens",
        start,
        F.col("cum_tokens").alias("end"),
    ).select(
        "doc_id",
        "n_tokens",
        "start",
        F.explode(
            F.sequence(
                F.floor(F.col("start") / L).cast("long"),
                F.floor((F.col("end") - 1) / L).cast("long"),
            )
        ).alias("seq_id"),
    )
    piece_start = F.greatest(F.col("start"), F.col("seq_id") * L)
    piece_end = F.least(
        F.col("start") + F.col("n_tokens"), (F.col("seq_id") + 1) * L
    )
    return spans.select(
        "doc_id",
        "seq_id",
        (piece_start - F.col("seq_id") * L).cast("long").alias("seq_offset"),
        (piece_start - F.col("start")).cast("long").alias("doc_offset"),
        (piece_end - piece_start).cast("long").alias("piece_len"),
    ).orderBy("seq_id", "seq_offset")


def packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last mile: MATERIALIZE the packed training sequences the
    ``sequence_pack`` index describes — per sequence, the concatenated
    token stream (space-joined, the engine's hashable interchange
    render), how many document pieces it holds, and its token count.
    What a dataloader would actually feed the trainer, produced by the
    engine end to end.

    One corpus scan re-derives each doc's ordered token list
    (regexp_extract_all — same convention as the pack), an equi-join
    attaches it to the piece index, ``slice`` cuts each piece, and ONE
    exchange on seq_id assembles sequences (rows bounded by
    ``SEQ_PACK_LEN`` tokens by construction — the group can never
    exceed the sequence window, so the wide row is capped). Order
    within a sequence is the deterministic (seq_offset) sort, not
    arrival order.
    """
    from .textstats import BPE_ISH_PATTERN

    pieces = sequence_pack(spark, sf_dir)
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0).alias(
            "toks"
        ),
    )
    cut = pieces.join(toks, "doc_id").select(
        "seq_id",
        "seq_offset",
        "piece_len",
        F.slice(
            F.col("toks"), F.col("doc_offset") + 1, F.col("piece_len")
        ).alias("piece"),
    )
    assembled = F.array_join(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq_offset", "piece"))),
                lambda s: s["piece"],
            )
        ),
        " ",
    )
    return (
        cut.groupBy("seq_id")
        .agg(
            F.count("*").cast("long").alias("n_pieces"),
            F.sum("piece_len").cast("long").alias("n_tokens"),
            assembled.alias("packed_text"),
        )
        .orderBy("seq_id")
    )


#: Conf key governing the composed-manifest screen barriers:
#: "auto" (default — persist: the durable screen tables measured
#: FASTER than the lazy composition even on local page-cached parquet,
#: P9 round-8 re-measurement: 0.55-0.66x), "true"/"false" to force.
SCREEN_BARRIER_CONF = "spark.tf_idf_mapreduce.persistScreens"


def resolve_persist_screens(
    spark: SparkSession, sf_dir: str, explicit: bool | None
) -> bool:
    """The barrier POLICY the round-7 verdict asked for: an explicit
    caller flag wins; otherwise the conf; otherwise persist. History:
    round 7 measured lazy faster (7.3 s vs 10.9 s at sf0.1) when the
    barriers were session ``localCheckpoint``s that serialized the
    screens; round 8 replaced them with durable parquet screen tables
    (write once, every consumer reads files) and the cold-honest P9
    re-measurement shows persist winning 0.55-0.66x on LOCAL disk too
    — and remote object storage only widens that (every lazy re-scan
    is paid I/O). Lazy remains forcible for one-shot throwaway runs
    where nothing should be written."""
    if explicit is not None:
        return explicit
    v = (spark.conf.get(SCREEN_BARRIER_CONF, None) or "auto").lower()
    if v in ("false", "0", "lazy"):
        return False
    return True


def _screen_table(
    spark: SparkSession, sf_dir: str, name: str, df: DataFrame,
    params: tuple = (),
) -> DataFrame:
    """The durable-table variant of a screen barrier: the screen
    relation is WRITTEN once as a fingerprint-keyed parquet table under
    the model store and every consumer (including every merge-branch
    re-evaluation in a parent plan) reads the files — exactly the temp-
    table write the per-operator docstrings describe for 100 TB. When
    the store is disabled, the store itself falls back to a session
    ``localCheckpoint``.

    ``params`` carries the screen's governing hyperparameters (contam
    n-gram size, PII patterns, quality thresholds, ...) into the durable
    key — the round-8 ADVICE gap: a key of fingerprints + confs alone
    would silently serve a STALE table after an algorithm change. Every
    call site passes the constants its screen SQL actually reads, so a
    threshold edit mints a new hash and refits."""
    from ..sources.io import plan_confs, table_fingerprint
    from ..sources.model_store import load_or_compute_table

    key = (
        "screen",
        name,
        sf_dir,
        table_fingerprint(sf_dir, "documents"),
        table_fingerprint(sf_dir, "embeddings"),
        *plan_confs(spark),
        params,
    )
    return load_or_compute_table(f"screen_{name}", key, spark, lambda: df)[0]


def incremental_manifest(
    spark: SparkSession, sf_dir: str, persist_screens: bool | None = None
) -> DataFrame:
    """Batch ADMISSION manifest — the incremental twin of ``keep_list``:
    for each document in the arriving batch slice (the deterministic
    ~10% ``hash_sample`` bucket), the decision a daily ingest makes
    before anything enters the training pool, first matching reason
    wins: ``benchmark`` (held-out member), ``near_dup`` (lexical match
    to an existing corpus doc per ``dedup.incremental_dedup``),
    ``semantic_dup`` (embedding match per
    ``dedup.incremental_semantic_dedup`` — the paraphrase the lexical
    screen misses), ``contaminated``, ``pii``, ``low_quality``, else
    ``admitted``; the matched corpus doc rides along for either dup
    reason.

    Composition only — every screen is an existing operator; the new
    stages vs ``keep_list`` are the batch-vs-corpus dup joins, the
    checks a one-shot manifest cannot express. All joins are
    doc_id-keyed on the batch slice (arrival-sized, not corpus-sized);
    at 100 TB the corpus-side signature indexes (MinHash bands +
    hyperplane buckets) are persisted and this whole manifest costs one
    pass over the day's arrivals.

    ``persist_screens``: barrier each screen relation before the
    composition joins — ``None`` (default) resolves the POLICY via
    ``resolve_persist_screens`` (explicit flag > conf > persist). In
    persist mode each screen is a durable parquet table
    (``_screen_table``): written once, read by every consumer, scan
    count bounded by screens+1 regardless of how many times a parent
    re-evaluates the manifest. P9's round-8 cold re-measurement shows
    the durable tables beating the lazy composition 0.55-0.66x on
    local disk (round 7's lazy-wins number compared localCheckpoint
    barriers, which serialize the screens — a different mechanism);
    remote object storage widens the gap since every lazy re-scan is
    paid I/O.
    """
    from .dedup import incremental_dedup, incremental_semantic_dedup
    from .textstats import quality_scores

    persist_screens = resolve_persist_screens(spark, sf_dir, persist_screens)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    # NB: measured — localCheckpointing the two batch-sized screen
    # relations here costs MORE than the lazy composition (the eager
    # barriers serialize the screens and forfeit shared-scan reuse:
    # 7.3 s lazy vs 10.9 s checkpointed at sf0.1); same finding as the
    # minhash_candidate_pairs bands note
    inc = incremental_dedup(spark, sf_dir).select(
        "doc_id", F.col("status").alias("dup_status"), "match_doc_id"
    )
    sem = incremental_semantic_dedup(spark, sf_dir).select(
        "doc_id",
        F.col("status").alias("sem_status"),
        F.col("match_doc_id").alias("sem_match_doc_id"),
    )
    contam = (
        contamination_check(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.max("overlap_frac").alias("max_overlap"))
    )
    pii = pii_scan(spark, sf_dir).select("doc_id", "has_pii")
    q = quality_scores(spark, sf_dir).select("doc_id", "keep")
    if persist_screens:
        # batch-sized, narrow relations — each durable-table barrier
        # bounds every downstream re-evaluation to a parquet read of
        # the screen table instead of a full screen re-run over the
        # corpus (localCheckpoint fallback when the store is disabled).
        # inc/sem are NOT re-wrapped: incremental_dedup and
        # incremental_semantic_dedup are already durable store tables
        # (`dedup._incremental_screen_table`); wrapping their narrow
        # projections again would write a second redundant parquet copy
        # per fingerprint (round-8 ADVICE) — the projection of a store
        # table is already just a pruned file scan.
        from .textstats import QUALITY_KEEP_MAX_PUNCT, QUALITY_KEEP_MIN_WORDS

        contam = _screen_table(
            spark, sf_dir, "inc_contam", contam,
            params=(CONTAM_NGRAM, CONTAM_BENCH_MOD),
        )
        pii = _screen_table(
            spark, sf_dir, "inc_pii", pii,
            params=tuple(sorted(PII_PATTERNS.items())),
        )
        q = _screen_table(
            spark, sf_dir, "inc_quality", q,
            params=(QUALITY_KEEP_MIN_WORDS, QUALITY_KEEP_MAX_PUNCT),
        )
    status = (
        F.when(F.col("doc_id") % CONTAM_BENCH_MOD == 0, "benchmark")
        .when(F.col("dup_status") == "drop", "near_dup")
        .when(F.col("sem_status") == "drop", "semantic_dup")
        .when(F.col("max_overlap") >= KEEP_CONTAM_FRAC, "contaminated")
        .when(F.col("has_pii"), "pii")
        .when(~F.col("keep"), "low_quality")
        .otherwise("admitted")
    )
    return (
        inc.join(sem, "doc_id")
        .join(d, "doc_id")
        .join(contam, "doc_id", "left")
        .join(pii, "doc_id")
        .join(q, "doc_id")
        .withColumn("status", status)
        .select(
            "doc_id",
            "lang",
            "source",
            "status",
            F.when(F.col("status") == "near_dup", F.col("match_doc_id"))
            .when(F.col("status") == "semantic_dup", F.col("sem_match_doc_id"))
            .alias("match_doc_id"),
        )
    )


#: Docs kept per IVF cell by the cluster-balanced sample.
CLUSTER_SAMPLE_QUOTA = 20


def cluster_balanced_sample(
    spark: SparkSession, sf_dir: str, quota: int = CLUSTER_SAMPLE_QUOTA
) -> DataFrame:
    """Diversity sampling: an equal per-cluster quota over the IVF cells —
    the cluster-balanced subsample that keeps tail topics a uniform
    hash-sample would drown (the SemDeDup-adjacent move: clusters are
    semantic regions, so capping each region flattens topical skew).

    Per cell, the ``quota`` docs with the smallest deterministic uniform
    (the ``weighted_sample`` md5 uniform — reproducible, no RNG state,
    stable under repartitioning), doc_id tiebreak; cell population is
    attached so the sampling rate per region is auditable. One corpus
    scan for the assignment (cached deterministic k-means fit, centroids
    ride the closure), one doc_id join for the uniform, one k-bounded
    window — the window partitions are cell-sized, and the per-cell
    top-``quota`` is the two-level top-k shape at scale.
    """
    from .similarity import _nearest_centroid_udf, ivf_centroids

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(e, cache_key=sf_dir)
    assigned = e.select(
        F.col("vec_id").alias("doc_id"),
        _nearest_centroid_udf(cents)(F.col("embedding")).alias("cid"),
    )
    u = (
        F.conv(F.substring(_sample_bucket_md5(), 1, 8), 16, 10).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    d = load_table(spark, sf_dir, "documents").select("doc_id", u.alias("u"))
    sizes = assigned.groupBy("cid").agg(F.count("*").cast("long").alias("n_cell"))
    w = Window.partitionBy("cid").orderBy(F.asc("u"), F.asc("doc_id"))
    return (
        assigned.join(d, "doc_id")
        .withColumn("sample_rank", F.row_number().over(w))
        .where(F.col("sample_rank") <= quota)
        .join(F.broadcast(sizes), "cid")
        .select(
            "doc_id",
            "cid",
            F.col("sample_rank").cast("long").alias("sample_rank"),
            "n_cell",
        )
    )


#: Bloom-filter geometry for the broadcastable decontamination screen:
#: m = 65536 bits (8 KB as a bitset), k = 4 md5-affine hashes (the
#: MinHash permutation family again — deterministic, SQL-replayable).
BLOOM_M = 1 << 16
BLOOM_K = 4


def _bloom_positions(h: Column) -> Column:
    """The k bit positions of one gram hash — array<long>, duplicates
    possible (two hash rows may land on the same bit; membership logic
    counts DISTINCT positions, mirrored exactly in the oracle)."""
    from ..functions.hashing import MINHASH_P, MINHASH_PERMS

    hint = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
    return F.array(
        *[
            ((hint * F.lit(a) + F.lit(b)) % MINHASH_P) % BLOOM_M
            for a, b in MINHASH_PERMS[:BLOOM_K]
        ]
    )


def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen + its exact audit: per corpus
    doc, how many of its 5-grams the BENCHMARK Bloom filter flags
    (``n_bloom_pos``), the exact shared-gram count (``n_exact_shared``),
    and the false-positive overcount — the one-sided error value-checked
    per doc, not bounded (no false negatives is the Bloom law; the
    pytest pins ``n_bloom_pos >= n_exact_shared`` for every doc).

    Why this exists at 100 TB: the exact screen joins every corpus gram
    against the benchmark gram set — fine when the benchmark side
    broadcasts, but the filter version compresses the entire benchmark
    into m = 65536 BITS (8 KB) of mergeable state: OR the per-shard
    filters together, ship one packed bitset in the task closure, and
    the probe is map-only (no join at all in production; the
    DataFrame-join formulation here keeps the audit oracle-exact). A
    gram is positive iff ALL its k DISTINCT bit positions are set.
    """
    grams = _doc_ngram_hashes(spark, sf_dir)
    bench_bits = (
        grams.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select(F.explode(_bloom_positions(F.col("h"))).alias("bit"))
        .distinct()
    )
    corpus = grams.where(F.col("doc_id") % CONTAM_BENCH_MOD != 0)
    probe = corpus.select(
        "doc_id", "h", F.explode(F.array_distinct(_bloom_positions(F.col("h")))).alias("bit")
    )
    per_gram = (
        probe.join(F.broadcast(bench_bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("doc_id", "h")
        .agg(
            F.count("*").alias("npos"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("nfound"),
        )
        .select(
            "doc_id", "h", (F.col("nfound") == F.col("npos")).alias("bloom_pos")
        )
    )
    bench_h = (
        grams.where(F.col("doc_id") % CONTAM_BENCH_MOD == 0)
        .select("h")
        .distinct()
        .withColumn("shared", F.lit(1))
    )
    audited = per_gram.join(F.broadcast(bench_h), "h", "left")
    return (
        audited.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0))
            .cast("long")
            .alias("n_bloom_pos"),
            F.sum(F.coalesce("shared", F.lit(0))).cast("long").alias("n_exact_shared"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_bloom_pos",
            "n_exact_shared",
            (F.col("n_bloom_pos") - F.col("n_exact_shared")).alias("n_false_pos"),
        )
    )


#: Temperature exponents for mixture reweighting — DYADIC on purpose:
#: p^alpha computes as sqrt compositions (0.5 -> sqrt, 0.25 -> double
#: sqrt, 0.75 -> their product), which are IEEE-exact and engine-portable
#: where pow(x, 0.7) is libm-vs-StrictMath 1-ulp territory.
MIXTURE_TEMPERATURES = (1.0, 0.75, 0.5, 0.25)


def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per (lang, source) stratum —
    w_i = p_i^alpha / sum_j p_j^alpha for each temperature — plus the
    effective epoch factor (how many times the stratum repeats when the
    reweighted mixture is drawn to the corpus's own token budget). The
    standard multilingual up/down-sampling knob: alpha=1 is proportional,
    lower alphas flatten toward uniform; the report shows exactly how
    much each tail stratum gets boosted before anyone commits a budget.

    One corpus scan partial-aggregates to |lang|x|source| rows; the
    alpha fan-out and both normalizations run on that model-sized
    relation (whole-partition DECIMAL window sums — order-exact). The
    shares are floor-rounded @6dp first, so every downstream double is
    bit-identical cross-engine.
    """
    d = load_table(spark, sf_dir, "documents")
    strata = d.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(norm_words(F.col("text"))).cast("long")).alias("n_tokens"),
    )
    total_w = Window.partitionBy()
    p = r6(F.col("n_tokens") / F.sum("n_tokens").over(total_w))
    fan = strata.withColumn("p", p).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        "p",
        F.explode(
            F.array(*[F.lit(a) for a in MIXTURE_TEMPERATURES])
        ).alias("alpha"),
    )
    root = F.sqrt(F.col("p"))
    root2 = F.sqrt(root)
    q = (
        F.when(F.col("alpha") == 1.0, F.col("p"))
        .when(F.col("alpha") == 0.75, root * root2)
        .when(F.col("alpha") == 0.5, root)
        .otherwise(root2)
    )
    byalpha = Window.partitionBy("alpha")
    scored = fan.withColumn("q", q).withColumn(
        "w",
        F.col("q")
        / F.sum(F.col("q").cast("decimal(38,18)"))
        .over(byalpha)
        .cast("double"),
    )
    tot_tokens = F.sum("n_tokens").over(byalpha)
    return scored.select(
        F.col("alpha"),
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.col("p").alias("token_frac"),
        r6(F.col("w")).alias("weight"),
        r6(F.col("w") * tot_tokens / F.col("n_tokens")).alias(
            "effective_epochs"
        ),
    ).orderBy("alpha", "lang", "source")


def bpe_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``curate_shard_pack`` with the budget measured in LEARNED BPE
    tokens instead of pre-tokens — what a dataloader actually packs by
    once a tokenizer exists. Composes the trainer with the packer:
    cached merges -> per-DISTINCT-word post-merge sizes (the encode
    join shape) -> per-doc totals -> the same distributed two-phase
    prefix sum and shard rule. Docs with no pre-tokens pack as
    zero-token rows (left join), exactly like the pre-token packer.
    """
    from .textstats import (
        BPE_ISH_PATTERN,
        BPE_TRAIN_MERGES,
        _bpe_apply_chain_udf,
        _bpe_learn_merges,
    )

    merges = _bpe_learn_merges(spark, sf_dir, BPE_TRAIN_MERGES)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
        ).alias("word"),
    )
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    syms = _bpe_apply_chain_udf(
        [(left, right, merged) for _, left, right, merged, _n in merges]
    )(chars)
    sizes = toks.select("word").distinct().select(
        "word", F.size(syms).cast("long").alias("n_syms")
    )
    per_doc = (
        toks.join(sizes, "word")
        .groupBy("doc_id")
        .agg(F.sum("n_syms").alias("n_bpe"))
    )
    tok = (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bpe", F.lit(0)).cast("long").alias("n_tokens"),
        )
        .withColumn(
            "bucket",
            F.floor(F.col("doc_id") / SHARD_PREFIX_BUCKET).cast("long"),
        )
    )
    cum = two_phase_running_sum(
        tok,
        bucket="bucket",
        order_by=["doc_id"],
        value=F.col("n_tokens"),
        out="cum_tokens",
    )
    return cum.select(
        "doc_id",
        "n_tokens",
        "cum_tokens",
        F.floor(
            (F.col("cum_tokens") - F.col("n_tokens")) / SHARD_TOKEN_BUDGET
        )
        .cast("long")
        .alias("shard_id"),
    )


#: Scale parameter for the Laplace-SHAPED demo noise below; kept under
#: the historical name for registry/pin stability. NOT a privacy budget
#: — see the dp_counts docstring.
DP_EPSILON = 1.0


def dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC Laplace-shaped noise injection over the
    (lang, source) histogram — a mechanism-shape demo, **NOT a
    differential-privacy release**. The noise is a pure function of the
    PUBLIC group key (inverse-CDF of an md5 uniform: t = u - 1/2,
    noise = -b·sign(t)·ln(1-2|t|)), so any consumer can recompute it
    and subtract it from n_released to recover the exact count. A real
    ε-DP Laplace release requires noise drawn from SECRET randomness
    (a seed supplied out-of-band, never embedded in code or oracle);
    this operator exists to pin the release PLUMBING — group-keyed
    noise attach, sensitivity-1 scale b = 1/ε-shaped parameterization,
    the @6dp grid both engines land on — so swapping in a secret seed
    source is a one-expression change. Until then, treat n_released as
    exactly as sensitive as the raw count.

    u is never 0.5 and never 0/1 by the +0.5/2^32 centering, so sign
    and ln are total. One count shuffle; noise is map-side on
    group-sized data; both engines land on the floor-@6dp grid the
    Gumbel keys use (the double-ln ulp argument is identical)."""
    d = load_table(spark, sf_dir, "documents").select("lang", "source")
    g = d.groupBy("lang", "source").agg(F.count("*").alias("n_true"))
    h = F.md5(
        F.concat_ws(
            ":", F.lit("dp"), F.col("lang"), F.col("source")
        )
    )
    u = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    t = u - F.lit(0.5)
    b = 1.0 / DP_EPSILON
    noise = -F.lit(b) * F.signum(t) * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(t))
    released = r6(F.col("n_true") + noise)
    return g.select(
        "lang",
        "source",
        released.alias("n_released"),
        F.lit(float(DP_EPSILON)).alias("epsilon"),
        F.lit(float(b)).alias("laplace_b"),
    ).orderBy("lang", "source")


#: k-anonymity threshold for the quasi-identifier audit, and the width
#: of the length bucket that joins (lang, source) as the third QI.
K_ANONYMITY_K = 5
K_ANON_LEN_BUCKET = 500


def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple
    (lang, source, length bucket): every QI equivalence class with its
    size and whether it meets k — the release-readiness check that
    complements ``dp_counts`` (DP protects what you publish; this
    audits what the raw partition would leak: a class of size 1 IS an
    individual document). The audit is internal, so class keys and
    sizes are emitted; a publisher suppresses or generalizes the
    violating classes before release.

    One count shuffle, group-class-sized output; at 100 TB the QI
    cardinality (langs x sources x length buckets) stays model-sized
    however large the corpus."""
    d = load_table(spark, sf_dir, "documents").select(
        "lang", "source", "n_chars"
    )
    g = d.groupBy(
        "lang",
        "source",
        (F.col("n_chars") - F.col("n_chars") % K_ANON_LEN_BUCKET).alias(
            "len_bucket"
        ),
    ).agg(F.count("*").alias("n_docs"))
    return g.select(
        "lang",
        "source",
        "len_bucket",
        "n_docs",
        (F.col("n_docs") >= K_ANONYMITY_K).alias("k_anonymous"),
    ).orderBy("lang", "source", "len_bucket")


def data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row data card a corpus release ships: shape (docs, langs,
    sources, whitespace tokens, mean doc length), risk (PII-flagged
    fraction), redundancy (exact-duplicate fraction — docs beyond each
    content hash's keeper), and diversity (language entropy in nats) —
    the summary every downstream consumer reads before the manifest.

    Three scans of ``documents`` composed lazily (shape+PII fused into
    one, the md5 content-hash rollup, the per-lang histogram), each
    reducing to a broadcastable 1-row/lang-row relation, glued by cross
    joins — no row-level join anywhere, so 100 TB pays scan cost only.
    Entropy and fractions land on the floor-@6dp grid; counts are
    exact longs. Statistics only — a release needing formal privacy
    pairs this with ``dp_counts``/``k_anonymity``."""
    d = load_table(spark, sf_dir, "documents")
    shape = d.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.sum(F.size(norm_words(F.col("text"))).cast("long")).alias(
            "n_tokens"
        ),
        F.sum(has_pii_expr(F.col("text")).cast("long")).alias("n_pii_docs"),
    )
    dup = (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.count("*").alias("n"))
        .agg(
            (F.sum("n") - F.count("*")).alias("n_dup_docs"),
        )
    )
    ent = (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_lang"))
        .agg(
            F.sum(F.col("n_lang").cast("decimal(38,6)")).alias("tot"),
            F.sum(
                F.round(
                    -F.log(F.col("n_lang"))
                    * F.col("n_lang").cast("double"),
                    6,
                ).cast("decimal(38,6)")
            ).alias("wlog"),
        )
    )
    return (
        shape.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(ent))
        .select(
            "n_docs",
            "n_langs",
            "n_sources",
            "n_tokens",
            r6(F.col("n_tokens") / F.col("n_docs")).alias(
                "mean_doc_tokens"
            ),
            r6(F.col("n_pii_docs") / F.col("n_docs")).alias("pii_frac"),
            r6(F.col("n_dup_docs") / F.col("n_docs")).alias(
                "exact_dup_frac"
            ),
            # H = ln(N) - (1/N)·Σ n·ln(n): one global ln plus the
            # rounded per-lang n·ln(n) terms summed exactly
            r6(
                F.log(F.col("tot").cast("double"))
                + F.col("wlog").cast("double") / F.col("tot").cast("double")
            ).alias("lang_entropy"),
        )
    )


#: Jaccard above which a cross-split near-dup pair counts as leakage.
LEAK_JACCARD = 0.5


def split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test LEAKAGE matrix: the verified near-duplicate pairs
    crossed with each side's hash-split assignment — the eval-hygiene
    audit that catches a held-out document whose near-twin sits in
    train (the classic inflated-eval bug dedup-before-split exists to
    prevent). ``dedup_cross_source_leakage`` lists cross-SOURCE pairs;
    this is the decision REPORT over the hash split: per unordered
    split pair, candidate-pair count, count with jaccard >=
    LEAK_JACCARD, and the worst offender — the off-diagonal rows are
    the eval debt, the diagonal is ordinary intra-split duplication.

    Cost is the already-characterized verify stage (banded LSH, never
    all-pairs) plus two candidate-sized joins against the map-only
    split expression; the report is at most a 3x3 matrix. jaccard is
    int/int division — engine-exact with no grid; max over exact
    doubles stays exact."""
    from .dedup import jaccard_verified_pairs

    pairs = jaccard_verified_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    bucket = _sample_bucket()
    split = (
        F.when(bucket < SPLIT_VAL_LO, "train")
        .when(bucket < SPLIT_TEST_LO, "val")
        .otherwise(F.lit("test"))
    )
    assign = d.select("doc_id", split.alias("split"))
    pa = assign.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("sp_a")
    )
    pb = assign.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("sp_b")
    )
    joined = pairs.join(pa, "doc_a").join(pb, "doc_b")
    lo = F.least("sp_a", "sp_b")
    hi = F.greatest("sp_a", "sp_b")
    return (
        joined.groupBy(lo.alias("split_a"), hi.alias("split_b"))
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                (F.col("jaccard") >= LEAK_JACCARD).cast("long")
            ).alias("n_leaky"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("split_a", "split_b")
    )


def shard_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance audit over the packer's manifest: per shard its doc
    and token totals, plus every shard's deviation from the budget —
    the report a dataloader owner reads before training starts (a short
    final shard is expected; a short MIDDLE shard means the packer or
    the token counts drifted). Composes ``shard_pack`` (the two-phase
    prefix sum); the rollup is one shard-keyed aggregate over the
    manifest, all integers except the budget-utilization grid ratio."""
    packed = shard_pack(spark, sf_dir)
    return (
        packed.groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.min("doc_id").alias("first_doc_id"),
            F.max("doc_id").alias("last_doc_id"),
        )
        .select(
            "shard_id",
            "n_docs",
            "n_tokens",
            "first_doc_id",
            "last_doc_id",
            r6(
                F.col("n_tokens") / F.lit(float(SHARD_TOKEN_BUDGET))
            ).alias("budget_utilization"),
        )
        .orderBy("shard_id")
    )


def audit_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus RISK DASHBOARD: every hygiene audit reduced to one row
    — (audit, unit, n_total, n_flagged, flag_rate) for encoding damage,
    PII, exact and near duplication, embedding damage, and bot cadence
    — the one relation a go/no-go review reads (the ``ann_scorecard``
    pattern applied to the audit family; each arm is an already-pinned
    relation reduced to counts, so the dashboard can only say what its
    sources say)."""
    from .dedup import duplicate_clusters, exact_dedup_groups
    from .events import q_bot_score
    from .similarity import embedding_audit
    from .textstats import encoding_audit

    def arm(name, unit, total_col, flagged_col, df):
        return df.agg(
            total_col.alias("n_total"), flagged_col.alias("n_flagged")
        ).select(
            F.lit(name).alias("audit"),
            F.lit(unit).alias("unit"),
            "n_total",
            "n_flagged",
            r6(F.col("n_flagged") / F.col("n_total")).alias("flag_rate"),
        )

    cnt = F.count("*").cast("long")
    parts = [
        arm(
            "encoding_damage", "docs", cnt,
            F.sum((~F.col("is_clean")).cast("long")),
            encoding_audit(spark, sf_dir),
        ),
        arm(
            "pii", "docs", cnt,
            F.sum(F.col("has_pii").cast("long")),
            pii_scan(spark, sf_dir),
        ),
        arm(
            "exact_dup", "docs",
            F.sum("n_docs").cast("long"),
            (F.sum("n_docs") - F.count("*")).cast("long"),
            exact_dedup_groups(spark, sf_dir),
        ),
        arm(
            "near_dup", "docs", cnt,
            F.sum((~F.col("is_keeper")).cast("long")),
            duplicate_clusters(spark, sf_dir),
        ),
        arm(
            "embedding_damage", "vectors",
            F.sum("n_vecs").cast("long"),
            F.sum(
                F.when(F.col("status") != "ok", F.col("n_vecs")).otherwise(0)
            ).cast("long"),
            embedding_audit(spark, sf_dir),
        ),
        arm(
            "bot_cadence", "users", cnt,
            F.sum(F.col("bot_like").cast("long")),
            q_bot_score(spark, sf_dir),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("audit")


#: Model context length the truncation audit prices documents against.
CONTEXT_LEN = 2048


def context_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning table: documents bucketed by
    power-of-two token count, with each bucket's doc count, total
    tokens, how many docs exceed the model context (``CONTEXT_LEN``),
    and the tokens a truncate-at-context policy would discard — the
    numbers that decide context length, packing strategy
    (``curate_shard_pack`` packs what this table sizes), and how much
    long-tail data a truncation policy silently burns.

    One corpus scan (the same BPE-ish token count the shard packer
    uses), one bucket-keyed aggregate over ~30 buckets — map-side
    combined, nothing corpus-sized shuffles. Pure integer columns.
    """
    from .textstats import BPE_ISH_PATTERN

    d = load_table(spark, sf_dir, "documents")
    n_tok = (
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0))
        .cast("long")
    )
    # bucket = floor(log2(n)) as the power-of-two lower bound; 0-token
    # docs get bucket -1 (their own row, visible damage not a crash)
    bucket = F.when(
        F.col("n_tokens") > 0,
        F.floor(F.log2("n_tokens")).cast("long"),
    ).otherwise(F.lit(-1))
    return (
        d.select("doc_id", n_tok.alias("n_tokens"))
        .select(
            "n_tokens",
            bucket.alias("bucket_log2"),
            (F.col("n_tokens") > CONTEXT_LEN).cast("long").alias("truncated"),
            F.greatest(F.col("n_tokens") - CONTEXT_LEN, F.lit(0)).alias(
                "lost"
            ),
        )
        .groupBy("bucket_log2")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum("truncated").cast("long").alias("n_truncated"),
            F.sum("lost").cast("long").alias("tokens_lost"),
        )
        .orderBy("bucket_log2")
    )


# ---------------------------------------------------------------------------
# Pareto frontier (skyline) — multi-criteria document selection
# ---------------------------------------------------------------------------

#: Skyline criteria over documents: maximize n_words (training mass),
#: maximize n_types (vocabulary richness), minimize n_digits (OCR/table
#: noise). All three are exact BIGINTs shared with the DuckDB oracle.
SKYLINE_SCHEMA = (
    "doc_id long, n_words long, n_types long, n_digits long"
)


def _skyline_batch(pdf):
    """Batch-local skyline kernel (numpy): drop every row strictly
    dominated by another row of the SAME batch. Dominance: >= on the
    two maximize axes, <= on the minimize axis, strict on at least one.
    Duplicated coordinate tuples dominate nobody — all copies stay.

    Sort-filter-skyline order: descending (n_words + n_types - presence
    of digits is NOT monotone) — use the classic monotone key n_words +
    n_types - n_digits; a dominator's key is always >= the dominated
    row's key, so one forward pass over the sorted batch suffices."""
    import numpy as np

    if len(pdf) == 0:
        return pdf
    w = pdf["n_words"].to_numpy(dtype=np.int64)
    t = pdf["n_types"].to_numpy(dtype=np.int64)
    g = pdf["n_digits"].to_numpy(dtype=np.int64)
    order = np.argsort(-(w + t - g), kind="stable")
    # grown-in-place frontier buffers; each candidate checks against the
    # kept prefix in one vectorized pass (O(frontier) numpy ops/row)
    cap = 256
    kw = np.empty(cap, dtype=np.int64)
    kt = np.empty(cap, dtype=np.int64)
    kg = np.empty(cap, dtype=np.int64)
    keep_rows = []
    m = 0
    for i in order:
        wi, ti, gi = w[i], t[i], g[i]
        if m:
            dominated = bool(
                np.any(
                    (kw[:m] >= wi)
                    & (kt[:m] >= ti)
                    & (kg[:m] <= gi)
                    & ((kw[:m] > wi) | (kt[:m] > ti) | (kg[:m] < gi))
                )
            )
            if dominated:
                continue
        if m == cap:
            cap *= 2
            kw = np.resize(kw, cap)
            kt = np.resize(kt, cap)
            kg = np.resize(kg, cap)
        kw[m], kt[m], kg[m] = wi, ti, gi
        m += 1
        keep_rows.append(i)
    return pdf.iloc[keep_rows]


def _skyline_map(it):
    for pdf in it:
        yield _skyline_batch(pdf)


def _skyline_merge(it):
    """Merge-pass kernel: fold EVERY Arrow batch of the (coalesced)
    partition into one accumulated frontier and yield once at the end.

    ``mapInPandas`` splits even a single partition into
    ``spark.sql.execution.arrow.maxRecordsPerBatch``-sized batches
    (default 10k), so running the per-batch kernel on the merge pass
    would emit rows that a row in a LATER batch dominates once the
    candidate volume crosses one batch. The fold is exact at any
    volume because skyline is idempotent and distributive:
    skyline(A ∪ B) = skyline(skyline(A) ∪ B)."""
    import pandas as pd

    acc = None
    for pdf in it:
        if len(pdf) == 0:
            continue
        acc = (
            pdf
            if acc is None
            else pd.concat([acc, pdf], ignore_index=True)
        )
        acc = _skyline_batch(acc).reset_index(drop=True)
    if acc is not None:
        yield acc


#: How many frontier layers the onion-peeling query returns.
PARETO_LAYERS = 3


#: Cap on the candidate volume entering the single-partition skyline
#: merge. P10 measured the shrink: independent axes stay thousands of
#: candidates at 50M rows, but ANTI-correlated axes (every point near
#: the tradeoff surface) keep frontiers proportional to the surface —
#: past this cap the merge task (O(candidates x frontier)) is no longer
#: model-sized and the criteria themselves are the problem.
SKYLINE_MERGE_MAX = 2_000_000


def _skyline_of(feats: DataFrame, *, max_merge_rows: int | None = SKYLINE_MERGE_MAX) -> DataFrame:
    """One exact skyline pass: per-partition frontier shrink, then the
    surviving candidates (KBs) merge on one partition. Correct because
    skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)) — idempotent and
    distributive, the same algebra as a partial aggregate.

    Guarded like the exact quadratics: the local pass output is counted
    (cheap — it IS the shrunk relation) and refused past
    ``max_merge_rows``. A frontier that big means near-anti-correlated
    criteria; the fix is a coarser grid on one axis or a dominance-
    preserving pre-filter, not a bigger merge task."""
    from .guard import ExactPathTooLarge

    local = feats.mapInPandas(_skyline_map, SKYLINE_SCHEMA).localCheckpoint(
        eager=False
    )
    if max_merge_rows is not None:
        n = local.count()
        if n > max_merge_rows:
            raise ExactPathTooLarge(
                f"skyline merge: {n:,} local-frontier candidates exceed "
                f"the single-task cap of {max_merge_rows:,} — the "
                f"criteria are near-anti-correlated; coarsen an axis or "
                f"pre-filter, or pass max_merge_rows=None to force it."
            )
    return local.coalesce(1).mapInPandas(_skyline_merge, SKYLINE_SCHEMA)


def pareto_layers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-criteria document tiers: ``PARETO_LAYERS`` onion-peeled
    Pareto frontiers (skylines) over (n_words UP, n_types UP, n_digits
    DOWN). Layer 1 is the set of docs no other doc beats on every axis
    at once; layer 2 is the frontier of the remainder; and so on — the
    ranked tradeoff tiers a curation loop inspects when no single
    quality scalar exists. All criteria are exact BIGINTs, so both
    engines agree bit-for-bit.

    Scale shape: one scan computes all three integer criteria per-row
    (``size``/``array_distinct`` on the normalized words — NO explode,
    NO shuffle; a zero-word doc legitimately enters with n_words=0
    rather than being dropped by an inner join, matching the oracle);
    each layer shrinks every partition to its LOCAL frontier via
    ``mapInPandas`` (frontier size grows polylogarithmically for
    independent axes), and only the per-partition frontiers (KBs) move
    to the single-partition exact merge. The corpus itself never
    shuffles; peeling removes the tiny previous layer by broadcast
    anti-join. The final one-partition pass rides the same model-size
    contract as k-means seeds: a frontier too big to merge on one task
    means the criteria are degenerate, not that the operator should
    shuffle the corpus."""
    d = load_table(spark, sf_dir, "documents")
    digits = F.length("text") - F.length(
        F.regexp_replace(F.col("text"), "[0-9]", "")
    )
    ws = norm_words(F.col("text"))
    feats = (
        d.select(
            "doc_id",
            F.size(ws).cast("long").alias("n_words"),
            F.size(F.array_distinct(ws)).cast("long").alias("n_types"),
            digits.cast("long").alias("n_digits"),
        )
        .localCheckpoint(eager=False)
    )
    remaining = feats
    layers: list[DataFrame] = []
    for layer in range(1, PARETO_LAYERS + 1):
        sky = _skyline_of(remaining).localCheckpoint(eager=False)
        layers.append(sky.withColumn("layer", F.lit(layer).cast("long")))
        if layer < PARETO_LAYERS:
            remaining = remaining.join(
                F.broadcast(sky.select("doc_id")), "doc_id", "left_anti"
            )
    out = layers[0]
    for more in layers[1:]:
        out = out.unionByName(more)
    return out.select(
        "layer", "doc_id", "n_words", "n_types", "n_digits"
    ).orderBy("layer", "doc_id")


# ---------------------------------------------------------------------------
# Epoch plan — token-budget allocation across sources (data budgeting)
# ---------------------------------------------------------------------------

#: Global training token budget the plan allocates (a plan input, not a
#: corpus property — constant across scale factors so the same query is
#: over-subscribed at sf0.01 and under-subscribed at sf0.1, both
#: legitimate plan regimes).
EPOCH_BUDGET_TOKENS = 100_000
#: Repetition ceiling: never draw more than this many epochs of one
#: source (quality degrades past ~4 repeats — the standard data-budget
#: guardrail).
EPOCH_MAX = 4


def epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch data budget per source: how many passes over each
    source a fixed global token budget implies, with a repetition cap.

    Weights: ``floor(sqrt(tokens_available)) * priority`` — sqrt is the
    temperature-0.5 mixture (up-weights small sources), priority is a
    deterministic 1..4 tier hashed from the source name (stand-in for a
    quality tier; md5 arithmetic both engines replay). Targets are
    exact integer floor-division shares of the budget; ``realized``
    caps at ``EPOCH_MAX`` epochs and ``saturated`` flags the sources
    whose target the cap cuts (their shortfall is what a practitioner
    re-allocates or accepts).

    Every gating comparison is BIGINT (floor(sqrt) of an exact-integer
    double is exact; budget*weight stays far under 2^63) — the only
    double is the display ``epochs`` ratio on the shared @6dp grid.
    Scale: one tokenize scan + a 20-row aggregate + a 1-row broadcast
    total; the plan itself is model-sized."""
    d = load_table(spark, sf_dir, "documents")
    per = (
        d.select("source", F.size(norm_words(F.col("text"))).alias("nw"))
        .groupBy("source")
        .agg(F.sum("nw").cast("long").alias("tokens_available"))
    )
    priority = (
        F.conv(F.substring(F.md5(F.concat(F.lit("pri:"), F.col("source"))), 1, 8), 16, 10)
        .cast("long") % 4 + 1
    )
    w = per.select(
        "source",
        "tokens_available",
        (
            F.floor(F.sqrt(F.col("tokens_available"))).cast("long")
            * priority
        ).alias("weight"),
    )
    tot = w.agg(F.sum("weight").cast("long").alias("sum_w"))
    # sum_w = 0 (every source tokenizes empty) must yield a well-defined
    # zero plan, not a NULL (Spark div) vs error (DuckDB //) divergence
    target = F.expr(
        f"CASE WHEN sum_w > 0 THEN "
        f"CAST({EPOCH_BUDGET_TOKENS} AS BIGINT) * weight div sum_w "
        f"ELSE CAST(0 AS BIGINT) END"
    )
    planned = (
        w.crossJoin(F.broadcast(tot))
        .withColumn("target_tokens", target)
        .withColumn(
            "realized_tokens",
            F.least(
                F.col("target_tokens"),
                F.lit(EPOCH_MAX) * F.col("tokens_available"),
            ),
        )
        .withColumn(
            "saturated",
            F.col("target_tokens")
            > F.lit(EPOCH_MAX) * F.col("tokens_available"),
        )
        .withColumn(
            # a zero-token source (possible in a real crawl slice: all
            # docs empty after cleaning) must read 0 epochs, not a
            # divide-by-zero NULL that diverges across engines
            "epochs",
            F.when(
                F.col("tokens_available") > 0,
                r6(F.col("realized_tokens") / F.col("tokens_available")),
            ).otherwise(F.lit(0.0)),
        )
    )
    return planned.select(
        "source",
        "tokens_available",
        "weight",
        "target_tokens",
        "realized_tokens",
        "saturated",
        "epochs",
    ).orderBy("source")


#: Reliability-diagram bucket count (prob deciles, top-inclusive).
CAL_BUCKETS = 10


def classifier_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the learned quality filter: per predicted-
    probability decile, the empirical positive rate vs the mean predicted
    probability and their gap — the standard check that a classifier's
    scores are usable as sampling WEIGHTS (DSIR-style reweighting needs
    calibrated probabilities; precision/recall alone can't tell an
    over-confident filter from a calibrated one).

    Exactness: probabilities are already @6dp-grid values, so they are
    carried as integer MICRO-units (floor(p*1e6+0.5) is exact) — the
    per-bucket sums are BIGINT and order-independent, and every ratio is
    a single identical-op-order expression grid-rounded at the end.
    Scale: one pass over the scored relation, aggregate width = 10 rows.
    """
    scored = quality_classifier(spark, sf_dir)
    b = F.least(
        F.floor(F.col("prob") * 10).cast("long"),
        F.lit(CAL_BUCKETS - 1).cast("long"),
    )
    micro = F.floor(F.col("prob") * 1_000_000 + F.lit(0.5)).cast("long")
    agg = (
        scored.select(
            b.alias("bucket"), micro.alias("micro"), F.col("label")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.col("label").cast("long")).cast("long").alias("n_pos"),
            F.sum("micro").cast("long").alias("sum_micro"),
        )
    )
    mean_prob = (F.col("sum_micro") / F.col("n_docs")) / F.lit(1_000_000.0)
    frac_pos = F.col("n_pos") / F.col("n_docs")
    return agg.select(
        "bucket",
        "n_docs",
        "n_pos",
        r6(frac_pos).alias("frac_pos"),
        r6(mean_prob).alias("mean_prob"),
        r6(F.abs(mean_prob - frac_pos)).alias("calibration_gap"),
    ).orderBy("bucket")
