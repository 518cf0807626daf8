"""Curation operators on a planted corpus with known ground truth — the
fixture tables carry no PII/contamination, so these prove detection,
sampling, and scoring actually work."""

from __future__ import annotations

import hashlib

import pytest

from tf_idf_mapreduce_spark.operators.curation import (
    PROFILE_COLUMNS,
    SAMPLE_BUCKET_MAX,
    contamination_check,
    hash_sample,
    pii_scan,
    profile_table,
    repetition_scores,
)

#: doc 0 is a "benchmark" doc (0 % 23 == 0); doc 1 overlaps it in 5 of its
#: 6 5-grams; doc 2 carries one of each PII kind; doc 3 is 80% one word.
DOCS = [
    (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src0"),
    (1, "alpha beta gamma delta epsilon zeta eta theta iota lambda", "en", "src0"),
    (
        2,
        "contact alice@example.com or 555-867-5309 via https://ex.com at 10.0.0.1",
        "en",
        "src1",
    ),
    (3, "spam spam spam spam ham", "en", "src1"),
]


@pytest.fixture(scope="module")
def planted_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("curation")
    df = spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_pii_scan_finds_each_kind_once(spark, planted_dir):
    rows = {r.doc_id: r for r in pii_scan(spark, planted_dir).collect()}
    assert len(rows) == 4
    hit = rows[2]
    assert (hit.n_email, hit.n_ipv4, hit.n_url, hit.n_phone) == (1, 1, 1, 1)
    assert hit.has_pii
    for clean in (0, 1, 3):
        r = rows[clean]
        assert (r.n_email, r.n_ipv4, r.n_url, r.n_phone) == (0, 0, 0, 0)
        assert not r.has_pii


def test_contamination_flags_only_the_overlapping_doc(spark, planted_dir):
    rows = contamination_check(spark, planted_dir).collect()
    assert len(rows) == 1
    (r,) = rows
    # doc 1 shares the 5 five-gram windows not covering its changed last word
    assert (r.doc_id, r.bench_doc, r.n_shared) == (1, 0, 5)
    assert r.overlap_frac == round(5 / 6, 6)


def test_hash_sample_matches_python_md5_and_nests(spark, planted_dir):
    got = {
        (r.doc_id, r.bucket) for r in hash_sample(spark, planted_dir).collect()
    }
    expect = set()
    for i, t, _, _ in DOCS:
        b = hashlib.md5(f"{i}:{t}".encode()).hexdigest()[:2]
        if b <= SAMPLE_BUCKET_MAX:
            expect.add((i, b))
    assert got == expect
    # sub-sampling by a tighter bound is a strict subset — the property that
    # makes hash sampling composable across pipeline stages
    tighter = {p for p in got if p[1] <= "0c"}
    assert tighter <= got


def test_profile_covers_every_column_exactly(spark, sf_dir):
    rows = {r.col_name: r for r in profile_table(spark, sf_dir).collect()}
    assert set(rows) == set(PROFILE_COLUMNS)
    n_rows = {r.n_rows for r in rows.values()}
    assert len(n_rows) == 1 and n_rows.pop() > 0
    key = rows["o_orderkey"]
    assert key.n_distinct == key.n_rows - key.n_nulls  # key column is unique
    assert rows["o_orderstatus"].n_distinct <= 5


def test_repetition_scores_planted(spark, planted_dir):
    rows = {r.doc_id: r for r in repetition_scores(spark, planted_dir).collect()}
    spammy = rows[3]
    assert (spammy.n_words, spammy.n_distinct) == (5, 2)
    assert (spammy.top_word, spammy.top_word_n) == ("spam", 4)
    assert spammy.distinct_ratio == 0.4
    diverse = rows[0]
    assert diverse.distinct_ratio == 1.0
    assert diverse.top_word == "alpha"  # all-ones tie breaks lexicographically


def test_stratified_sample_respects_per_lang_bounds(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import (
        STRATA_BUCKET_MAX,
        STRATA_DEFAULT_MAX,
        stratified_sample,
    )

    rows = stratified_sample(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.bucket <= STRATA_BUCKET_MAX.get(r.lang, STRATA_DEFAULT_MAX)
    # determinism: identical result on re-run
    again = stratified_sample(spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_sketch_profile_tracks_exact_within_tolerance(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import (
        profile_table,
        profile_table_sketch,
    )

    exact = {r.col_name: r for r in profile_table(spark, sf_dir).collect()}
    sketch = {r.col_name: r for r in profile_table_sketch(spark, sf_dir).collect()}
    assert set(sketch) == set(exact)
    for c, s in sketch.items():
        e = exact[c]
        assert s.n_rows == e.n_rows
        true_nd = e.n_distinct
        assert abs(s.approx_distinct - true_nd) <= max(3, 0.05 * true_nd), c
        assert s.price_p50 <= s.price_p95 <= s.price_p99


def test_length_histogram_covers_corpus_and_respects_buckets(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.textstats import (
        LENGTH_BUCKET,
        length_histogram,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = length_histogram(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    for r in rows:
        lo, hi = r.bucket * LENGTH_BUCKET, (r.bucket + 1) * LENGTH_BUCKET
        assert lo <= r.min_len <= r.max_len < hi


def test_zipf_fit_shape_and_sign(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.textstats import zipf_fit

    r = zipf_fit(spark, sf_dir).head()
    # natural-ish text: frequency falls with rank → negative slope, sane fit
    assert r.n_vocab > 10
    assert r.zipf_slope < 0
    assert 0.0 <= r.zipf_r2 <= 1.0


def test_zipf_rank_equals_global_row_number(spark, sf_dir):
    # the skew-safe histogram-offset rank must equal a plain global
    # row_number over (freq desc, word asc)
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from tf_idf_mapreduce_spark.functions.hashing import norm_words
    from tf_idf_mapreduce_spark.operators.textstats import ZIPF_MIN_FREQ
    from tf_idf_mapreduce_spark.sources.io import load_table

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= ZIPF_MIN_FREQ)
    )
    expect = vocab.select(
        "w",
        F.row_number()
        .over(Window.orderBy(F.desc("n"), F.asc("w")))
        .alias("rank"),
    )
    hist = vocab.groupBy("n").agg(F.count("*").alias("n_words"))
    cum = hist.select(
        "n",
        F.sum("n_words")
        .over(
            Window.orderBy(F.desc("n")).rowsBetween(
                Window.unboundedPreceding, -1
            )
        )
        .alias("offset"),
    ).fillna(0, subset=["offset"])
    got = vocab.join(F.broadcast(cum), "n").select(
        "w",
        (
            F.col("offset")
            + F.row_number().over(Window.partitionBy("n").orderBy(F.asc("w")))
        ).alias("rank"),
    )
    diff = expect.join(got, "w", "full").where(
        expect["rank"] != got["rank"]
    )
    assert diff.count() == 0


def test_keep_list_covers_every_doc_once(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import keep_list

    kl = keep_list(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert kl.count() == n_docs
    assert kl.select("doc_id").distinct().count() == n_docs
    allowed = {"benchmark", "contaminated", "pii", "low_quality", "kept"}
    got = {r.status for r in kl.select("status").distinct().collect()}
    assert got <= allowed


def test_mixture_fractions_sum_to_one(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import mixture_report

    rows = mixture_report(spark, sf_dir).collect()
    total = sum(r.token_frac for r in rows)
    assert abs(total - 1.0) < 1e-3  # 6dp rounding per stratum
    # cumulative is monotone and ends at the total
    ordered = sorted(rows, key=lambda r: (-r.n_tokens, r.lang, r.source))
    assert abs(ordered[-1].cum_token_frac - round(total, 6)) < 1e-9
    cums = [r.cum_token_frac for r in ordered]
    assert cums == sorted(cums)


def test_shard_pack_is_a_valid_packing(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import (
        SHARD_TOKEN_BUDGET,
        shard_pack,
    )

    rows = sorted(shard_pack(spark, sf_dir).collect(), key=lambda r: r.doc_id)
    assert rows
    # the distributed two-phase prefix sum equals the sequential cumsum
    cum = 0
    for r in rows:
        cum += r.n_tokens
        assert r.cum_tokens == cum, r.doc_id
        assert r.shard_id == (r.cum_tokens - r.n_tokens) // SHARD_TOKEN_BUDGET
    # shards are contiguous in doc_id order and non-decreasing
    sids = [r.shard_id for r in rows]
    assert sids == sorted(sids)
    # every shard except possibly the last STARTS within budget: the first
    # doc of shard s has its first token below (s+1)*budget by definition
    for prev, nxt in zip(rows, rows[1:]):
        if nxt.shard_id != prev.shard_id:
            assert nxt.shard_id == (nxt.cum_tokens - nxt.n_tokens) // SHARD_TOKEN_BUDGET


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import (
        WEIGHTED_SAMPLE_M,
        weighted_sample,
    )
    from tf_idf_mapreduce_spark.operators.textstats import token_counts

    sample = weighted_sample(spark, sf_dir).collect()
    assert len(sample) == min(WEIGHTED_SAMPLE_M, 500)
    # deterministic: a second run draws the identical sample
    again = weighted_sample(spark, sf_dir).collect()
    assert [r.doc_id for r in sample] == [r.doc_id for r in again]
    # keys are valid A-ES draws, sorted desc
    keys = [r.sample_key for r in sample]
    assert all(0.0 < k <= 1.0 for k in keys)
    assert keys == sorted(keys, reverse=True)
    # weight-proportional inclusion: sampled docs are token-heavier on
    # average than the corpus (A-ES with w = token count)
    toks = {r.doc_id: r.n_bpe_tokens for r in token_counts(spark, sf_dir).collect()}
    corpus_mean = sum(toks.values()) / len(toks)
    sample_mean = sum(toks[r.doc_id] for r in sample) / len(sample)
    assert sample_mean > corpus_mean


def test_readability_terms_consistent(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.textstats import readability

    rows = readability(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_sentences >= 1
        if r.n_words == 0:
            assert r.flesch is None
        else:
            want = (
                206.835
                - 1.015 * (r.n_words / r.n_sentences)
                - 84.6 * (r.n_syllables / r.n_words)
            )
            assert abs(r.flesch - want) < 1e-6


def test_train_manifest_is_a_valid_packing_of_kept_docs(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import (
        SHARD_TOKEN_BUDGET,
        keep_list,
        train_manifest,
    )

    kept = {r.doc_id for r in keep_list(spark, sf_dir).collect()
            if r.status == "kept"}
    shards = sorted(train_manifest(spark, sf_dir).collect(),
                    key=lambda r: r.shard_id)
    assert shards
    # shard ids are contiguous from 0; every kept doc lands in exactly one
    assert [s.shard_id for s in shards] == list(range(len(shards)))
    assert sum(s.n_docs for s in shards) == len(kept)
    # doc_id ranges are disjoint and increasing (packing is in doc order)
    for a, b in zip(shards, shards[1:]):
        assert a.last_doc_id < b.first_doc_id
    # each shard STARTS within budget: its first token lands inside the
    # shard, so every shard except possibly the last holds >= budget
    # tokens only through its final doc's spillover
    total = sum(s.n_tokens for s in shards)
    assert total // SHARD_TOKEN_BUDGET in (len(shards) - 1, len(shards))


def test_split_report_is_stable_under_corpus_growth(spark, sf_dir):
    # the defining property of a HASH split: a document's assignment
    # depends only on its own (doc_id, text) — restricting the corpus to
    # half the docs must not move any doc between splits
    from tf_idf_mapreduce_spark.operators.curation import (
        SPLIT_TEST_LO,
        SPLIT_VAL_LO,
        _sample_bucket,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    bucket = _sample_bucket()
    split = (
        F.when(bucket < SPLIT_VAL_LO, "train")
        .when(bucket < SPLIT_TEST_LO, "val")
        .otherwise("test")
    )
    full = {r.doc_id: r.s for r in d.select("doc_id", split.alias("s")).collect()}
    half = {
        r.doc_id: r.s
        for r in d.where(F.col("doc_id") % 2 == 0)
        .select("doc_id", split.alias("s"))
        .collect()
    }
    assert half and all(full[k] == v for k, v in half.items())
    # all three splits are populated and train dominates
    from collections import Counter
    c = Counter(full.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > 10 * (c["val"] + c["test"])


def test_source_kl_properties(spark, sf_dir):
    """Gibbs' inequality: every source's KL from the corpus distribution
    is >= 0 (up to the 6dp per-term rounding), and a single-source corpus
    would be exactly 0 — approximated here by checking that token totals
    decompose the corpus exactly."""
    from tf_idf_mapreduce_spark.operators.curation import source_kl
    from tf_idf_mapreduce_spark.functions.hashing import norm_words
    from tf_idf_mapreduce_spark.sources.io import load_table
    from pyspark.sql import functions as F

    rows = source_kl(spark, sf_dir).collect()
    assert rows
    total = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(norm_words(F.col("text"))).alias("w"))
        .count()
    )
    assert sum(r.n_tokens for r in rows) == total
    for r in rows:
        # per-term 6dp rounding can push a tiny true KL a hair below 0
        assert r.kl_nats >= -1e-4, r
        assert r.n_distinct_words > 0


def test_novelty_flags_shared_ngrams_exactly(spark, planted_dir):
    """Docs 0 and 1 share 5 of their 6 distinct 5-grams; docs 2 and 3
    share nothing with anyone. Novelty must be exact per-doc arithmetic,
    never an estimate."""
    from tf_idf_mapreduce_spark.operators.textstats import novelty_scores

    got = {r.doc_id: r for r in novelty_scores(spark, planted_dir).collect()}
    assert got[0].n_grams == 6 and got[0].n_shared == 5
    assert got[1].n_grams == 6 and got[1].n_shared == 5
    assert got[0].novelty == got[1].novelty == round(1 / 6, 6)
    for d in (2, 3):
        assert got[d].n_shared == 0
        assert got[d].novelty == 1.0


def test_quality_buckets_are_language_tertiles(spark, sf_dir):
    """Each language splits into head/middle/tail by its OWN thresholds:
    bucket sizes within a language differ by at most the tie mass at a
    threshold, and every head score <= every tail score per language."""
    from collections import Counter

    from tf_idf_mapreduce_spark.operators.curation import quality_buckets

    rows = quality_buckets(spark, sf_dir).collect()
    assert rows
    by_lang = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, rs in by_lang.items():
        sizes = Counter(r.bucket for r in rs)
        assert set(sizes) <= {"head", "middle", "tail"}
        n = len(rs)
        # an exact tertile split, modulo ties exactly at a threshold
        assert sizes["head"] >= n // 3, (lang, sizes)
        heads = [r.lm_score for r in rs if r.bucket == "head"]
        tails = [r.lm_score for r in rs if r.bucket == "tail"]
        if heads and tails:
            assert max(heads) <= min(tails)
        # thresholds are constant within the language
        assert len({(r.t_head, r.t_middle) for r in rs}) == 1


def test_attrition_report_reconciles_with_keep_list(spark, sf_dir):
    from tf_idf_mapreduce_spark.operators.curation import (
        ATTRITION_STAGES,
        attrition_report,
        keep_list,
    )

    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.operators.dedup import semantic_keep

    kl = keep_list(spark, sf_dir)
    total = kl.count()
    # final survivors = keep-list kept MINUS the SemDeDup stage's drops
    # (the funnel's last stage; docs without embeddings pass it)
    sem_dropped = {
        r.doc_id
        for r in semantic_keep(spark, sf_dir)
        .where("status = 'semantic_dup'")
        .collect()
    }
    kept = (
        kl.where("status = 'kept'")
        .where(~F.col("doc_id").isin(sem_dropped) if sem_dropped else F.lit(True))
        .count()
    )
    rows = sorted(attrition_report(spark, sf_dir).collect(), key=lambda r: r.stage_idx)
    assert [r.stage for r in rows] == ATTRITION_STAGES
    assert sum(r.n_removed for r in rows) == total - kept
    assert rows[-1].n_remaining == kept
    prev = total
    for r in rows:
        assert 0 <= r.n_removed <= prev
        assert r.n_remaining == prev - r.n_removed
        prev = r.n_remaining


def test_chunking_covers_every_token_with_overlap(spark, sf_dir):
    """Chunk windows must tile each document: chunk i starts at token
    i*stride, all but possibly the last are full-width, consecutive
    chunks overlap by size-stride tokens, and every doc appears."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.functions.hashing import norm_words
    from tf_idf_mapreduce_spark.operators.textstats import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        chunk_documents,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    docs = {
        r.doc_id: r.w
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", norm_words(F.col("text")).alias("w"))
        .collect()
    }
    chunks = chunk_documents(spark, sf_dir).collect()
    assert {c.doc_id for c in chunks} == set(docs)
    by_doc = {}
    for c in chunks:
        by_doc.setdefault(c.doc_id, []).append(c)
    for doc_id, cs in list(by_doc.items())[:50]:
        words = docs[doc_id]
        cs.sort(key=lambda c: c.chunk_idx)
        assert [c.chunk_idx for c in cs] == list(range(len(cs)))
        for c in cs:
            start = c.chunk_idx * CHUNK_STRIDE
            want = words[start : start + CHUNK_TOKENS]
            assert c.n_tokens == len(want)
            assert c.chunk_text == " ".join(want)
        # full coverage: the last chunk reaches the document's end
        last = cs[-1]
        assert last.chunk_idx * CHUNK_STRIDE + last.n_tokens >= len(words)


def test_boilerplate_chunks_report_real_repetitions(spark, planted_dir):
    """On a planted corpus where two docs share their full text, every
    chunk of the shared text must surface with n_docs >= 2; the disjoint
    doc's chunks must not appear."""
    from tf_idf_mapreduce_spark.operators.textstats import boilerplate_chunks

    # reuse the curation planted corpus: docs 0/1 differ only in the last
    # word, so their first chunk (32-token window over a 10-word doc =
    # the whole doc) differs; plant a true duplicate pair instead
    import tempfile

    d = tempfile.mkdtemp(prefix="boiler_")
    rows = [
        (0, "shared header text " * 3 + "unique tail alpha", "en", "s0"),
        (1, "shared header text " * 3 + "unique tail beta", "en", "s0"),
        (2, "completely different content here", "en", "s1"),
    ]
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = boilerplate_chunks(spark, d).collect()
    # 13-token docs -> one 32-token chunk each; chunks differ in the tail
    # word, so nothing repeats verbatim at the chunk level here
    assert got == []

    rows2 = rows + [(3, rows[0][1], "en", "s2")]  # exact duplicate of doc 0
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in rows2],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got2 = boilerplate_chunks(spark, d).collect()
    assert len(got2) == 1
    assert got2[0].n_occurrences == 2 and got2[0].n_docs == 2


def test_importance_weights_favor_target_language(spark, sf_dir):
    """The weight's defining property: English documents must score
    higher on average than non-English ones (the weights aim the corpus
    at the lang='en' target slice), and token counts must match the
    whitespace tokenization."""
    from pyspark.sql import functions as F

    import tf_idf_mapreduce_spark.operators.curation as cur

    w = cur.importance_weights(spark, sf_dir)
    docs = cur.load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = w.join(docs, "doc_id")
    means = {
        r.is_en: r.mean_w
        for r in joined.groupBy(
            (F.col("lang") == cur.IMPORTANCE_TARGET_LANG).alias("is_en")
        )
        .agg(F.avg(F.col("log_weight") / F.col("n_tokens")).alias("mean_w"))
        .collect()
    }
    assert means[True] > means[False]


def test_importance_resample_is_weight_biased_and_deterministic(spark, sf_dir):
    """The Gumbel-top-m sample must re-run bit-identically (hash-derived
    randomness) and be biased toward high-weight documents: the sampled
    docs' mean per-token weight exceeds the corpus mean."""
    from pyspark.sql import functions as F

    import tf_idf_mapreduce_spark.operators.curation as cur

    s1 = cur.importance_resample(spark, sf_dir).collect()
    s2 = cur.importance_resample(spark, sf_dir).collect()
    assert [tuple(r) for r in s1] == [tuple(r) for r in s2]
    assert len(s1) == cur.WEIGHTED_SAMPLE_M

    w = cur.importance_weights(spark, sf_dir).select(
        "doc_id", (F.col("log_weight") / F.col("n_tokens")).alias("ptw")
    )
    corpus_mean = w.agg(F.avg("ptw")).collect()[0][0]
    sampled_ids = {r.doc_id for r in s1}
    sample_mean = (
        w.where(F.col("doc_id").isin(sampled_ids)).agg(F.avg("ptw")).collect()[0][0]
    )
    assert sample_mean > corpus_mean


#: Planted cleaning fixture: a tile-aligned 32-token boilerplate header
#: shared by docs 10/11 (11's copy lowercased — matching is
#: case-insensitive, removal preserves raw bytes), a fully-unique doc
#: with odd whitespace (byte-for-byte passthrough), and an exact-dup
#: pair (first copy survives untouched, second empties).
_BOILER = [f"Tok{i:02d}" for i in range(32)]
CLEAN_DOCS = [
    (10, " ".join(_BOILER + ["unique", "ten", "words", "here", "now"])),
    (11, " ".join([t.lower() for t in _BOILER] + ["other", "tail", "content"])),
    (12, "entirely  unique   text with   odd   spacing"),
    (13, " ".join(f"unique{i}" for i in range(40))),
    (14, " ".join(f"unique{i}" for i in range(40))),
]


@pytest.fixture(scope="module")
def clean_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("cleaning")
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in CLEAN_DOCS],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_clean_corpus_removes_planted_span_keeps_first(spark, clean_dir):
    from tf_idf_mapreduce_spark.operators.textstats import clean_corpus

    rows = {r.doc_id: r for r in clean_corpus(spark, clean_dir).collect()}
    assert set(rows) == {10, 11, 12, 13, 14}

    # first occurrence of the shared header (doc 10) survives untouched —
    # byte-for-byte the original text, case intact
    assert rows[10].n_tiles_removed == 0
    assert rows[10].cleaned_text == CLEAN_DOCS[0][1]

    # doc 11's lowercased copy matched case-insensitively and is removed;
    # its unique tail survives with original bytes
    assert rows[11].n_tiles_removed == 1
    assert rows[11].n_tokens_removed == 32
    assert rows[11].cleaned_text == "other tail content"

    # non-duplicated text passes through byte-for-byte, odd spacing and all
    assert rows[12].n_tiles_removed == 0
    assert rows[12].cleaned_text == CLEAN_DOCS[2][1]

    # exact-dup pair: the lower-doc_id copy keeps everything, the other
    # loses every tile (both the full 32-token tile and the 8-token tail)
    assert rows[13].n_tiles_removed == 0
    assert rows[13].cleaned_text == CLEAN_DOCS[3][1]
    assert rows[14].n_tiles_removed == rows[14].n_tiles == 2
    assert rows[14].n_tokens_removed == 40
    assert rows[14].cleaned_text == ""


def test_e2e_manifest_invariants(spark, sf_dir):
    """The composed pipeline manifest must be internally consistent:
    statuses from the declared stage set, selection only among kept docs,
    exactly min(m, kept) selected, shard ids dense from 0 in doc order."""
    from tf_idf_mapreduce_spark.operators.curation import (
        E2E_RESAMPLE_M,
        SHARD_TOKEN_BUDGET,
        e2e_manifest,
    )

    rows = e2e_manifest(spark, sf_dir).collect()
    stages = {
        "benchmark", "exact_dup", "lexical_dup", "semantic_dup",
        "low_quality", "pii", "contaminated", "kept",
    }
    assert {r.status for r in rows} <= stages
    kept = [r for r in rows if r.status == "kept"]
    sel = [r for r in rows if r.selected]
    assert all(r.status == "kept" for r in sel)
    assert len(sel) == min(E2E_RESAMPLE_M, len(kept))
    assert all(r.shard_id is not None and r.n_tokens > 0 for r in sel)
    assert all(r.shard_id is None and r.n_tokens is None
               for r in rows if not r.selected)
    # shard assignment replays the running-sum rule in doc order
    cum = 0
    for r in sorted(sel, key=lambda r: r.doc_id):
        assert r.shard_id == cum // SHARD_TOKEN_BUDGET
        cum += r.n_tokens


def test_features_table_total_and_consistent(spark, sf_dir):
    """The feature export is TOTAL (one row per document, left joins) and
    each scalar column agrees with the operator that owns it."""
    from tf_idf_mapreduce_spark.operators.curation import (
        features_table,
        pii_scan,
    )
    from tf_idf_mapreduce_spark.operators.textstats import quality_scores
    from tf_idf_mapreduce_spark.sources.io import load_table

    feats = {r.doc_id: r for r in features_table(spark, sf_dir).collect()}
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(feats) == n_docs

    q = {r.doc_id: r for r in quality_scores(spark, sf_dir).collect()}
    p = {r.doc_id: r for r in pii_scan(spark, sf_dir).collect()}
    for doc_id, f in feats.items():
        assert f.quality_keep == q[doc_id].keep
        assert f.n_words == q[doc_id].n_words
        assert f.has_pii == p[doc_id].has_pii


def test_quality_classifier_matches_numpy_replay(spark, sf_dir):
    """The distributed grid-GD must land on the exact weights/probs a
    single-process numpy replay of the same update rule produces — the
    determinism claim the DuckDB oracle also relies on."""
    import math

    import numpy as np

    from tf_idf_mapreduce_spark.operators.curation import (
        QC_ITERS,
        QC_LR,
        _qc_features,
        quality_classifier,
    )

    feats = _qc_features(spark, sf_dir).toPandas().sort_values("doc_id")
    X = np.column_stack(
        [np.ones(len(feats)), feats.x1, feats.x2, feats.x3]
    )
    y = feats.y.to_numpy().astype(float)

    def r6(v):
        return np.floor(v * 1e6 + 0.5) / 1e6

    w = [0.0, 0.0, 0.0, 0.0]
    for _ in range(QC_ITERS):
        p = r6(1.0 / (1.0 + np.exp(-(X @ np.array(w)))))
        g = np.floor((p - y)[:, None] * X * 1e6 + 0.5).sum(axis=0)
        w = [
            math.floor((w[j] - QC_LR * g[j] / len(X) / 1e6) * 1e6 + 0.5) / 1e6
            for j in range(4)
        ]
    p = r6(1.0 / (1.0 + np.exp(-(X @ np.array(w)))))

    got = (
        quality_classifier(spark, sf_dir)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert np.array_equal(got.prob.to_numpy(), p)
    assert np.array_equal(got.pred.to_numpy(), p >= 0.5)
    assert np.array_equal(got.label.to_numpy(), y == 1)
    # the learned model must actually separate: fixture accuracy ~0.83
    acc = ((p >= 0.5) == (y > 0.5)).mean()
    assert acc >= 0.75
    # and must not be the degenerate always-one-class model
    assert 0.05 < (p >= 0.5).mean() < 0.95


def test_classifier_eval_consistent_with_scores(spark, sf_dir):
    """The confusion matrix must tie out against the scored relation and
    the derived ratios against their integer definitions."""
    from tf_idf_mapreduce_spark.operators.curation import (
        classifier_eval,
        quality_classifier,
    )

    scored = quality_classifier(spark, sf_dir).toPandas()
    r = classifier_eval(spark, sf_dir).head()
    tp = int(((scored.pred) & (scored.label)).sum())
    fp = int(((scored.pred) & (~scored.label)).sum())
    fn = int(((~scored.pred) & (scored.label)).sum())
    tn = int(((~scored.pred) & (~scored.label)).sum())
    assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
    assert r.tp + r.fp + r.fn + r.tn == len(scored)
    import math

    assert r.accuracy == math.floor((tp + tn) / len(scored) * 1e6 + 0.5) / 1e6
    if tp + fp:
        assert r.precision == math.floor(tp / (tp + fp) * 1e6 + 0.5) / 1e6
    # the fixture model is a real separator, not a constant predictor
    assert r.accuracy >= 0.75


def test_classifier_roc_monotone_and_ties_out(spark, sf_dir):
    """Recall must be non-increasing in the threshold, every row's
    confusion counts must sum to the corpus, and the 0.5 row must equal
    the point-estimate eval report."""
    from tf_idf_mapreduce_spark.operators.curation import (
        classifier_eval,
        classifier_roc,
    )

    rows = classifier_roc(spark, sf_dir).collect()
    assert [r.threshold for r in rows] == [
        0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9
    ]
    n = rows[0].tp + rows[0].fp + rows[0].fn + rows[0].tn
    recalls = [r.recall for r in rows]
    assert all(a >= b for a, b in zip(recalls, recalls[1:]))
    for r in rows:
        assert r.tp + r.fp + r.fn + r.tn == n
    ev = classifier_eval(spark, sf_dir).head()
    mid = next(r for r in rows if r.threshold == 0.5)
    assert (mid.tp, mid.fp, mid.fn, mid.tn) == (ev.tp, ev.fp, ev.fn, ev.tn)


def test_sequence_pack_invariants(spark, sf_dir):
    """Pieces tile the token stream exactly: per doc they sum to
    n_tokens with contiguous doc offsets; per sequence they fit in
    SEQ_PACK_LEN without overlap; every interior sequence is full."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.operators.curation import (
        SEQ_PACK_LEN,
        sequence_pack,
    )
    from tf_idf_mapreduce_spark.operators.textstats import BPE_ISH_PATTERN

    rows = sequence_pack(spark, sf_dir).collect()
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    want = {
        r.doc_id: r.n
        for r in d.select(
            "doc_id",
            F.size(
                F.regexp_extract_all(F.col("text"), F.lit(BPE_ISH_PATTERN), 0)
            ).alias("n"),
        ).collect()
        if r.n > 0
    }
    by_doc, by_seq = defaultdict(list), defaultdict(list)
    for r in rows:
        assert r.piece_len > 0
        by_doc[r.doc_id].append(r)
        by_seq[r.seq_id].append(r)
    assert set(by_doc) == set(want)
    for doc, ps in by_doc.items():
        ps.sort(key=lambda r: r.doc_offset)
        assert sum(p.piece_len for p in ps) == want[doc]
        off = 0
        for p in ps:
            assert p.doc_offset == off
            off += p.piece_len
    full = max(by_seq)
    for seq, ps in by_seq.items():
        ps.sort(key=lambda r: r.seq_offset)
        off = ps[0].seq_offset
        for p in ps:
            assert p.seq_offset == off
            off += p.piece_len
        assert off <= SEQ_PACK_LEN
        if seq < full:  # interior sequences are packed to the brim
            assert ps[0].seq_offset == 0 and off == SEQ_PACK_LEN


def test_packed_sequences_reconstruct_the_corpus(spark, sf_dir):
    """Concatenating the packed sequences in seq_id order must
    reproduce the corpus token stream in doc_id order exactly, with
    every interior sequence holding exactly SEQ_PACK_LEN tokens."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.operators.curation import (
        SEQ_PACK_LEN,
        packed_sequences,
    )
    from tf_idf_mapreduce_spark.operators.textstats import BPE_ISH_PATTERN

    rows = packed_sequences(spark, sf_dir).collect()
    rows.sort(key=lambda r: r.seq_id)
    stream = " ".join(r.packed_text for r in rows).split(" ")
    want = []
    for r in (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            "doc_id",
            F.regexp_extract_all(
                F.col("text"), F.lit(BPE_ISH_PATTERN), 0
            ).alias("t"),
        )
        .orderBy("doc_id")
        .collect()
    ):
        want.extend(r.t)
    assert stream == want
    for r in rows[:-1]:
        assert r.n_tokens == SEQ_PACK_LEN
        assert len(r.packed_text.split(" ")) == SEQ_PACK_LEN


def test_incremental_manifest_composes_the_screens(spark, sf_dir):
    """Row set == the batch slice; every status agrees with the component
    operator that owns it, under first-reason-wins severity."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.operators import curation as cur
    from tf_idf_mapreduce_spark.operators import dedup as dd

    man = {r.doc_id: r for r in cur.incremental_manifest(spark, sf_dir).collect()}
    inc = {r.doc_id: r for r in dd.incremental_dedup(spark, sf_dir).collect()}
    sem = {
        r.doc_id: r
        for r in dd.incremental_semantic_dedup(spark, sf_dir).collect()
    }
    assert set(man) == set(inc) == set(sem)
    for i, r in man.items():
        if r.status == "benchmark":
            assert i % cur.CONTAM_BENCH_MOD == 0
        if r.status == "near_dup":
            assert inc[i].status == "drop"
            assert r.match_doc_id == inc[i].match_doc_id
        elif r.status == "semantic_dup":
            assert inc[i].status == "keep" and sem[i].status == "drop"
            assert r.match_doc_id == sem[i].match_doc_id
        else:
            assert r.match_doc_id is None
        if r.status == "admitted":
            assert (
                inc[i].status == "keep" and sem[i].status == "keep"
            ) or i % cur.CONTAM_BENCH_MOD == 0


def test_cluster_balanced_sample_laws(spark, sf_dir):
    """Quota respected per cell; ranks dense from 1; sample size =
    min(quota, cell size) per cell; every doc belongs to its cell per
    the shared assignment."""
    from collections import Counter

    from tf_idf_mapreduce_spark.operators import curation as cur

    rows = cur.cluster_balanced_sample(spark, sf_dir).collect()
    by_cell = Counter(r.cid for r in rows)
    n_cell = {r.cid: r.n_cell for r in rows}
    for cid, n in by_cell.items():
        assert n == min(cur.CLUSTER_SAMPLE_QUOTA, n_cell[cid])
        ranks = sorted(r.sample_rank for r in rows if r.cid == cid)
        assert ranks == list(range(1, n + 1))
    # every non-empty cell appears (it contributes >= 1 sampled row), so
    # the attached cell sizes must sum to the full embedding count
    emb_n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(n_cell.values()) == emb_n


def test_contamination_bloom_laws(spark, sf_dir):
    """Bloom one-sidedness per doc (no false negatives: bloom_pos >=
    exact_shared, false_pos = difference), coverage (every corpus doc
    with grams appears), and the exact side agrees with an independent
    recomputation via the contamination gram relation."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.operators import curation as cur

    rows = cur.contamination_bloom(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.doc_id % cur.CONTAM_BENCH_MOD != 0
        assert 0 <= r.n_exact_shared <= r.n_bloom_pos <= r.n_grams
        assert r.n_false_pos == r.n_bloom_pos - r.n_exact_shared

    grams = cur._doc_ngram_hashes(spark, sf_dir)
    bench = grams.where(F.col("doc_id") % cur.CONTAM_BENCH_MOD == 0).select("h").distinct()
    exact = {
        r.doc_id: r.n
        for r in grams.where(F.col("doc_id") % cur.CONTAM_BENCH_MOD != 0)
        .join(bench, "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    got = {r.doc_id: r.n_exact_shared for r in rows}
    for d, n in exact.items():
        assert got[d] == n
    assert all(n == 0 for d, n in got.items() if d not in exact)


def test_mixture_temperature_laws(spark, sf_dir):
    """Per-alpha weights sum to 1; alpha=1 weights equal raw shares;
    lower alpha compresses the spread (max/min ratio shrinks
    monotonically); epochs conserve the token budget."""
    from collections import defaultdict

    from tf_idf_mapreduce_spark.operators.curation import (
        MIXTURE_TEMPERATURES,
        mixture_temperature,
    )

    rows = mixture_temperature(spark, sf_dir).collect()
    by_alpha = defaultdict(list)
    for r in rows:
        by_alpha[r.alpha].append(r)
    assert set(by_alpha) == set(MIXTURE_TEMPERATURES)
    spread = {}
    for a, rs in by_alpha.items():
        s = sum(r.weight for r in rs)
        assert abs(s - 1.0) < 1e-4, a
        ws = [r.weight for r in rs if r.weight > 0]
        spread[a] = max(ws) / min(ws)
        # budget conservation: sum_i epochs_i * n_tokens_i == total tokens
        tot = sum(r.n_tokens for r in rs)
        eff = sum(r.effective_epochs * r.n_tokens for r in rs)
        assert abs(eff - tot) / tot < 1e-3, a
    for r in by_alpha[1.0]:
        assert abs(r.weight - r.token_frac) < 2e-6
    alphas = sorted(MIXTURE_TEMPERATURES)
    for lo, hi in zip(alphas, alphas[1:]):
        assert spread[lo] <= spread[hi] + 1e-9, (lo, hi)


def test_bpe_shard_pack_laws(spark, sf_dir):
    """Budget-packing invariants under the BPE token measure: every doc
    present exactly once, cum is the doc_id-ordered prefix sum, shard
    ids are non-decreasing, and each doc's n_tokens equals the encode
    stats' n_bpe_tokens."""
    from tf_idf_mapreduce_spark.operators.curation import (
        SHARD_TOKEN_BUDGET,
        bpe_shard_pack,
    )
    from tf_idf_mapreduce_spark.operators.textstats import bpe_encode_stats
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = sorted(bpe_shard_pack(spark, sf_dir).collect(), key=lambda r: r.doc_id)
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    enc = {r.doc_id: r.n_bpe_tokens for r in bpe_encode_stats(spark, sf_dir).collect()}
    cum = 0
    prev_shard = 0
    for r in rows:
        assert r.n_tokens == enc.get(r.doc_id, 0)
        cum += r.n_tokens
        assert r.cum_tokens == cum
        assert r.shard_id == (r.cum_tokens - r.n_tokens) // SHARD_TOKEN_BUDGET
        assert r.shard_id >= prev_shard
        prev_shard = r.shard_id
    assert rows[-1].shard_id > 0, "fixture spans multiple shards"


def test_pii_redact_rewrites_spans_and_preserves_clean_text(spark, tmp_path):
    """Planted PII disappears behind typed placeholders in declaration
    order (email inside a URL is swallowed by the URL rewrite), clean
    documents survive byte-for-byte with changed=false."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.curation import pii_redact

    docs = {
        0: "write to a.b@example.com or call 555-123-4567 now",
        1: "server at 10.0.0.1 behind https://x.io/a?u=c@d.org path",
        2: "no sensitive content here, just words",
    }
    pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": list(docs.values()),
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(v) for v in docs.values()],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {r.doc_id: r for r in pii_redact(spark, str(tmp_path)).collect()}
    assert got[0].clean_text == "write to <EMAIL> or call <PHONE> now"
    assert got[0].changed
    # the email inside the URL was rewritten first, then the URL rewrite
    # swallowed the whole token (no space before the path suffix)
    assert got[1].clean_text == "server at <IPV4> behind <URL> path"
    assert got[1].changed
    assert got[2].clean_text == docs[2] and not got[2].changed


def test_dp_counts_deterministic_noise_injection_replays(
    spark, tmp_path
):
    """The demo release must (a) not emit a column named n_true,
    (b) add exactly the inverse-CDF Laplace-shaped noise a Python
    replay derives from the same md5 uniform — which is also the proof
    that the noise is PUBLIC and recomputable, i.e. this is a
    noise-injection demo, not a DP release — and (c) be reproducible:
    same partition, same noise."""
    import hashlib
    import math

    import pandas as pd

    from tf_idf_mapreduce_spark.operators.curation import (
        DP_EPSILON,
        dp_counts,
    )

    langs = ["en"] * 7 + ["de"] * 3
    pd.DataFrame(
        {
            "doc_id": range(10),
            "text": ["x"] * 10,
            "lang": langs,
            "source": ["web"] * 10,
            "n_chars": [1] * 10,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    rows = {(r.lang, r.source): r for r in dp_counts(spark, str(tmp_path)).collect()}
    assert set(rows) == {("en", "web"), ("de", "web")}
    assert "n_true" not in rows[("en", "web")].asDict()

    def replay(lang, source, n_true):
        h = hashlib.md5(f"dp:{lang}:{source}".encode()).hexdigest()
        u = (int(h[:8], 16) + 0.5) / float(1 << 32)
        t = u - 0.5
        noise = (-1.0 / DP_EPSILON) * math.copysign(1.0, t) * math.log(
            1.0 - 2.0 * abs(t)
        )
        return math.floor((n_true + noise) * 1_000_000 + 0.5) / 1_000_000

    assert rows[("en", "web")].n_released == replay("en", "web", 7)
    assert rows[("de", "web")].n_released == replay("de", "web", 3)
    again = {
        (r.lang, r.source): r.n_released
        for r in dp_counts(spark, str(tmp_path)).collect()
    }
    assert again == {k: v.n_released for k, v in rows.items()}


def test_k_anonymity_flags_small_classes(spark, tmp_path):
    """A QI class of 1 is flagged, a class of K_ANONYMITY_K passes, and
    length bucketing is the generalization boundary."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.curation import (
        K_ANON_LEN_BUCKET as B,
        K_ANONYMITY_K as K,
        k_anonymity,
    )

    n_chars = [10] * K + [B + 10] + [10] * 2
    langs = ["en"] * (K + 1) + ["de"] * 2
    pd.DataFrame(
        {
            "doc_id": range(len(n_chars)),
            "text": ["x"] * len(n_chars),
            "lang": langs,
            "source": ["web"] * len(n_chars),
            "n_chars": n_chars,
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {
        (r.lang, r.source, r.len_bucket): r
        for r in k_anonymity(spark, str(tmp_path)).collect()
    }
    assert got[("en", "web", 0)].n_docs == K
    assert got[("en", "web", 0)].k_anonymous
    assert got[("en", "web", B)].n_docs == 1
    assert not got[("en", "web", B)].k_anonymous
    assert not got[("de", "web", 0)].k_anonymous


def test_data_card_on_a_planted_corpus(spark, tmp_path):
    """Hand-computable card: 4 docs, one exact duplicate pair, one PII
    doc, two langs (3:1 split -> known entropy)."""
    import math

    import pandas as pd

    from tf_idf_mapreduce_spark.operators.curation import data_card

    texts = ["a b c", "a b c", "mail me a@b.co now", "d e"]
    pd.DataFrame(
        {
            "doc_id": range(4),
            "text": texts,
            "lang": ["en", "en", "en", "de"],
            "source": ["w", "w", "x", "w"],
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    r = data_card(spark, str(tmp_path)).head()
    assert (r.n_docs, r.n_langs, r.n_sources) == (4, 2, 2)
    assert r.n_tokens == 3 + 3 + 4 + 2
    assert r.pii_frac == 0.25
    assert r.exact_dup_frac == 0.25  # one copy beyond the keeper
    assert r.mean_doc_tokens == 3.0
    want_h = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25))
    assert abs(r.lang_entropy - want_h) < 1e-5


def test_split_leakage_laws(spark, sf_dir):
    """Split pairs are unordered (split_a <= split_b), leaky <= pairs,
    and the matrix recounts from composing the two source relations."""
    import hashlib

    from tf_idf_mapreduce_spark.operators.curation import (
        LEAK_JACCARD,
        SPLIT_TEST_LO,
        SPLIT_VAL_LO,
        split_leakage,
    )
    from tf_idf_mapreduce_spark.operators.dedup import jaccard_verified_pairs
    from tf_idf_mapreduce_spark.sources.io import load_table

    def split_of(doc_id, text):
        b = hashlib.md5(f"{doc_id}:{text or ''}".encode()).hexdigest()[:2]
        return "train" if b < SPLIT_VAL_LO else ("val" if b < SPLIT_TEST_LO else "test")

    splits = {
        r.doc_id: split_of(r.doc_id, r.text)
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    want = {}
    for r in jaccard_verified_pairs(spark, sf_dir).collect():
        key = tuple(sorted((splits[r.doc_a], splits[r.doc_b])))
        n, leak, mx = want.get(key, (0, 0, 0.0))
        want[key] = (
            n + 1,
            leak + (1 if r.jaccard >= LEAK_JACCARD else 0),
            max(mx, r.jaccard),
        )
    got = {
        (r.split_a, r.split_b): (r.n_pairs, r.n_leaky, r.max_jaccard)
        for r in split_leakage(spark, sf_dir).collect()
    }
    assert got == want
    for (a, b), (n, leak, _mx) in got.items():
        assert a <= b and 0 <= leak <= n


def test_shard_balance_recounts_the_manifest(spark, sf_dir):
    """The balance report recounts shard_pack's manifest exactly, and
    every NON-final shard crosses the budget boundary (its last doc's
    first token lands inside the budget by construction)."""
    from tf_idf_mapreduce_spark.operators.curation import (
        SHARD_TOKEN_BUDGET,
        shard_balance_report,
        shard_pack,
    )

    manifest = shard_pack(spark, sf_dir).collect()
    want = {}
    for r in manifest:
        n, tok, lo, hi = want.get(r.shard_id, (0, 0, None, None))
        want[r.shard_id] = (
            n + 1,
            tok + r.n_tokens,
            r.doc_id if lo is None else min(lo, r.doc_id),
            r.doc_id if hi is None else max(hi, r.doc_id),
        )
    got = {r.shard_id: r for r in shard_balance_report(spark, sf_dir).collect()}
    assert set(got) == set(want)
    last_shard = max(got)
    for sid, r in got.items():
        assert (r.n_docs, r.n_tokens, r.first_doc_id, r.last_doc_id) == want[sid]
        # the repo's half-up floor grid, NOT Python round(): 3360/4096 =
        # 0.8203125 sits exactly on a 6dp boundary and banker's rounding
        # would disagree with both engines
        import math

        assert r.budget_utilization == (
            math.floor(r.n_tokens / SHARD_TOKEN_BUDGET * 1_000_000 + 0.5)
            / 1_000_000
        )
        if sid != last_shard:
            # the doc that OPENS the next shard started within budget,
            # so this shard's tokens spill past the budget boundary
            assert r.n_tokens >= 1


def test_audit_dashboard_recounts_its_sources(spark, sf_dir):
    """Each dashboard row recounts its source relation; rates obey
    0 <= flagged <= total."""
    import math

    from tf_idf_mapreduce_spark.operators.curation import (
        audit_dashboard,
        pii_scan,
    )
    from tf_idf_mapreduce_spark.operators.dedup import duplicate_clusters
    from tf_idf_mapreduce_spark.operators.textstats import encoding_audit

    got = {r.audit: r for r in audit_dashboard(spark, sf_dir).collect()}
    assert set(got) == {
        "encoding_damage", "pii", "exact_dup", "near_dup",
        "embedding_damage", "bot_cadence",
    }
    for r in got.values():
        assert 0 <= r.n_flagged <= r.n_total
        assert r.flag_rate == (
            math.floor(r.n_flagged / r.n_total * 1_000_000 + 0.5) / 1_000_000
        )
    enc = encoding_audit(spark, sf_dir).collect()
    assert got["encoding_damage"].n_total == len(enc)
    assert got["encoding_damage"].n_flagged == sum(
        1 for r in enc if not r.is_clean
    )
    pii = pii_scan(spark, sf_dir).collect()
    assert got["pii"].n_flagged == sum(1 for r in pii if r.has_pii)
    cl = duplicate_clusters(spark, sf_dir).collect()
    assert got["near_dup"].n_flagged == sum(1 for r in cl if not r.is_keeper)


def test_incremental_manifest_persist_screens_identical(spark, sf_dir):
    """persist_screens changes the execution strategy (eager screen
    barriers vs lazy composition) and must not change one row of the
    admission manifest or the composed index fold."""
    from tf_idf_mapreduce_spark.operators.curation import incremental_manifest
    from tf_idf_mapreduce_spark.operators.tfidf import incremental_e2e_index

    lazy = sorted(
        map(
            tuple,
            incremental_manifest(
                spark, sf_dir, persist_screens=False
            ).collect(),
        )
    )
    eager = sorted(
        map(
            tuple,
            incremental_manifest(
                spark, sf_dir, persist_screens=True
            ).collect(),
        )
    )
    assert lazy == eager
    lazy_ix = sorted(
        map(
            tuple,
            incremental_e2e_index(
                spark, sf_dir, persist_screens=False
            ).collect(),
        )
    )
    eager_ix = sorted(
        map(
            tuple,
            incremental_e2e_index(
                spark, sf_dir, persist_screens=True
            ).collect(),
        )
    )
    assert lazy_ix == eager_ix


def test_context_histogram_buckets_and_truncation(spark, tmp_path_factory):
    """Token counts land in their floor-log2 buckets; docs past
    CONTEXT_LEN are counted truncated with the exact token loss; empty
    docs surface in the -1 bucket."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.curation import (
        CONTEXT_LEN,
        context_length_histogram,
    )

    d = tmp_path_factory.mktemp("ctx")
    texts = [
        "",  # 0 tokens -> bucket -1
        "a b c",  # 3 tokens -> bucket 1
        "w " * (CONTEXT_LEN + 100),  # over context -> truncated
    ]
    pd.DataFrame(
        {
            "doc_id": range(3),
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet")
    rows = {r.bucket_log2: r for r in context_length_histogram(spark, str(d)).collect()}
    assert rows[-1].n_docs == 1 and rows[-1].total_tokens == 0
    assert rows[1].n_docs == 1 and rows[1].total_tokens == 3
    big = rows[11]  # floor(log2(2148)) = 11
    assert big.n_truncated == 1 and big.tokens_lost == 100


def test_pareto_layers_dominance_and_invariance(spark, sf_dir):
    """Layer 1 must contain no dominated doc; every deeper-layer doc
    must be dominated by at least one layer-1 doc (maximal elements
    dominate everything off the frontier, transitively); the result
    must be invariant to input partitioning (the local-frontier shrink
    is algebra, not an approximation)."""
    from tf_idf_mapreduce_spark.operators.curation import pareto_layers

    rows = pareto_layers(spark, sf_dir).collect()
    assert rows
    by_layer = {}
    for r in rows:
        by_layer.setdefault(r.layer, []).append(
            (r.n_words, r.n_types, r.n_digits, r.doc_id)
        )

    def dom(a, b):  # a dominates b
        return (
            a[0] >= b[0] and a[1] >= b[1] and a[2] <= b[2]
            and (a[0] > b[0] or a[1] > b[1] or a[2] < b[2])
        )

    l1 = by_layer[1]
    allpts = [p for pts in by_layer.values() for p in pts]
    for p in l1:
        assert not any(dom(q, p) for q in allpts)
    for layer, pts in by_layer.items():
        if layer == 1:
            continue
        for p in pts:
            assert any(dom(q, p) for q in l1)

    # partition invariance: the local-shrink kernel must yield the same
    # global frontier whatever batch boundaries it sees
    from tf_idf_mapreduce_spark.operators.curation import _skyline_of

    feats = spark.createDataFrame(
        [(i, (i * 7) % 23, (i * 5) % 17, (i * 3) % 11) for i in range(200)],
        "doc_id long, n_words long, n_types long, n_digits long",
    )
    one = sorted(map(tuple, _skyline_of(feats.repartition(1)).collect()))
    many = sorted(map(tuple, _skyline_of(feats.repartition(13)).collect()))
    assert one == many and one


def test_epoch_plan_budget_and_caps(spark, sf_dir):
    """The plan must conserve the budget (targets are floor shares, so
    their sum is within n_sources of the budget), cap realized tokens
    at EPOCH_MAX epochs, and flag exactly the cap-cut sources. At
    sf0.001/sf0.01 the fixed budget over-subscribes the corpus, so both
    regimes (saturated and not) must appear."""
    from tf_idf_mapreduce_spark.operators.curation import (
        EPOCH_BUDGET_TOKENS,
        EPOCH_MAX,
        epoch_plan,
    )

    rows = epoch_plan(spark, sf_dir).collect()
    assert rows
    assert sum(r.target_tokens for r in rows) <= EPOCH_BUDGET_TOKENS
    assert (
        sum(r.target_tokens for r in rows)
        > EPOCH_BUDGET_TOKENS - len(rows) * 2
    )
    for r in rows:
        cap = EPOCH_MAX * r.tokens_available
        assert r.realized_tokens == min(r.target_tokens, cap)
        assert r.saturated == (r.target_tokens > cap)
        assert r.epochs <= EPOCH_MAX + 1e-9
    assert any(r.saturated for r in rows)
    assert any(not r.saturated for r in rows)


def test_skyline_merge_guard_trips_on_anticorrelated(spark):
    """Anti-correlated criteria keep every point near the tradeoff
    surface; the merge guard must refuse rather than run an unbounded
    single task (cap parameterized down so the fixture-scale test
    exercises the production refusal path)."""
    import pytest

    from tf_idf_mapreduce_spark.operators.curation import _skyline_of
    from tf_idf_mapreduce_spark.operators.guard import ExactPathTooLarge

    anti = spark.createDataFrame(
        [(i, i, 1000 - i, 0) for i in range(400)],
        "doc_id long, n_words long, n_types long, n_digits long",
    ).repartition(8)
    with pytest.raises(ExactPathTooLarge):
        _skyline_of(anti, max_merge_rows=100).collect()
    # opt-out works and the full anti-chain IS the frontier
    assert _skyline_of(anti, max_merge_rows=None).count() == 400


def test_calibration_mass_and_bucket_bounds(spark, sf_dir):
    """Every scored doc lands in exactly one decile (counts sum to the
    scored-relation size), positives never exceed the bucket count,
    mean predicted prob stays inside the bucket's half-open range, and
    the gap is |mean_prob - frac_pos| on the grid."""
    from tf_idf_mapreduce_spark.operators.curation import (
        classifier_calibration,
        quality_classifier,
    )

    rows = classifier_calibration(spark, sf_dir).collect()
    assert rows
    n_scored = quality_classifier(spark, sf_dir).count()
    assert sum(r.n_docs for r in rows) == n_scored
    for r in rows:
        assert 0 <= r.n_pos <= r.n_docs
        lo, hi = r.bucket / 10, (r.bucket + 1) / 10
        assert lo - 1e-9 <= r.mean_prob <= (1.0 if r.bucket == 9 else hi) + 1e-9
        assert abs(r.calibration_gap - abs(r.mean_prob - r.frac_pos)) < 2e-6


def test_skyline_kernel_matches_bruteforce_hypothesis():
    """The vectorized batch kernel must equal the O(n^2) dominance
    definition on arbitrary integer inputs — including duplicate
    coordinate tuples (mutually non-dominating: all copies stay) and
    single-axis ties."""
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tf_idf_mapreduce_spark.operators.curation import _skyline_batch

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(0, 8), st.integers(0, 8), st.integers(0, 8)
            ),
            min_size=0,
            max_size=40,
        )
    )
    def check(pts):
        pdf = pd.DataFrame(
            [(i, w, t, g) for i, (w, t, g) in enumerate(pts)],
            columns=["doc_id", "n_words", "n_types", "n_digits"],
        )
        got = set(_skyline_batch(pdf)["doc_id"])
        want = set()
        for i, (w, t, g) in enumerate(pts):
            dominated = any(
                ow >= w and ot >= t and og <= g
                and (ow > w or ot > t or og < g)
                for j, (ow, ot, og) in enumerate(pts)
                if j != i
            )
            if not dominated:
                want.add(i)
        assert got == want

    check()


def test_epoch_plan_zero_token_source(spark, tmp_path):
    """A source whose docs are all empty after cleaning must plan 0
    target / 0 realized / 0 epochs — never a divide-by-zero null."""
    from tf_idf_mapreduce_spark.operators.curation import epoch_plan

    d = str(tmp_path / "zero_tok")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "live", 16),
            (2, "delta epsilon", "en", "live", 13),
            (3, "   ", "en", "deadsrc", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r.source: r for r in epoch_plan(spark, d).collect()}
    dead = rows["deadsrc"]
    assert (
        dead.tokens_available,
        dead.weight,
        dead.target_tokens,
        dead.realized_tokens,
        dead.epochs,
    ) == (0, 0, 0, 0, 0.0)
    assert not dead.saturated
    live = rows["live"]
    assert live.tokens_available == 5 and live.target_tokens > 0


def test_skyline_merge_exact_across_arrow_batches(spark):
    """The round-7 advisor bug: the merge pass ran the per-batch kernel
    on each Arrow batch of the coalesced partition independently, so
    past maxRecordsPerBatch candidates a row dominated only by a row in
    a LATER batch survived. Construct 8 blocks of 100-point anti-chains
    where block p+1 strictly dominates all of block p, shrink the batch
    size so the merge sees many batches, and require EXACTLY the top
    block back."""
    from tf_idf_mapreduce_spark.operators.curation import _skyline_of

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "50")
        data = [
            (p * 100 + i, p * 1000 + i, p * 1000 + 99 - i, 0)
            for p in range(8)
            for i in range(100)
        ]
        feats = spark.createDataFrame(
            data, "doc_id long, n_words long, n_types long, n_digits long"
        )
        got = sorted(r.doc_id for r in _skyline_of(feats).collect())
        assert got == list(range(700, 800))
    finally:
        spark.conf.set(key, prev)


def test_pareto_layers_keeps_zero_word_docs(spark, tmp_path):
    """A whitespace-only doc has n_words = n_types = 0 but is still a
    legitimate skyline input (it can surface in a deeper layer once
    dominators peel away) — the oracle computes features per-row over
    EVERY documents row, so the engine must not drop it via an inner
    join on exploded words."""
    from tf_idf_mapreduce_spark.operators.curation import pareto_layers

    d = str(tmp_path / "zero_word")
    spark.createDataFrame(
        [
            (1, "alpha beta beta 7", "en", "s", 17),
            (2, "alpha", "en", "s", 5),
            (3, "   ", "en", "s", 3),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = {r.doc_id: r for r in pareto_layers(spark, d).collect()}
    assert 3 in rows
    empty = rows[3]
    assert (empty.n_words, empty.n_types, empty.n_digits) == (0, 0, 0)
    # doc 1 (4,3,1) and doc 2 (1,1,0) are mutually non-dominating
    # (doc 1 carries a digit) -> both layer 1; doc 2 strictly dominates
    # the empty doc (1,1,0) > (0,0,0), so it surfaces in layer 2 -- the
    # exact "deeper layer once dominators peel" case the advisor named
    assert rows[1].layer == 1
    assert rows[2].layer == 1
    assert empty.layer == 2


def test_epoch_plan_all_sources_empty(spark, tmp_path):
    """sum(weight) = 0 (every source tokenizes empty) must yield a
    well-defined all-zero plan in BOTH engines — not Spark NULLs vs a
    DuckDB division error."""
    from tf_idf_mapreduce_spark.operators.curation import epoch_plan

    d = str(tmp_path / "all_empty")
    spark.createDataFrame(
        [(1, " ", "en", "a", 1), (2, "\t\n", "en", "b", 2)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    rows = epoch_plan(spark, d).collect()
    assert len(rows) == 2
    for r in rows:
        assert (
            r.tokens_available,
            r.weight,
            r.target_tokens,
            r.realized_tokens,
            r.epochs,
        ) == (0, 0, 0, 0, 0.0)
        assert not r.saturated
