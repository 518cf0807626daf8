"""TF-IDF pipeline against the hand-computed golden micro-corpus
(FIXTURES.md §3) plus the reference's invariants (SURVEY.md §5)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tf_idf_mapreduce_spark.operators.tfidf import (
    doc_freq,
    doc_totals,
    tfidf_pipeline,
    tfidf_sorted,
    word_count,
)
from tf_idf_mapreduce_spark.functions.tokenize import tokenize
from tf_idf_mapreduce_spark.plans.pipeline import flagship_tfidf

GOLDEN_CORPUS = [
    ("d1.txt", "Hello, hello world"),
    ("d2.txt", "world of <b>data</b> &amp; code123"),
    ("d3.txt", "Data&nbsp;data pipelines"),
]

# (word, doc, count, doc_total, df, tfidf) — hand-computed, ln IDF
GOLDEN = [
    ("hello", "d1.txt", 2, 3, 1, 2 / 3 * math.log(3)),
    ("of", "d2.txt", 1, 3, 1, 1 / 3 * math.log(3)),
    ("pipelines", "d3.txt", 1, 3, 1, 1 / 3 * math.log(3)),
    ("data", "d3.txt", 2, 3, 2, 2 / 3 * math.log(3 / 2)),
    ("data", "d2.txt", 1, 3, 2, 1 / 3 * math.log(3 / 2)),
    ("world", "d1.txt", 1, 3, 2, 1 / 3 * math.log(3 / 2)),
    ("world", "d2.txt", 1, 3, 2, 1 / 3 * math.log(3 / 2)),
]


@pytest.fixture(scope="module")
def golden_scored(spark):
    corpus = spark.createDataFrame(GOLDEN_CORPUS, "doc string, text string")
    return tfidf_sorted(tfidf_pipeline(corpus)).collect()


def test_golden_values_exact(golden_scored):
    got = [
        (r.word, r.doc, r["count"], r.doc_total, r.df, r.tfidf)
        for r in golden_scored
    ]
    # same sort the engine defines: tfidf desc, word asc, doc asc
    want = sorted(GOLDEN, key=lambda t: (-t[5], t[0], t[1]))
    assert [g[:5] for g in got] == [w[:5] for w in want]
    for g, w in zip(got, want):
        # Spark's F.log is StrictMath.log (deterministic across executors);
        # the reference uses Math.log — they differ by ≤2 ulp, so compare
        # with a tight tolerance rather than bit-exact.
        assert g[5] == pytest.approx(w[5], rel=1e-12)


def test_sorted_non_increasing(golden_scored):
    scores = [r.tfidf for r in golden_scored]
    assert scores == sorted(scores, reverse=True)


def test_invariants_on_fixture_docs(spark, sf_dir):
    scored = flagship_tfidf(spark, sf_dir)
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    corpus = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "cast(doc_id as string) as doc", "text"
    )
    full = tfidf_pipeline(corpus)
    stats = full.agg(
        F.min("df").alias("df_min"),
        F.max("df").alias("df_max"),
        F.count("*").alias("rows"),
        F.countDistinct("word", "doc").alias("distinct_pairs"),
    ).head()
    assert 1 <= stats.df_min <= stats.df_max <= n_docs
    assert stats.rows == stats.distinct_pairs
    # per-doc sum(tf) == 1 (CountTF.java:107 + CalcTFIDF.java:130)
    bad = (
        full.groupBy("doc")
        .agg(F.sum(F.col("count") / F.col("doc_total")).alias("tf_sum"))
        .where(F.abs(F.col("tf_sum") - 1) > 1e-9)
        .count()
    )
    assert bad == 0


def test_idf_zero_rows_kept(spark):
    # a word present in every doc → idf=0, row still emitted
    # (CalcTFIDF.java:124-132)
    corpus = spark.createDataFrame(
        [("a", "common x"), ("b", "common y")], "doc string, text string"
    )
    rows = tfidf_pipeline(corpus).where(F.col("word") == "common").collect()
    assert len(rows) == 2
    assert all(r.tfidf == 0.0 for r in rows)


def test_pipeline_default_counts_docs_not_lines(spark):
    # one-row-per-LINE corpus (read_text_corpus shape): the default IDF
    # denominator must be the number of DOCUMENTS (2), not rows (4) —
    # count(*) here would silently quadruple the denominator
    corpus = spark.createDataFrame(
        [("a", "x y"), ("a", "x z"), ("a", "y"), ("b", "x")],
        "doc string, text string",
    )
    r = tfidf_pipeline(corpus).where(
        (F.col("word") == "z") & (F.col("doc") == "a")
    ).head()
    assert r.df == 1
    assert r.idf == pytest.approx(math.log(2 / 1))


def test_total_docs_counts_empty_docs(spark):
    # directory-listing semantics (TfidfMapReduce.java:51): an empty doc
    # still raises total_docs
    corpus = spark.createDataFrame(
        [("a", "x"), ("b", "x"), ("c", "")], "doc string, text string"
    )
    r = tfidf_pipeline(corpus).where(F.col("word") == "x").head()
    assert r.df == 2
    assert r.idf == pytest.approx(math.log(3 / 2))


def test_doc_freq_salted_equals_unsalted(spark):
    from tf_idf_mapreduce_spark.operators.tfidf import doc_freq_salted

    corpus = spark.createDataFrame(GOLDEN_CORPUS, "doc string, text string")
    base = doc_totals(word_count(tokenize(corpus)))
    plain = sorted(map(tuple, doc_freq(base).collect()))
    salted = sorted(map(tuple, doc_freq_salted(base).collect()))
    assert plain == salted
    # and under a different salt count — top-k/sum distributes over salts
    salted3 = sorted(map(tuple, doc_freq_salted(base, n_salts=3).collect()))
    assert plain == salted3


def test_doc_freq_counts_rows_with_null_doc_total(spark):
    """df counts postings, not doc totals: the per-stage CLI parses
    doc_total from text with a cast to long, so a malformed value reaches
    ``doc_freq`` as NULL and its row must still count."""
    wtc = spark.createDataFrame(
        [("w", "d1", 1, None), ("w", "d2", 2, 5), ("v", "d2", 3, 5)],
        "word string, doc string, count long, doc_total long",
    )
    got = {(r.word, r.doc): r.df for r in doc_freq(wtc).collect()}
    assert got == {("w", "d1"): 2, ("w", "d2"): 2, ("v", "d2"): 1}


def test_core_relations_equal_the_stage_chain(spark):
    """The core's relations are the four stage functions composed (its
    df counts doc_total, which is never NULL there)."""
    from tf_idf_mapreduce_spark.operators.tfidf import tfidf_core

    corpus = spark.createDataFrame(GOLDEN_CORPUS, "doc string, text string")
    core = tfidf_core(corpus)
    wc = word_count(tokenize(corpus))
    wtc = doc_totals(wc)
    for got, want in (
        (core.word_count, wc),
        (core.doc_totals, wtc),
        (core.doc_freq, doc_freq(wtc)),
    ):
        assert got.columns == want.columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


FOLD_SLICES = [
    [("d1", "common apple banana"), ("d2", "common apple")],
    [("d3", "common cherry"), ("d4", "common banana banana")],
    [("d5", "common date"), ("d6", "")],  # a zero-word doc
]


def test_fold_chain_equals_one_shot_pipeline(spark):
    """``score`` over consecutive ``fold``s equals the one-shot pipeline
    over the union of the slices at every prefix — so the idf=0 rows of
    the two-slice prefix ("common" is in every doc) are kept, and the
    last slice's empty doc, which has no postings, still raises N — and
    folding (a ∪ b) then c gives the same rows (associativity)."""
    from functools import reduce

    from tf_idf_mapreduce_spark.operators.tfidf import fold, score

    slices = [
        spark.createDataFrame(s, "doc string, text string") for s in FOLD_SLICES
    ]

    def rows(df):
        return sorted(map(tuple, df.collect()))

    def one_shot(corpus):
        return rows(
            tfidf_pipeline(corpus).select(
                "word", "doc", "count", "doc_total", "df",
                F.round("tfidf", 6).alias("tfidf"),
            )
        )

    state = None
    for k, corpus in enumerate(slices, 1):
        state = fold(state, lambda corpus=corpus: corpus)
        want = one_shot(reduce(lambda x, y: x.unionByName(y), slices[:k]))
        assert rows(score(state)) == want
        if k == 2:
            assert [r for r in want if r[0] == "common"]
            assert all(r[5] == 0.0 for r in want if r[0] == "common")
    final = rows(score(state))
    assert all(r[5] > 0.0 for r in final if r[0] == "common")
    a, b, c = slices
    ab = fold(None, lambda: a.unionByName(b))
    assert rows(score(fold(ab, lambda: c))) == final


def test_incremental_index_equals_one_shot_rebuild(spark, sf_dir):
    """The batch-merge (old postings + batch postings, df added, N added,
    idf re-multiplied) must reproduce the full rebuild row-for-row —
    including idf=0 rows and the 6dp rounding convention."""
    import __spark_entry__ as entrymod

    from tf_idf_mapreduce_spark.operators.tfidf import incremental_index

    inc = incremental_index(spark, sf_dir)
    full = entrymod.queries()["tfidf_full"](spark, sf_dir)
    assert inc.columns == full.columns
    assert inc.exceptAll(full).count() == 0
    assert full.exceptAll(inc).count() == 0


def test_incremental_e2e_index_equals_one_shot_over_survivors(spark, sf_dir):
    """Screen-then-merge == from-scratch build over (corpus + admitted
    batch docs); rejected batch docs never appear in the index."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.operators import curation as cur
    from tf_idf_mapreduce_spark.operators.curation import (
        SAMPLE_BUCKET_MAX,
        _sample_bucket,
    )
    from tf_idf_mapreduce_spark.operators.tfidf import (
        incremental_e2e_index,
        tfidf_pipeline,
    )
    from tf_idf_mapreduce_spark.sources.io import documents_as_corpus, load_table

    got = incremental_e2e_index(spark, sf_dir)

    man = cur.incremental_manifest(spark, sf_dir)
    admitted = {r.doc_id for r in man.where("status = 'admitted'").collect()}
    rejected = {r.doc_id for r in man.where("status <> 'admitted'").collect()}
    docs = load_table(spark, sf_dir, "documents")
    kept = docs.where(
        (~(_sample_bucket() <= SAMPLE_BUCKET_MAX))
        | F.col("doc_id").isin([int(i) for i in admitted])
    )
    want = tfidf_pipeline(documents_as_corpus(kept)).select(
        "word", "doc", "count", "doc_total", "df",
        F.round("tfidf", 6).alias("tfidf"),
    )
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    if rejected:
        bad = [str(i) for i in rejected]
        assert got.where(F.col("doc").isin(bad)).count() == 0


def test_query_expansion_laws(spark, sf_dir):
    """Expansion terms are disjoint from the seed; the expanded result
    can only gain terms per doc vs the seed search; scores stay on the
    6dp grid with deterministic ordering."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F

    scored = e.q_tfidf_full(spark, sf_dir)
    seed = {
        r.word
        for r in scored.groupBy("word")
        .agg(F.sum("count").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(5)
        .collect()
    }
    base = {r.doc: r for r in e.q_tfidf_search(spark, sf_dir).collect()}
    expanded = e.q_tfidf_query_expansion(spark, sf_dir).collect()
    assert len(expanded) == 20
    for r in expanded:
        assert 1 <= r.n_terms <= 10
        if r.doc in base:
            assert r.n_terms >= base[r.doc].n_terms
            assert r.score >= base[r.doc].score - 1e-9
    scores = [r.score for r in expanded]
    assert scores == sorted(scores, reverse=True)


def test_operators_package_yields_the_tfidf_module():
    from tf_idf_mapreduce_spark.operators import tfidf

    assert callable(tfidf.fold)
