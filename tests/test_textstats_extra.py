"""Round-6 textstats additions on planted corpora."""

from __future__ import annotations

import pytest


def _bpe_apply_merge(syms, left: str, right: str, merged: str):
    """Column-form reference for ``textstats._bpe_apply_chain_udf``: ONE
    merge rule applied greedily left to right, non-overlapping, as a pure
    JVM fold (``F.aggregate``) — push each symbol; if the top of the
    accumulator is ``left`` and the incoming symbol is ``right``,
    replace the top with ``merged``. Within one round the freshly merged
    symbol can never re-merge as a left side, because ``merged =
    left||right != left`` (right is non-empty)."""
    from pyspark.sql import functions as F

    return F.aggregate(
        syms,
        F.expr("cast(array() as array<string>)"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(merged))
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


@pytest.fixture(scope="module")
def bpe_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bpe")
    docs = [
        (0, "ab cd ab cd ab", "en", "s0"),  # (ab,cd) x2, (cd,ab) x2
        (1, "x-y", "en", "s0"),  # pre-tokens x, -, y -> (x,-), (-,y)
        (2, "solo", "en", "s0"),  # single token: no pair
    ]
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_bpe_pair_counts_planted(spark, bpe_dir):
    from tf_idf_mapreduce_spark.operators.textstats import bpe_pair_counts

    rows = {(r.tok_left, r.tok_right): r.n for r in bpe_pair_counts(spark, bpe_dir).collect()}
    assert rows == {
        ("ab", "cd"): 2,
        ("cd", "ab"): 2,
        ("x", "-"): 1,
        ("-", "y"): 1,
    }


def _python_clean(docs):
    """Reference implementation of the keep-first tile-removal rule."""
    import hashlib

    T = 32
    tiles = {}  # key -> list[(doc_id, tile_idx)]
    per_doc = {}
    for doc_id, text in docs:
        toks = [w for w in __import__("re").split(r"[ \t\n\r\f]+", text) if w]
        n_tiles = max((len(toks) - T + T - 1) // T, 0) + 1
        tl = []
        for i in range(n_tiles):
            tw = toks[i * T : i * T + T]
            k = hashlib.md5(" ".join(tw).lower().encode()).hexdigest()
            tl.append((i, tw, k))
            if tw:
                tiles.setdefault(k, []).append((doc_id, i))
        per_doc[doc_id] = (text, toks, tl)
    repeated = {
        k: min(occ)
        for k, occ in tiles.items()
        if len({d for d, _ in occ}) >= 2
    }
    out = {}
    for doc_id, (text, toks, tl) in per_doc.items():
        kept, removed_tiles, removed_toks = [], 0, 0
        for i, tw, k in tl:
            rm = tw and k in repeated and repeated[k] != (doc_id, i)
            if rm:
                removed_tiles += 1
                removed_toks += len(tw)
            else:
                kept.extend(tw)
        cleaned = text if removed_tiles == 0 else " ".join(kept)
        out[doc_id] = (len(toks), removed_tiles, removed_toks, cleaned)
    return out


def test_clean_corpus_property_random_corpora(spark, tmp_path_factory):
    """clean_corpus agrees with a direct Python implementation of its
    declared rule on randomized corpora with forced tile collisions."""
    import random

    from tf_idf_mapreduce_spark.operators.textstats import clean_corpus

    rng = random.Random(42)
    vocab = [f"W{i}" for i in range(8)]  # tiny alphabet -> real collisions
    shared_block = " ".join(rng.choice(vocab) for _ in range(32))
    docs = []
    for i in range(12):
        n = rng.randrange(0, 80)
        body = " ".join(rng.choice(vocab) for _ in range(n))
        if i % 3 == 0:  # plant the shared tile at the tile-aligned head
            body = f"{shared_block} {body}".strip()
        docs.append((i, body))

    d = tmp_path_factory.mktemp("cleanprop")
    spark.createDataFrame(
        [(i, t, "en", "s0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    want = _python_clean(docs)
    got = {
        r.doc_id: (r.n_tokens, r.n_tiles_removed, r.n_tokens_removed, r.cleaned_text)
        for r in clean_corpus(spark, str(d)).collect()
    }
    assert got == want


@pytest.fixture(scope="module")
def merge_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("merge")
    docs = [
        # "aa aa aa": pair (aa,aa) at pos 1,2 -> one island k=2 -> 1 merge
        (0, "aa aa aa", "en", "s0"),
        # "aa aa aa aa": k=3 -> 2 merges (greedy at pos 1 and 3)
        (1, "aa aa aa aa", "en", "s0"),
        # "x y x y": (x,y) at pos 1,3 — separate islands, 2 merges
        (2, "x y x y", "en", "s0"),
    ]
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_bpe_merge_gain_greedy_vs_naive(spark, merge_dir):
    """Self-pair runs must be corrected: naive adjacent counts exceed
    greedy merge counts exactly on (a,a) islands; distinct-token pairs
    are untouched."""
    from tf_idf_mapreduce_spark.operators.textstats import bpe_merge_gain

    rows = {
        (r.tok_left, r.tok_right): (r.n_adjacent, r.n_merges)
        for r in bpe_merge_gain(spark, merge_dir).collect()
    }
    # doc0: island k=2 -> 1 merge; doc1: island k=3 -> 2 merges
    assert rows[("aa", "aa")] == (5, 3)
    # distinct pair: every occurrence mergeable
    assert rows[("x", "y")] == (2, 2)
    # greedy never exceeds naive anywhere
    for n_adj, n_m in rows.values():
        assert n_m <= n_adj


def test_cms_one_sided_error_for_every_word(spark, sf_dir):
    """CMS law: estimate >= true count for EVERY vocabulary word (not just
    the reported top-k) — min over rows can never undercount."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.functions.hashing import norm_words
    from tf_idf_mapreduce_spark.operators.textstats import (
        _cms_hashed,
        cms_counters,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    wc = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(norm_words(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    est = (
        _cms_hashed(wc)
        .join(cms_counters(wc), ["i", "bucket"])
        .groupBy("word")
        .agg(F.min("c").alias("est"), F.first("n").alias("n"))
    )
    assert est.where(F.col("est") < F.col("n")).count() == 0


def test_cms_counters_merge_by_addition(spark, sf_dir):
    """The 100 TB claim: per-shard sketches sum elementwise to the corpus
    sketch. Split the corpus by doc parity, sketch each half, add."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.functions.hashing import norm_words
    from tf_idf_mapreduce_spark.operators.textstats import cms_counters
    from tf_idf_mapreduce_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents")

    def wc(d):
        return (
            d.select(F.explode(norm_words(F.col("text"))).alias("word"))
            .groupBy("word")
            .agg(F.count("*").alias("n"))
        )

    whole = cms_counters(wc(docs))
    a = cms_counters(wc(docs.where(F.col("doc_id") % 2 == 0)))
    b = cms_counters(wc(docs.where(F.col("doc_id") % 2 == 1)))
    merged = (
        a.withColumnRenamed("c", "ca")
        .join(b.withColumnRenamed("c", "cb"), ["i", "bucket"], "full_outer")
        .select(
            "i",
            "bucket",
            (F.coalesce("ca", F.lit(0)) + F.coalesce("cb", F.lit(0))).alias("c"),
        )
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_lang_confusion_is_a_partition_of_the_corpus(spark, sf_dir):
    """Cell counts sum to the corpus; row fractions sum to 1 per labeled
    language; cells agree with a direct recount over lang_id."""
    from collections import Counter

    from tf_idf_mapreduce_spark.operators.textstats import lang_confusion, lang_id
    from tf_idf_mapreduce_spark.sources.io import load_table

    rows = lang_confusion(spark, sf_dir).collect()
    n_total = load_table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    by_label = Counter()
    for r in rows:
        by_label[r.labeled_lang] += r.row_frac
    for lab, s in by_label.items():
        assert abs(s - 1.0) < 1e-9, lab
    direct = Counter(
        (r.labeled_lang, r.pred_lang) for r in lang_id(spark, sf_dir).collect()
    )
    assert {(r.labeled_lang, r.pred_lang): r.n_docs for r in rows} == dict(direct)


# ---------------------------------------------------------------------------
# BPE trainer
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bpe_train_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("bpe_train")
    docs = [
        (0, "aaa aaa aaa", "en", "s0"),  # 'aaa' x3: overlap-run case
        (1, "ab ab", "en", "s0"),  # 'ab' x2
        (2, "z", "en", "s0"),  # never merges: base-char vocab survivor
    ]
    spark.createDataFrame(
        [(i, t, l, s, len(t)) for i, t, l, s in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_bpe_train_planted_greedy_and_second_order(spark, bpe_train_dir):
    """Round 1 must count the 'aaa' run as TWO (a,a) pairs (naive Sennrich
    count) but apply the merge greedily (one merge + survivor); round 2's
    winner is a SECOND-ORDER pair (aa,a); the trainer stops early when no
    pairs remain (3 merges despite n_merges=8)."""
    from tf_idf_mapreduce_spark.operators.textstats import bpe_train

    rows = [tuple(r) for r in bpe_train(spark, bpe_train_dir).collect()]
    assert rows == [
        (1, "a", "a", "aa", 6),  # 2 overlapping pairs/word x 3 words
        (2, "aa", "a", "aaa", 3),  # learned symbol as LEFT side
        (3, "a", "b", "ab", 2),
    ]


def test_bpe_encode_planted(spark, bpe_train_dir):
    """After training, every planted word collapses to one symbol; the
    per-doc stats reflect full compression."""
    from tf_idf_mapreduce_spark.operators.textstats import bpe_encode_stats

    rows = {r.doc_id: r for r in bpe_encode_stats(spark, bpe_train_dir).collect()}
    assert rows[0].n_pretokens == 3
    assert rows[0].n_bpe_tokens == 3  # 'aaa' -> ['aaa']
    assert rows[0].chars_per_token == 3.0
    assert rows[1].n_pretokens == 2
    assert rows[1].n_bpe_tokens == 2  # 'ab' -> ['ab']
    assert rows[1].chars_per_token == 2.0


def test_bpe_train_matches_python_reference(spark, sf_dir):
    """The distributed trainer replays the classic in-memory Sennrich
    learner move-for-move on the real sf0.001 corpus (counts, greedy
    application, count-then-lexicographic tiebreak)."""
    import collections
    import re

    from tf_idf_mapreduce_spark.operators.textstats import (
        BPE_ISH_PATTERN,
        BPE_TRAIN_MERGES,
        bpe_train,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    wc = collections.Counter()
    for t in texts:
        wc.update(re.findall(BPE_ISH_PATTERN, t or ""))
    vocab = {w: tuple(w) for w in wc}
    expected = []
    for rank in range(1, BPE_TRAIN_MERGES + 1):
        pc = collections.Counter()
        for w, n in wc.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += n
        if not pc:
            break
        m = max(pc.values())
        left, right = sorted(p for p, c in pc.items() if c == m)[0]
        merged = left + right
        expected.append((rank, left, right, merged, m))
        for w in vocab:
            syms, out, i = vocab[w], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = tuple(out)
    rows = [tuple(r) for r in bpe_train(spark, sf_dir).collect()]
    assert rows == expected


def test_bpe_vocab_planted(spark, bpe_train_dir):
    """The implied vocabulary: fully merged words are single learned
    tokens; the unmergeable base char survives with is_merge=False."""
    from tf_idf_mapreduce_spark.operators.textstats import bpe_vocab

    rows = {
        r.token: (r.n_occurrences, r.n_words, r.is_merge)
        for r in bpe_vocab(spark, bpe_train_dir).collect()
    }
    assert rows == {
        "aaa": (3, 1, True),
        "ab": (2, 1, True),
        "z": (1, 1, False),
    }


def test_vocab_coverage_matches_exact_recount(spark, sf_dir):
    """Coverage at every cutoff equals a driver-side exact recount, and
    the curve is monotone with oov_rate = 1 - coverage."""
    import collections
    import re

    from tf_idf_mapreduce_spark.operators.textstats import (
        BPE_ISH_PATTERN,
        VOCAB_COVERAGE_CUTOFFS,
        vocab_coverage,
    )
    from tf_idf_mapreduce_spark.sources.io import load_table

    texts = [
        r.text for r in load_table(spark, sf_dir, "documents").select("text").collect()
    ]
    wc = collections.Counter()
    for t in texts:
        wc.update(re.findall(BPE_ISH_PATTERN, t or ""))
    total = sum(wc.values())
    ranked = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))
    rows = {r.n_vocab: r for r in vocab_coverage(spark, sf_dir).collect()}
    assert set(rows) == set(VOCAB_COVERAGE_CUTOFFS)
    prev = -1.0
    for n in VOCAB_COVERAGE_CUTOFFS:
        covered = sum(c for _, c in ranked[:n])
        r = rows[n]
        assert r.covered_tokens == covered
        assert r.total_tokens == total
        assert r.n_types == min(n, len(ranked))
        assert r.coverage == round(covered / total, 6)
        assert abs(r.oov_rate - round(1 - covered / total, 6)) < 1e-12
        assert r.coverage >= prev
        prev = r.coverage


def test_lm_heldout_split_replay_and_laws(spark, sf_dir):
    """Split sizes replay from the content-keyed md5 bucket in pure
    Python; OOV and surprisal obey their laws (the tiny sf0.001
    fixture's synthetic vocabulary can be fully covered by train, so
    zero OOV is legitimate there — sf0.01 shows nonzero)."""
    import hashlib

    from tf_idf_mapreduce_spark.operators.curation import SPLIT_VAL_LO
    from tf_idf_mapreduce_spark.operators.textstats import lm_heldout_eval
    from tf_idf_mapreduce_spark.sources.io import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    ).collect()
    n_train = sum(
        1
        for r in docs
        if hashlib.md5(
            f"{r.doc_id}:{r.text or ''}".encode()
        ).hexdigest()[:2]
        < SPLIT_VAL_LO
    )
    row = lm_heldout_eval(spark, sf_dir).head()
    assert row.n_train_docs == n_train
    assert row.n_heldout_docs == len(docs) - n_train
    assert 0 <= row.n_oov <= row.n_heldout_bigrams
    assert 0.0 <= row.oov_rate < 1.0
    assert row.oov_rate == round(row.n_oov / row.n_heldout_bigrams, 6)
    assert row.mean_surprisal > 0


def test_encoding_audit_counts_planted_damage(spark, tmp_path):
    """Planted U+FFFD, a NUL control char, and non-ASCII text are each
    counted; tab/newline do NOT count as control damage."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import encoding_audit

    texts = [
        "clean ascii with\ttab and\nnewline",
        "bad � decode � here",
        "ctrl\x00char",
        "ünïcøde tæxt",
    ]
    pd.DataFrame(
        {
            "doc_id": range(4),
            "text": texts,
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {r.doc_id: r for r in encoding_audit(spark, str(tmp_path)).collect()}
    assert got[0].is_clean and got[0].n_control == 0
    assert got[1].n_replacement == 2 and not got[1].is_clean
    assert got[2].n_control == 1 and not got[2].is_clean
    assert got[3].is_clean and got[3].n_non_ascii == 4
    assert got[3].non_ascii_frac == round(4 / len(texts[3]), 6)


def test_type_token_ratio_hand_computed(spark, tmp_path):
    """TTR on a hand-computable corpus; repetition craters it."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import type_token_ratio

    texts = ["a b c d", "spam spam spam spam spam", "x x y"]
    pd.DataFrame(
        {
            "doc_id": range(3),
            "text": texts,
            "lang": ["en"] * 3,
            "source": ["t"] * 3,
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {r.doc_id: r for r in type_token_ratio(spark, str(tmp_path)).collect()}
    assert (got[0].n_tokens, got[0].n_types, got[0].ttr) == (4, 4, 1.0)
    assert (got[1].n_tokens, got[1].n_types, got[1].ttr) == (5, 1, 0.2)
    assert (got[2].n_tokens, got[2].n_types, got[2].ttr) == (3, 2, 0.666667)


def test_hapax_rate_hand_computed(spark, tmp_path):
    """Hand-computable vocab: 'a a b c' -> vocab 3, hapax {b, c}."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import hapax_rate

    pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["a a b", "c"],
            "lang": ["en"] * 2,
            "source": ["s1"] * 2,
            "n_chars": [5, 1],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    r = hapax_rate(spark, str(tmp_path)).head()
    assert (r.source, r.n_vocab, r.n_hapax, r.n_tokens) == ("s1", 3, 2, 4)
    assert r.hapax_rate == 0.666667


def test_frequency_spectrum_hand_computed(spark, tmp_path):
    """'a a a b b c' -> spectrum {1:1, 2:1, 3:1}; shares are thirds."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import frequency_spectrum

    pd.DataFrame(
        {
            "doc_id": [0],
            "text": ["a a a b b c"],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [11],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {r.frequency: r for r in frequency_spectrum(spark, str(tmp_path)).collect()}
    assert {f: r.n_words for f, r in got.items()} == {1: 1, 2: 1, 3: 1}
    for r in got.values():
        assert r.vocab_share == 0.333333


def test_source_overlap_hand_computed(spark, tmp_path):
    """Three sources with known vocab sets: s1={a,b}, s2={b,c}, s3={x}."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import (
        source_vocab_overlap,
    )

    pd.DataFrame(
        {
            "doc_id": range(3),
            "text": ["a b a", "b c", "x"],
            "lang": ["en"] * 3,
            "source": ["s1", "s2", "s3"],
            "n_chars": [5, 3, 1],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    got = {
        (r.source_a, r.source_b): r
        for r in source_vocab_overlap(spark, str(tmp_path)).collect()
    }
    r = got[("s1", "s2")]
    assert (r.n_common, r.sz_a, r.sz_b) == (1, 2, 2)
    assert r.vocab_jaccard == 1 / 3
    assert ("s1", "s3") not in got  # zero overlap -> no row (inner join)


def test_bpe_batched_rounds_trajectory_exact(spark, tmp_path_factory):
    """Round batching must FIRE when merges are provably independent
    (disjoint 2-char words collapse to single symbols — zero new-pair
    interference, so the whole set batches in one round) and the learned
    table must still equal the classic one-merge-per-round trajectory."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import (
        _bpe_pair_count_table,
        _bpe_safe_chain,
        bpe_train,
    )

    d = tmp_path_factory.mktemp("bpe_batch")
    pd.DataFrame(
        {
            "doc_id": [0],
            "text": ["xy xy xy qw qw zv"],
            "lang": ["en"],
            "source": ["t"],
            "n_chars": [17],
        }
    ).to_parquet(d / "documents.parquet")

    rows = [tuple(r) for r in bpe_train(spark, str(d)).collect()]
    assert rows == [
        (1, "x", "y", "xy", 3),
        (2, "q", "w", "qw", 2),
        (3, "z", "v", "zv", 1),
    ]

    # the unit seam: the safe chain for this corpus is the FULL batch
    vocab = spark.createDataFrame(
        [(3, ["x", "y"]), (2, ["q", "w"]), (1, ["z", "v"])],
        "n long, syms array<string>",
    )
    top = (
        _bpe_pair_count_table(vocab)
        .orderBy("n_pair", ascending=False)
        .collect()
    )
    assert [t[:2] for t in _bpe_safe_chain(vocab, top, 8)] == [
        ("x", "y"),
        ("q", "w"),
        ("z", "v"),
    ]


def test_bpe_safe_chain_truncates_on_new_pair_interference(spark):
    """When a merge CREATES a pair that outranks the guessed next
    candidate ('ababab...': after (a,b), the true argmax is the new
    (ab,ab) pair, not the guessed (b,a)), the verification pass must
    truncate the chain to the classic single step."""
    from tf_idf_mapreduce_spark.operators.textstats import (
        _bpe_pair_count_table,
        _bpe_safe_chain,
    )

    # one word 'ababababab' (n=10) plus an independent low-count 'qw'
    vocab = spark.createDataFrame(
        [(10, list("ababababab")), (3, ["q", "w"])],
        "n long, syms array<string>",
    )
    top = (
        _bpe_pair_count_table(vocab)
        .orderBy(["n_pair", "tok_left", "tok_right"], ascending=[False, True, True])
        .collect()
    )
    # candidates: (a,b)=50, (b,a)=40, ... (b,a) overlaps -> consecutive
    # prefix stops at 1 before any dominance check is even needed
    chain = _bpe_safe_chain(vocab, top, 8)
    assert [t[:2] for t in chain] == [("a", "b")]


def test_bpe_safe_chain_verifies_through_interference(spark):
    """Exactness cuts BOTH ways: when the post-merge table still ranks
    the guessed candidate first ((a,b) and (q,w) tie at 6; after (a,b)
    the created (ab,ab) pair only counts 3, so (q,w) really is the
    classic step-2 argmax), the verification pass must COMMIT the batch
    — and record (q,w)'s stage-1 selection-time count."""
    from tf_idf_mapreduce_spark.operators.textstats import _bpe_safe_chain

    vocab = spark.createDataFrame(
        [(3, ["a", "b", "a", "b"]), (6, ["q", "w"])],
        "n long, syms array<string>",
    )
    top = [
        {"tok_left": "a", "tok_right": "b", "n_pair": 6},
        {"tok_left": "q", "tok_right": "w", "n_pair": 6},
    ]
    assert _bpe_safe_chain(vocab, top, 8) == [("a", "b", 6), ("q", "w", 6)]


def test_ngram_repetition_planted(spark, tmp_path_factory):
    """'spam spam spam spam' maxes both signals (top2_share=1, dup3=.5),
    a distinct-word doc scores zero, and sub-n-gram docs are present
    with zero grams rather than dropped."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import repetition_stats

    d = tmp_path_factory.mktemp("rep")
    pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "spam " * 12,  # 11 identical 2-grams, 10 identical 3-grams
                "all words here differ fully and none of them ever "
                "repeat anywhere in this sentence",
                "one",
                "",
            ],
            "lang": ["en"] * 4,
            "source": ["t"] * 4,
            "n_chars": [60, 83, 3, 0],
        }
    ).to_parquet(d / "documents.parquet")
    rows = {r.doc_id: r for r in repetition_stats(spark, str(d)).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[0].n_2grams == 11 and rows[0].top2_share == 1.0
    assert rows[0].n_3grams == 10 and rows[0].dup3_frac == 0.9
    assert rows[0].repetitive
    assert rows[1].dup3_frac == 0.0
    assert not rows[1].repetitive  # distinct words, support met, clean
    assert rows[2].n_2grams == 0 and rows[2].n_3grams == 0
    assert not rows[2].repetitive and not rows[3].repetitive


def test_pmi_collocations_planted(spark, tmp_path_factory):
    """A pair that ALWAYS co-occurs ('new york' x5) must out-PMI a pair
    of promiscuous common words, and pairs under the support floor must
    not appear."""
    import pandas as pd

    from tf_idf_mapreduce_spark.operators.textstats import pmi_collocations

    d = tmp_path_factory.mktemp("pmi")
    texts = (
        ["new york " + "the cat the dog the fox the cow"] * 5
        + ["rare pair"] * 2
    )
    pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["t"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(d / "documents.parquet")
    rows = pmi_collocations(spark, str(d)).collect()
    pairs = [(r.w1, r.w2) for r in rows]
    assert ("new", "york") in pairs
    assert ("rare", "pair") not in pairs  # support 2 < 5
    by = {(r.w1, r.w2): r.pmi for r in rows}
    assert by[("new", "york")] > by.get(("the", "cat"), float("-inf"))


def test_bpe_apply_chain_udf_matches_fold(spark, sf_dir):
    """The Arrow merge-chain twin must equal K chained
    ``_bpe_apply_merge`` folds symbol-for-symbol — on the fixture
    vocabulary under the actually-learned merges AND on adversarial
    words (overlapping runs, the freshly-merged-symbol case)."""
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.operators.textstats import (
        BPE_TRAIN_MERGES,
        _bpe_apply_chain_udf,
        _bpe_learn_merges,
        _bpe_word_counts,
    )

    merges = _bpe_learn_merges(spark, str(sf_dir), BPE_TRAIN_MERGES)
    rules = [(left, right, merged) for _, left, right, merged, _n in merges]
    chars = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    folded = chars
    for left, right, merged in rules:
        folded = _bpe_apply_merge(folded, left, right, merged)
    words = _bpe_word_counts(spark, str(sf_dir)).select("word")
    adversarial = spark.createDataFrame(
        [("aaa",), ("aaaa",), ("ababab",), ("a",), (rules[0][0] + rules[0][1] if rules else "xy",)],
        "word string",
    )
    both = (
        words.union(adversarial)
        .select(
            "word",
            folded.alias("ref"),
            _bpe_apply_chain_udf(rules)(chars).alias("got"),
        )
        .collect()
    )
    assert both
    for r in both:
        assert list(r.got) == list(r.ref), f"word {r.word!r}"
