"""Retrieval operators on the scored term relation — BM25 ranking and
inverted-index (postings) construction.

These extend the reference's TF-IDF pipeline (TfidfMapReduce.java:63-97 —
tokenize → word count → doc totals → df → score) with the two surfaces a
search engine actually serves from: a BM25 ranker (the modern default the
reference's TF-IDF approximates) and the materialized inverted index.

Scale design:
- Both operators derive from the corpus's TF-IDF core
  (``tfidf.corpus_core``), so each plan tokenizes once; corpus-level scalars
  (N, avgdl) enter the plan as broadcast 1-row aggregates, never a
  ``.collect()``. Served from the promoted index, N is the index's own
  number and enters as a literal.
- The postings build is one shuffle on ``word`` with map-side partial
  ``collect_list``; the posting payload is a compact string, so the wide
  row never exceeds the df of the hottest term. At 100 TB you'd bucket the
  output table by word (see sources/io table sinks) so lookups prune.
- BM25's per-term work is pure Column arithmetic inside whole-stage
  codegen; the 5-term query side is broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.grid import r6
from ..sources.io import documents_as_corpus, load_table
from .guard import EXACT_QUADRATIC_MAX_ROWS, guard_exact_quadratic
from .tfidf import corpus_core, query_terms

#: Standard BM25 free parameters (Robertson et al., TREC-3).
BM25_K1 = 1.2
BM25_B = 0.75

#: Terms kept per document vector in ``doc_similarity`` (the standard
#: sparse-vector pruning: everything below a doc's top-K tf-idf weights
#: contributes noise, and K bounds the self-join fanout).
DOCSIM_TOP_TERMS = 10
#: Result size of ``doc_similarity``.
DOCSIM_TOP_PAIRS = 20


def _bm25_rank(
    wtd: DataFrame, n_docs: DataFrame | int, wtc: DataFrame
) -> DataFrame:
    """BM25 top-20 over a ``(word, doc, count, doc_total, df)`` relation
    — the scorer shared by the in-plan and promoted-index serving paths
    (the relation's PROVENANCE is the only difference between them).
    The query terms (``query_terms``) and avgdl derive from ``wtc``, a
    ``(word, doc, count, doc_total)`` relation with the same rows: the
    core's ``doc_totals`` in-plan (so neither branch re-tokenizes), the
    scored relation itself when served from the index.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Lucene/ATIRE form —
    always positive, so stopword-frequency terms can't flip sign).

    avgdl is a broadcast 1-row aggregate, and so is N in-plan
    (``n_docs`` a 1-row (n_docs) DataFrame); the index's N is an int,
    bound as a literal. avgdl averages each
    doc's length ONCE (distinct (doc, doc_total) pairs — zero-word docs
    appear in neither serving path's relation, identically). Per-term
    contributions are rounded @6dp before the sum (cross-engine
    determinism, see __spark_entry__ header)."""
    avgdl = (
        wtc.select("doc", "doc_total")
        .distinct()
        .agg(F.avg("doc_total").alias("avgdl"))
    )
    terms = query_terms(wtc)
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    tf_norm = (F.col("count") * (BM25_K1 + 1)) / (
        F.col("count")
        + BM25_K1 * (1 - BM25_B + BM25_B * F.col("doc_total") / F.col("avgdl"))
    )
    contrib = F.round(idf * tf_norm, 6)
    hits = wtd.join(F.broadcast(terms), "word")
    if isinstance(n_docs, int):
        hits = hits.withColumn("n_docs", F.lit(n_docs).cast("long"))
    else:
        hits = hits.crossJoin(F.broadcast(n_docs))
    return (
        hits.crossJoin(F.broadcast(avgdl))
        .select("doc", contrib.alias("contrib"))
        .groupBy("doc")
        .agg(
            F.round(F.sum("contrib"), 6).alias("bm25"),
            F.count("*").alias("n_terms"),
        )
        .orderBy(F.desc("bm25"), F.asc("doc"))
        .limit(20)
    )


def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 docs for the corpus's 5 most frequent terms (the same
    self-contained query shape as ``tfidf_search``) — ``_bm25_rank``
    over the corpus's TF-IDF core."""
    n_docs = load_table(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_docs")
    )
    core = corpus_core(spark, sf_dir)
    return _bm25_rank(core.doc_freq, n_docs, core.doc_totals)


def bm25_search_promoted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``bm25_search`` SERVED FROM THE PROMOTED INDEX — identical oracle
    (the fully-promoted chain's postings⨝df relation equals the in-plan
    jobs-1-3 relation row for row, and the index N counts corpus-side
    docs exactly like count(*) over documents), different execution:
    the warm plan reads versioned store tables with zero documents
    scans. Everything BM25 needs beyond the postings is derivable from
    the index state itself — doc lengths ride the postings rows, avgdl
    is a 1-row aggregate over them, N is the index's number — so
    the ranking function people actually serve runs entirely off what
    promotion wrote."""
    from functools import reduce

    from .tfidf import CHAIN_DAYS, promoted_index

    segments, dfx, n, _origin = promoted_index(spark, sf_dir, CHAIN_DAYS)
    df = dfx.withColumnRenamed("dfx", "df")
    wtd = reduce(
        lambda a, b: a.unionByName(b), [seg.join(df, "word") for seg in segments]
    )
    return _bm25_rank(wtd, n, wtd)


#: Hash-block count for ``doc_similarity``'s tiled pair computation:
#: n_tiles = B(B+1)/2 grows quadratically, per-tile work shrinks
#: quadratically — 16 keeps every local[32] core busy with ~136 tiles
#: while the per-tile Arrow payload stays small. Scale B ~ sqrt(n_docs)
#: to hold tile size constant.
DOCSIM_N_BLOCKS = 16


def _retrieval_memo(spark: SparkSession, sf_dir: str, tag: str, build):
    """The docsim family's session relations in the package memo — the
    semantic_keep accounting: ``tfidf_docsim`` (first in declaration
    order) owns the pruned-vector materialization + exact tile pass;
    ``tfidf_docsim_lsh`` rides the vectors; ``tfidf_docsim_lsh_overlap``
    rides BOTH finished top-k relations (it is exactly their
    semi-join)."""
    from ..sources.io import memo, plan_confs, table_fingerprint

    version = (table_fingerprint(sf_dir, "documents"), *plan_confs(spark))
    return memo(spark, sf_dir, tag, version, build)


def _pruned_vectors_ck(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The checkpointed pruned-vector relation, built once per session —
    the tokenize→tf-idf chain is the most expensive stage of every
    docsim variant."""
    return _retrieval_memo(
        spark,
        sf_dir,
        "pruned_vec",
        lambda: _pruned_vectors(spark, sf_dir).localCheckpoint(),
    )


def doc_similarity(
    spark: SparkSession,
    sf_dir: str,
    vec: DataFrame | None = None,
    max_rows: int | None = EXACT_QUADRATIC_MAX_ROWS,
) -> DataFrame:
    """All-pairs document cosine similarity over pruned TF-IDF vectors —
    top ``DOCSIM_TOP_PAIRS`` most-similar document pairs.

    Each doc keeps its ``DOCSIM_TOP_TERMS`` highest-weighted terms (ties
    broken by word — deterministic); sim(a,b) = Σ w_a·w_b / (‖a‖·‖b‖).

    Pair computation is hash-blocked tiled SpGEMM, NOT a self-join on
    ``word``: a word-keyed self-join fans out by the square of each
    term's pruned document frequency, and a low-diversity corpus (the
    fixture's top-10 lists draw from ~31 distinct words) makes that
    O(n²) rows through a shuffle — measured 76 s at sf0.1 vs ~3 s for
    the tiles. Instead docs hash into fixed blocks; each of the
    O((n/B)²) ordered tiles builds the union vocabulary of its two
    blocks, takes ONE numpy matmul for all B x B dots, and emits only
    its local top-``DOCSIM_TOP_PAIRS`` pairs (every unordered pair
    meets in exactly one tile, so per-tile winners provably contain the
    global winners — same two-level top-k as ``similarity.knn_graph``).
    The global sort then sees O(tiles · P) rows. Weights round @6dp
    before the product and the cosine rounds @6dp after, so the numpy
    and SQL summation orders agree at the emitted precision. At 100 TB
    you'd LSH-prefilter candidate blocks first; the tile kernel is
    unchanged.

    The pruned vector relation is consumed twice (norms + packed
    vectors); ``localCheckpoint`` materializes it once — K rows per doc
    — instead of re-running the tokenize→tf-idf DAG per branch.

    Words are integer-encoded Spark-side with ``xxhash64`` (map-only —
    no dictionary shuffle; the kernel's local vocab is a ``searchsorted``
    over arbitrary int64 ids, so ids need not be compact) and the
    per-tile matrices assemble with numpy fancy indexing — no Python
    per-term dict loops (those cost ~4x the matmuls at sf0.1). A hash
    collision would merge two words' weights; over a V-word pruned vocab
    the odds are ~V²/2⁶⁵ — ~5e-4 even at V=10⁸ — and the exact oracle
    diff would surface one at test scale.
    """
    # quadratic in DOCUMENT count — guard on the relation that actually
    # squares. With no explicit vec, that's the corpus (a parquet
    # count-star, metadata-only), and the check runs BEFORE the
    # pruned-vector localCheckpoint: refusing an oversized corpus must
    # not first run a corpus-scale tokenize->TF-IDF job. With a caller-
    # supplied vec, guard its distinct doc count instead — a small
    # pre-pruned vec over a large sf_dir is legitimate and must not be
    # spuriously refused.
    def guard(rel: DataFrame) -> None:
        guard_exact_quadratic(
            rel,
            what="retrieval.doc_similarity",
            twin="retrieval.doc_similarity_lsh",
            max_rows=max_rows,
        )

    if vec is not None:
        guard(vec.select("doc").distinct())
        return _docsim_tiles(vec)

    def build() -> DataFrame:
        guard(load_table(spark, sf_dir, "documents"))
        return _docsim_tiles(_pruned_vectors_ck(spark, sf_dir))

    if max_rows != EXACT_QUADRATIC_MAX_ROWS:
        return build()
    return _retrieval_memo(
        spark,
        sf_dir,
        "docsim_exact",
        lambda: build().localCheckpoint(eager=False),
    )


def _docsim_tiles(vec: DataFrame) -> DataFrame:
    """``doc_similarity``'s tiled SpGEMM over a (doc, word, wt) relation."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from .similarity import _rounded_cosines

    vecid = vec.withColumn("wid", F.xxhash64("word"))
    norms = vecid.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    # primitive parallel arrays (not array<struct>) — Arrow moves them as
    # flat buffers; array_sort on the packed struct makes the (wid, wt)
    # order deterministic before the split
    packed = (
        vecid.groupBy("doc")
        .agg(F.array_sort(F.collect_list(F.struct("wid", "wt"))).alias("tw"))
        .select(
            "doc",
            F.transform("tw", lambda s: s["wid"]).alias("wids"),
            F.transform("tw", lambda s: s["wt"]).alias("wts"),
        )
        .join(norms, "doc")
    )
    # blocks feed BOTH tile sides — checkpoint so the collect_list
    # shuffle runs once, and each ~n/B-doc payload serializes from the
    # materialized relation instead of re-aggregating per branch
    blocks = (
        packed.groupBy(F.pmod(F.hash("doc"), F.lit(DOCSIM_N_BLOCKS)).alias("blk"))
        .agg(F.collect_list(F.struct("doc", "wids", "wts", "nrm")).alias("vecs"))
        .localCheckpoint()
    )
    a = blocks.select(F.col("blk").alias("blk_a"), F.col("vecs").alias("vecs_a"))
    b = blocks.select(F.col("blk").alias("blk_b"), F.col("vecs").alias("vecs_b"))
    tiles = a.crossJoin(b).where(F.col("blk_a") <= F.col("blk_b"))

    out_schema = "doc_a string, doc_b string, cosine double"
    top_pairs = DOCSIM_TOP_PAIRS

    def tile_top_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def flatten(cell):
            ids = np.array([v["doc"] for v in cell])
            counts = np.fromiter(
                (len(v["wids"]) for v in cell), dtype=np.int64, count=len(cell)
            )
            wids = np.concatenate([np.asarray(v["wids"], dtype=np.int64) for v in cell])
            wts = np.concatenate([np.asarray(v["wts"], dtype=np.float64) for v in cell])
            rows = np.repeat(np.arange(len(cell)), counts)
            nrm = np.array([v["nrm"] for v in cell], dtype="float64")
            return ids, rows, wids, wts, nrm

        def densify(n, rows, cols, wts, width):
            mat = np.zeros((n, width), dtype="float64")
            pres = np.zeros((n, width), dtype="float64")
            # np.add.at, not fancy-index assignment (last-write-wins): an
            # xxhash64 collision then actually MERGES the two words'
            # weights — deterministic, and what the docstring promises
            np.add.at(mat, (rows, cols), wts)
            pres[rows, cols] = 1.0  # term PRESENT, even at weight 0
            return mat, pres

        for pdf in batches:
            for blk_a, blk_b, vecs_a, vecs_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["vecs_a"], pdf["vecs_b"]
            ):
                ids_a, rows_a, wids_a, wts_a, nrm_a = flatten(vecs_a)
                ids_b, rows_b, wids_b, wts_b, nrm_b = flatten(vecs_b)
                # local vocabulary: union of the two blocks' word ids
                u = np.unique(np.concatenate([wids_a, wids_b]))
                mat_a, pres_a = densify(
                    len(ids_a), rows_a, np.searchsorted(u, wids_a), wts_a, len(u)
                )
                mat_b, pres_b = densify(
                    len(ids_b), rows_b, np.searchsorted(u, wids_b), wts_b, len(u)
                )
                cos = _rounded_cosines(mat_a @ mat_b.T, nrm_a, nrm_b)
                lt = ids_a[:, None] < ids_b[None, :]
                if blk_a == blk_b:
                    keep = lt  # strict upper triangle by doc order
                else:
                    keep = ids_a[:, None] != ids_b[None, :]
                # only pairs SHARING a pruned term exist in the sparse
                # formulation (the oracle's inner self-join on word) — a
                # zero-weight shared term still counts, a disjoint pair
                # does not, even though both have dot 0
                keep = keep & ((pres_a @ pres_b.T) > 0)
                ia, ib = np.nonzero(keep)
                if len(ia) == 0:
                    continue
                # normalize orientation: doc_a = lexicographic min
                swap = ~lt[ia, ib]
                lo = np.where(swap, ids_b[ib], ids_a[ia])
                hi = np.where(swap, ids_a[ia], ids_b[ib])
                cs = cos[ia, ib]
                order = np.lexsort((hi, lo, -cs))[:top_pairs]
                yield pd.DataFrame(
                    {"doc_a": lo[order], "doc_b": hi[order], "cosine": cs[order]}
                )

    return (
        tiles.mapInPandas(tile_top_pairs, out_schema)
        .orderBy(F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(DOCSIM_TOP_PAIRS)
    )


def _pruned_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, word, wt) — each doc's DOCSIM_TOP_TERMS highest tf-idf terms
    @6dp, the shared sparse-vector base of both docsim variants."""
    scored = corpus_core(spark, sf_dir).scored
    wts = scored.select("word", "doc", F.round("tfidf", 6).alias("wt"))
    top = Window.partitionBy("doc").orderBy(F.desc("wt"), F.asc("word"))
    return (
        wts.withColumn("rn", F.row_number().over(top))
        .filter(F.col("rn") <= DOCSIM_TOP_TERMS)
        .drop("rn")
    )


def doc_similarity_lsh(
    spark: SparkSession, sf_dir: str, vec: DataFrame | None = None
) -> DataFrame:
    """LSH-prefiltered document cosine similarity — the 100 TB path the
    exact ``doc_similarity`` docstring promises.

    The O((n/B)²) tile cross-join is replaced by MinHash-band candidate
    generation (``dedup.minhash_candidate_pairs`` — docs meet only when a
    full signature band agrees, so the pair surface is the sum of squared
    band-bucket occupancies, linear-ish in n for a non-degenerate corpus).
    Each candidate pair is then scored EXACTLY on the same pruned @6dp
    tf-idf vectors as the exact operator: per-doc term maps are built once
    (one groupBy), the pair join is two equi-joins on doc id, and the
    sparse dot is a ``map_zip_with`` + ``aggregate`` fold — all JVM-side,
    no Python in the pair loop. Pairs sharing no pruned term drop out,
    mirroring the sparse formulation's inner word-join.

    Same output shape as ``doc_similarity``; pair orientation is numeric
    doc_id order (the candidate generator's), cosine @6dp.
    """
    from .dedup import minhash_candidate_pairs

    if vec is None:
        return _retrieval_memo(
            spark,
            sf_dir,
            "docsim_lsh",
            lambda: doc_similarity_lsh(
                spark, sf_dir, _pruned_vectors_ck(spark, sf_dir)
            ).localCheckpoint(eager=False),
        )
    packed = vec.groupBy("doc").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("word", "wt")))
        ).alias("m"),
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm"),
    )
    cand = minhash_candidate_pairs(spark, sf_dir).select(
        F.col("doc_a").cast("string").alias("doc_a"),
        F.col("doc_b").cast("string").alias("doc_b"),
    )
    a = packed.select(
        F.col("doc").alias("doc_a"), F.col("m").alias("m_a"), F.col("nrm").alias("nrm_a")
    )
    b = packed.select(
        F.col("doc").alias("doc_b"), F.col("m").alias("m_b"), F.col("nrm").alias("nrm_b")
    )
    prods = F.map_values(
        F.map_zip_with(
            "m_a",
            "m_b",
            lambda _, x, y: F.when(x.isNotNull() & y.isNotNull(), x * y),
        )
    )
    shared = F.filter(prods, lambda v: v.isNotNull())
    dot = F.aggregate(shared, F.lit(0.0), lambda acc, v: acc + v)
    cos = r6(dot / (F.col("nrm_a") * F.col("nrm_b")))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(F.size(shared) > 0)
        .select("doc_a", "doc_b", cos.alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(DOCSIM_TOP_PAIRS)
    )


def doc_similarity_lsh_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap@k of the LSH-prefiltered docsim against the exact tiled
    one — the approximation-quality metric for the text-side ANN swap
    (twin of ``similarity.lsh_recall``). The two top-k sets orient pairs
    differently (lexicographic vs numeric doc order), so both sides are
    canonicalized to numeric order before the semi-join. One row:
    n_hits, n_exact, overlap.

    Both top-k relations come from the SESSION cache (the owner-rider
    accounting): ``tfidf_docsim`` owns the pruned vectors + exact tile
    pass, ``tfidf_docsim_lsh`` the banded pass — this query is exactly
    their semi-join, so in a full run it re-executes neither. The exact
    side feeds BOTH the denominator count and the semi-join probe, so
    its canonicalized k rows are checkpointed locally too."""
    exact = doc_similarity(spark, sf_dir).select(
        F.least(F.col("doc_a").cast("long"), F.col("doc_b").cast("long")).alias("da"),
        F.greatest(F.col("doc_a").cast("long"), F.col("doc_b").cast("long")).alias("db"),
    ).localCheckpoint()
    approx = doc_similarity_lsh(spark, sf_dir).select(
        F.least(F.col("doc_a").cast("long"), F.col("doc_b").cast("long")).alias("da"),
        F.greatest(F.col("doc_a").cast("long"), F.col("doc_b").cast("long")).alias("db"),
    )
    n_exact = exact.agg(F.count("*").alias("n_exact"))
    hits = exact.join(approx, ["da", "db"], "left_semi").agg(
        F.count("*").alias("n_hits")
    )
    return hits.crossJoin(F.broadcast(n_exact)).select(
        "n_hits",
        F.col("n_exact").cast("long").alias("n_exact"),
        r6(F.col("n_hits") / F.col("n_exact")).alias("overlap"),
    )


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized inverted index: per word its df, corpus-wide term
    frequency, and the posting list rendered ``doc:tf doc:tf …`` ordered by
    doc id (string order — engine-portable).

    One shuffle on ``word``; ``collect_list`` partial-aggregates map-side,
    so the exchange carries per-word partial postings, and the final string
    render is a pure Column expression. The string payload (not
    array<struct>) is deliberate: it makes the relation hashable by any
    engine and is the on-disk shape a posting store would serve.
    """
    wc = corpus_core(spark, sf_dir).word_count
    postings = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc", "count"))),
            lambda s: F.concat_ws(":", s["doc"], s["count"]),
        ),
        " ",
    )
    return wc.groupBy("word").agg(
        F.count("*").alias("df"),
        F.sum("count").alias("total_tf"),
        postings.alias("postings"),
    )


#: The exact-phrase query served by ``phrase_search`` (a corpus-frequent
#: bigram; the oracle builder takes the SAME constant).
PHRASE_QUERY = ("table", "hash")


def phrase_search(
    spark: SparkSession, sf_dir: str, phrase: tuple[str, str] = PHRASE_QUERY
) -> DataFrame:
    """Exact-phrase search: documents containing the two query words
    ADJACENT in reference-tokenizer order, with the occurrence count —
    the positional-postings capability (Lucene PhraseQuery shape) the
    bag-of-words pipeline cannot express, served here without building
    a positional index at all.

    Row-level formulation — the tokenizer's codegen explode chain (the
    measured 10-100x winner over the interpreted higher-order-function
    array form: 60.8s -> sub-second at sf0.1) with positions carried as
    (outer_pos, inner_pos) posexplode indices, then ONE ``lead`` window
    per doc (bounded partitions — a doc's token stream, the textstats
    windowing convention) to pair each word with its successor in
    reference order. At 100 TB this is the scan-speed grep tier; a
    served system would front it with the ``tfidf_postings`` index to
    prune candidate docs (df of the rarest term), then run THIS check
    only on candidates — the standard two-tier phrase plan, of which
    this is the exact tier. Cites: WordCount.java:77-98 tokenizer
    semantics (positions are post-normalization word slots; dropped
    tokens — digits, emptied punctuation — close the gap, so words
    around them ARE adjacent, exactly the reference's stream order).
    """
    from ..functions.tokenize import _WS, standardize_token

    d = documents_as_corpus(load_table(spark, sf_dir, "documents"))
    outer = d.select(
        "doc",
        F.posexplode(F.split(F.col("text"), _WS)).alias("opos", "tok"),
    ).where(F.col("tok") != "")
    std = outer.select(
        "doc", "opos", standardize_token(F.col("tok")).alias("norm")
    )
    words = std.select(
        "doc",
        "opos",
        F.posexplode(F.split(F.col("norm"), _WS)).alias("ipos", "word"),
    ).where(F.col("word") != "")
    w = Window.partitionBy("doc").orderBy("opos", "ipos")
    paired = words.select(
        "doc", "word", F.lead("word").over(w).alias("next_word")
    )
    return (
        paired.where(
            (F.col("word") == phrase[0]) & (F.col("next_word") == phrase[1])
        )
        .groupBy("doc")
        .agg(F.count("*").cast("long").alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("doc"))
    )


#: Unordered proximity window for ``near_search`` (token positions).
NEAR_WINDOW = 3


def near_search(
    spark: SparkSession,
    sf_dir: str,
    terms: tuple[str, str] = PHRASE_QUERY,
    k: int = NEAR_WINDOW,
) -> DataFrame:
    """Proximity (NEAR/k) search: documents where the two query terms
    occur within ``k`` token positions of each other IN EITHER ORDER,
    with the co-occurrence pair count — the relevance tier between
    bag-of-words AND and the exact phrase, same capability family as
    Lucene's SpanNearQuery (unordered).

    Positions are dense ranks over the reference-token stream (the
    ``phrase_search`` explode chain + one per-doc row_number window).
    The two term-position relations are FILTERED BEFORE the join — each
    is the term's per-doc occurrence list, posting-list sized, so the
    per-doc position join is bounded by tf(term) not doc length; at
    100 TB both sides prune at the scan (pushed `word = term` filters)
    and co-partition on doc. Counting PAIRS (not matched occurrences)
    makes the score symmetric in the terms.
    """
    from ..functions.tokenize import _WS, standardize_token

    d = documents_as_corpus(load_table(spark, sf_dir, "documents"))
    outer = d.select(
        "doc",
        F.posexplode(F.split(F.col("text"), _WS)).alias("opos", "tok"),
    ).where(F.col("tok") != "")
    words = (
        outer.select(
            "doc", "opos", standardize_token(F.col("tok")).alias("norm")
        )
        .select(
            "doc",
            "opos",
            F.posexplode(F.split(F.col("norm"), _WS)).alias("ipos", "word"),
        )
        .where(F.col("word") != "")
    )
    w = Window.partitionBy("doc").orderBy("opos", "ipos")
    pos = words.select(
        "doc", "word", F.row_number().over(w).alias("p")
    ).where(F.col("word").isin(*terms))
    a = pos.where(F.col("word") == terms[0]).select("doc", F.col("p").alias("pa"))
    b = pos.where(F.col("word") == terms[1]).select("doc", F.col("p").alias("pb"))
    return (
        a.join(b, "doc")
        .where(F.abs(F.col("pa") - F.col("pb")) <= k)
        .groupBy("doc")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), F.asc("doc"))
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of lexical + vector rankings
# ---------------------------------------------------------------------------

#: Standard RRF constant (Cormack et al.: k=60 dampens rank-1 dominance).
RRF_K = 60
#: Query document (shares similarity.DEFAULT_QUERY_VEC's id space).
HYBRID_QUERY_DOC = 0
#: Depth of each side's ranked list entering the fusion.
HYBRID_SIDE_K = 20
#: Fused results returned.
HYBRID_TOP = 10


def hybrid_search(
    spark: SparkSession, sf_dir: str, query_doc: int = HYBRID_QUERY_DOC
) -> DataFrame:
    """Related-document retrieval for one query doc, fused across BOTH
    index families: the lexical ranking (cosine over the reference
    pipeline's tf-idf vectors, TfidfMapReduce.java:63-97 extended to a
    similarity surface) and the vector ranking (embedding cosine), each
    truncated at ``HYBRID_SIDE_K`` and merged by reciprocal-rank fusion
    ``Σ 1/(RRF_K + rank)`` — the standard hybrid-search shape (lexical
    recalls exact-term matches that embeddings blur; embeddings recall
    paraphrases that share no terms).

    Scale design: each side is the already-scalable ranking primitive —
    the tf-idf side is a broadcast join of the query doc's vocabulary
    (one doc's terms) onto the scored relation plus one per-doc agg; the
    vector side is the one-scan broadcast-query cosine. Both ends in
    TakeOrderedAndProject at depth 20; the fusion joins two 20-row lists
    (trivially broadcast). RRF works on ranks, not scores, so no
    cross-family score calibration is needed — the reason production
    hybrid search uses it.

    Determinism: ranks are row_numbers over (rounded score DESC, doc
    ASC); rrf = sum of 1/(60+int) doubles — bit-identical cross-engine.
    """
    qd = str(query_doc)
    scored = corpus_core(spark, sf_dir).scored
    # three consumers (norms, query vector, dots) — materialize the pruned
    # weight relation once instead of re-running the tokenize→tf-idf DAG
    # per branch (docsim's measured localCheckpoint pattern)
    v = scored.select(
        "doc", "word", F.round("tfidf", 6).alias("wt")
    ).localCheckpoint()
    norms = v.groupBy("doc").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm")
    )
    qv = v.where(F.col("doc") == qd).select("word", F.col("wt").alias("qwt"))
    qn = norms.where(F.col("doc") == qd).select(F.col("nrm").alias("qnrm"))
    dots = (
        v.where(F.col("doc") != qd)
        .join(F.broadcast(qv), "word")
        .groupBy("doc")
        .agg(F.sum(F.col("wt") * F.col("qwt")).alias("dot"))
    )
    lex = (
        dots.join(norms, "doc")
        .crossJoin(F.broadcast(qn))
        .select(
            "doc",
            F.round(F.col("dot") / (F.col("nrm") * F.col("qnrm")), 6).alias(
                "lex_cos"
            ),
        )
        .orderBy(F.desc("lex_cos"), F.asc("doc"))
        .limit(HYBRID_SIDE_K)
    )
    w_lex = Window.orderBy(F.desc("lex_cos"), F.asc("doc"))
    lexr = lex.withColumn("lex_rank", F.row_number().over(w_lex)).select(
        "doc", "lex_rank"
    )

    from ..functions.vectors import cosine

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    q = e.where(F.col("vec_id") == query_doc).select(
        F.col("embedding").alias("q_emb")
    )
    vec = (
        e.where(F.col("vec_id") != query_doc)
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").cast("string").alias("doc"),
            F.round(cosine(F.col("embedding"), F.col("q_emb")), 6).alias("vec_cos"),
        )
        .orderBy(F.desc("vec_cos"), F.asc("doc"))
        .limit(HYBRID_SIDE_K)
    )
    w_vec = Window.orderBy(F.desc("vec_cos"), F.asc("doc"))
    vecr = vec.withColumn("vec_rank", F.row_number().over(w_vec)).select(
        "doc", "vec_rank"
    )

    rrf = F.round(
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0)),
        6,
    )
    return (
        lexr.join(vecr, "doc", "full_outer")
        .select(
            "doc",
            rrf.alias("rrf_score"),
            F.col("lex_rank").cast("long").alias("lex_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
        )
        .orderBy(F.desc("rrf_score"), F.asc("doc"))
        .limit(HYBRID_TOP)
    )


#: spell-suggest thresholds: words this rare are typo suspects, words
#: this frequent are trusted vocabulary, and suggestions must sit
#: within this edit distance.
SUGGEST_RARE_MAX = 2
SUGGEST_FREQ_MIN = 10
SUGGEST_MAX_DIST = 2


def spell_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-stack "did you mean": every RARE corpus word (a typo
    suspect) paired with its best FREQUENT vocabulary word within edit
    distance 2 — distance ascending, then candidate frequency
    descending, then word, so the pick is deterministic.

    The classic trap is the vocab x vocab Levenshtein cross join; here
    candidates block on (first character, ±1 length) — the banded
    range-join move applied to string length, with the frequent side
    exploded to its three length bands so the match is a pure equi-join
    with a bounded 3x fanout — and only the blocked pairs pay the DP
    distance. The blocking's recall price is explicit and standard: a
    typo in the FIRST character, or a pure double-insertion (length
    +2), falls outside the blocks — widening to more lead characters /
    length bands buys recall at fanout cost, the same dial as LSH
    bands. Levenshtein is integer-exact in both engines. At 100 TB the
    vocabulary relation (not the corpus) is what joins, and each block
    is letter x length sized.

    On the driver's synthetic fixtures this relation is EMPTY at every
    scale factor — the generated vocabulary contains no near-miss rare
    words, which is a true statement about that corpus, not a bug; the
    planted-typo pytest carries the behavioral evidence."""
    from pyspark.sql.window import Window

    from ..functions.hashing import norm_words

    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(norm_words(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    rare = vocab.where(F.col("n") <= SUGGEST_RARE_MAX).select(
        F.col("w").alias("word"),
        F.col("n").alias("n"),
        F.substring("word", 1, 1).alias("blk"),
        F.length("word").alias("wlen"),
    )
    freq = (
        vocab.where(F.col("n") >= SUGGEST_FREQ_MIN)
        .select(
            F.col("w").alias("suggestion"),
            F.col("n").alias("sug_n"),
            F.substring("w", 1, 1).alias("blk"),
            F.explode(
                F.array(
                    F.length("w") - 1, F.length("w"), F.length("w") + 1
                )
            ).alias("wlen"),
        )
    )
    cand = (
        rare.join(freq, ["blk", "wlen"])
        .where(F.col("word") != F.col("suggestion"))
        .select(
            "word",
            "n",
            "suggestion",
            "sug_n",
            F.levenshtein("word", "suggestion").cast("long").alias("distance"),
        )
        .where(F.col("distance") <= SUGGEST_MAX_DIST)
    )
    w = Window.partitionBy("word").orderBy(
        F.asc("distance"), F.desc("sug_n"), F.asc("suggestion")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("word", "n", "suggestion", "sug_n", "distance")
        .orderBy("word")
    )
