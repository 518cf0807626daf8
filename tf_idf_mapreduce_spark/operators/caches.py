"""Registry of the process-lifetime MODEL-FIT caches and which registry
queries absorb a fit into them.

Why this exists: the round-6 review found the 2x perf gate was vacuous
for model-cached queries — their baseline pins were WARM in-session
numbers (cache already populated) while a clean run pays the fit, and
the gate's own warmup re-populated the cache before every re-time, so
the cold path could never be priced. The fix is to price BOTH numbers
explicitly: ``bench.py`` clears a query's fit cache before its timed run
(cold = fresh-process first call including the fit) and times a second
run (warm = steady-state, the index-serving shape), and
``bench_gate.py`` gates cold-vs-cold and warm-vs-warm separately.

Only queries whose cache holds a FIT the query itself would otherwise
compute belong here. Caches that hold a shared materialization priced
under a single owner query (``dedup._SEMKEEP_RESULT_CACHE`` — its owner
``dedup_semantic_keep`` is pinned WITH the materialization and its
consumers are pinned warm, with provenance in the baseline) stay out.
"""

from __future__ import annotations

from typing import Callable


def insert_evicting(cache: dict, key: tuple, value, *, prefix: int) -> None:
    """Insert ``value`` at ``key``, first evicting every entry that
    shares the leading ``prefix`` key fields (same application + logical
    relation) but differs in the trailing fingerprint/conf fields.

    The session caches hold ``localCheckpoint``-ed DataFrames; a
    checkpoint's RDD blocks are only freed when the DataFrame is
    garbage-collected, so in a long-lived session where the underlying
    parquet or a keyed conf changes, stale entries would pin block-
    manager storage monotonically. One live entry per (application,
    relation) is the correct steady state — the newest key wins."""
    for k in [k for k in cache if k != key and k[:prefix] == key[:prefix]]:
        del cache[k]
    cache[key] = value


def _clear_pca() -> None:
    from ..sources.model_store import drop_models
    from . import similarity

    similarity._PCA_CACHE.clear()
    # the durable L2 too: a cold measurement must price the FIT, not a
    # parquet load of a previous process's fit
    drop_models("pca_components")


def _clear_bpe() -> None:
    from ..sources.model_store import drop_models
    from . import textstats

    textstats._BPE_MERGE_CACHE.clear()
    drop_models("bpe_merges")


def _clear_tfidf_index() -> None:
    from ..sources.model_store import drop_models
    from .tfidf import INDEX_FAMILIES

    for family in INDEX_FAMILIES:
        drop_models(family)


def _clear_incremental_screens() -> None:
    """Everything the admission manifest barriers durably: the two
    arrival-dedup screen tables plus the three manifest-only screens.
    Clearing them makes curate_incremental_manifest's cold number the
    full write-path (compute every screen + write five tables) and its
    warm number the production read-path."""
    from ..sources.model_store import drop_models
    from . import dedup

    dedup._INCREMENTAL_SCREEN_CACHE.clear()
    for family in (
        "incremental_dedup",
        "incremental_semantic_dedup",
        "screen_inc_contam",
        "screen_inc_pii",
        "screen_inc_quality",
        "corpus_band_index",
    ):
        drop_models(family)


def _clear_semantic_keep() -> None:
    from ..sources.model_store import drop_models
    from . import dedup

    dedup._SEMKEEP_RESULT_CACHE.clear()
    drop_models("semantic_keep")


def _clear_incremental_dedup() -> None:
    """The lexical arrival screen owns its durable result table AND the
    shared corpus band index: cold = sign corpus + write index + band
    join + write verdicts; warm = read the verdict table."""
    from ..sources.model_store import drop_models
    from . import dedup

    dedup._INCREMENTAL_SCREEN_CACHE.clear()
    drop_models("incremental_dedup")
    drop_models("corpus_band_index")


def _clear_incremental_semantic() -> None:
    from ..sources.model_store import drop_models
    from . import dedup

    dedup._INCREMENTAL_SCREEN_CACHE.clear()
    drop_models("incremental_semantic_dedup")


def _clear_pq_codes() -> None:
    """The persisted quantized index (codes + norms + cid): cold = the
    codebook fit + the one-time Arrow encode of every vector + table
    write + ADC scan (exactly what a fresh bench process pays under
    this owner); warm = the JVM-codegen ADC scan the serving path runs.
    The codebooks clear WITH the codes — an isolated re-pin with warm
    codebooks under-prices cold 3.5x (round-9 gate catch) — and so does
    the COARSE quantizer (round-9 ADVICE): the code table's cid column
    depends on the IVF centroids, and leaving them warm made the cold
    pin silently assume an IVF query always ran (and persisted its fit)
    earlier in the same bench process."""
    from ..sources.model_store import drop_models
    from . import similarity

    similarity._PQ_BOOK_CACHE.clear()
    similarity._IVF_CENT_CACHE.clear()
    drop_models("ivf_centroids")
    drop_models("pq_codebooks")
    drop_models("pq_code_table")


def _clear_e2e_index() -> None:
    """The composed daily update reads BOTH durable layers: the five
    screen tables and the two index tables. Cold = day zero (every
    screen + the index build + the fold); warm = the production daily
    read-path."""
    _clear_incremental_screens()
    _clear_tfidf_index()


#: query name -> cache-clear callable. Clearing before the timed run
#: makes the measurement a true fresh-process cold call even when an
#: earlier query in the same bench session shares the cache
#: (sim_pca_project shares _PCA_CACHE with sim_pca_power; cleared, its
#: cold includes the full v1 fit + Hotelling deflation).
MODEL_CACHED_QUERIES: dict[str, Callable[[], None]] = {
    "sim_pca_power": _clear_pca,
    "sim_pca_project": _clear_pca,
    "text_bpe_train": _clear_bpe,
    # the persisted-index fold: cold prices building + writing the three
    # index tables; warm prices the production daily-fold shape (load +
    # tokenize the arrival slice only)
    "tfidf_incremental_persisted": _clear_tfidf_index,
    # the promoted chain (round 10): version keys live in the same three
    # families, so the clear wipes base + every promoted day. Cold =
    # build v0 + three per-day promotes + score; warm = the all-parquet
    # serving read (zero documents scans, plan-pinned)
    "tfidf_incremental_chain_persisted": _clear_tfidf_index,
    # the durable screen-table writers (round-9 verdict #6): one
    # host-contention spike on a cold-only pin and the 2x margin is
    # gone — price the write-path and read-path separately
    "curate_incremental_manifest": _clear_incremental_screens,
    "dedup_semantic_keep": _clear_semantic_keep,
    # the two arrival screens own durable verdict tables (and, for the
    # lexical one, the shared corpus band index)
    "dedup_incremental": _clear_incremental_dedup,
    "dedup_incremental_semantic": _clear_incremental_semantic,
    # the quantized-index owner: cold prices the one-time encode
    "sim_pq_topk": _clear_pq_codes,
    # round 9: the composed update now reads the persisted index too
    "tfidf_incremental_e2e": _clear_e2e_index,
    # round 10: the promoted day owns the same two durable layers plus
    # its own e2e-keyed segment/df/N (same two index families)
    "tfidf_e2e_promoted": _clear_e2e_index,
    # round 11: search against the promoted index — cold prices the
    # chain build + the search; warm is the production query path
    # (index parquet + two broadcast-join aggregations, zero documents)
    "tfidf_search_promoted": _clear_tfidf_index,
    # ... and BM25 over the same promoted state
    "tfidf_bm25_promoted": _clear_tfidf_index,
}
