"""Which registry queries absorb a model fit or a durable table into the
two cache layers, and the one clear that empties both.

Why this exists: the round-6 review found the 2x perf gate was vacuous
for model-cached queries — their baseline pins were WARM in-session
numbers (cache already populated) while a clean run pays the fit, and
the gate's own warmup re-populated the cache before every re-time, so
the cold path could never be priced. The fix is to price BOTH numbers
explicitly: ``bench.py`` clears a query's families before its timed run
(cold = fresh-process first call including the fit) and times a second
run (warm = steady-state, the index-serving shape), and
``bench_gate.py`` gates cold-vs-cold and warm-vs-warm separately.

A family names both layers at once: the process memo entries
(``sources.io.memo`` name) and the durable model-store directory
(``model_store`` family). ``clear(family)`` empties both, so the map
below lists store families only and can no longer forget a memo.

Only queries whose families hold a FIT or table the query itself would
otherwise compute belong here. Session relations priced under a single
owner query (the SemDeDup disposition's consumers, the candidate
overlap, the pHash pairs, the docsim family) stay out.
"""

from __future__ import annotations

from functools import partial
from typing import Callable

from .tfidf import INDEX_FAMILIES


def clear(*families: str) -> None:
    """Empty both cache layers of ``families``: the memo entries of
    those names, then every stored artifact of each family (a cold
    measurement must price the FIT, not a parquet load of a previous
    process's fit)."""
    from ..sources.io import forget
    from ..sources.model_store import drop_models

    forget(*families)
    for family in families:
        drop_models(family)


#: Everything the admission manifest barriers durably: the two arrival
#: screens, the three manifest-only screens and the shared corpus band
#: index. Cleared, curate_incremental_manifest's cold number is the full
#: write-path (compute every screen + write the tables) and its warm
#: number the production read-path.
_SCREENS = (
    "incremental_dedup",
    "incremental_semantic_dedup",
    "screen_inc_contam",
    "screen_inc_pii",
    "screen_inc_quality",
    "corpus_band_index",
)

#: query name -> the families its cold run must rebuild. Clearing before
#: the timed run makes the measurement a true fresh-process cold call
#: even when an earlier query in the same bench session shares the
#: family (sim_pca_project shares pca_components with sim_pca_power;
#: cleared, its cold includes the full v1 fit + Hotelling deflation).
QUERY_FAMILIES: dict[str, tuple[str, ...]] = {
    "sim_pca_power": ("pca_components",),
    "sim_pca_project": ("pca_components",),
    "text_bpe_train": ("bpe_merges",),
    # the persisted-index fold: cold prices building + writing the
    # postings and df tables; warm prices the production daily-fold
    # shape (load + tokenize the arrival slice only)
    "tfidf_incremental_persisted": INDEX_FAMILIES,
    # the promoted chain: version keys live in the same two families, so
    # the clear wipes base + every promoted day. Cold = build v0 + three
    # per-day promotes + score; warm = the all-parquet serving read
    # (zero documents scans, plan-pinned)
    "tfidf_incremental_chain_persisted": INDEX_FAMILIES,
    # the durable screen-table writers (round-9 verdict #6): one
    # host-contention spike on a cold-only pin and the 2x margin is
    # gone — price the write-path and read-path separately
    "curate_incremental_manifest": _SCREENS,
    "dedup_semantic_keep": ("semantic_keep",),
    # the two arrival screens own durable verdict tables (and, for the
    # lexical one, the shared corpus band index): cold = sign corpus +
    # write index + band join + write verdicts; warm = read the verdicts
    "dedup_incremental": ("incremental_dedup", "corpus_band_index"),
    "dedup_incremental_semantic": ("incremental_semantic_dedup",),
    # the quantized-index owner: cold prices the codebook fit + the
    # one-time encode of every vector + table write + ADC scan. The
    # codebooks clear WITH the codes (an isolated re-pin with warm
    # codebooks under-prices cold 3.5x, round-9 gate catch) and so does
    # the COARSE quantizer: the code table's cid column depends on the
    # IVF centroids (round-9 ADVICE)
    "sim_pq_topk": ("ivf_centroids", "pq_codebooks", "pq_code_table"),
    # the composed daily update reads BOTH durable layers: the screen
    # tables and the index tables. Cold = day zero (every screen + the
    # index build + the fold); warm = the production daily read-path
    "tfidf_incremental_e2e": _SCREENS + INDEX_FAMILIES,
    # the promoted day owns the same two durable layers plus its own
    # e2e-keyed segment/df/N (same two index families)
    "tfidf_e2e_promoted": _SCREENS + INDEX_FAMILIES,
    # search against the promoted index — cold prices the chain build +
    # the search; warm is the production query path (index parquet + two
    # broadcast-join aggregations, zero documents)
    "tfidf_search_promoted": INDEX_FAMILIES,
    # ... and BM25 over the same promoted state
    "tfidf_bm25_promoted": INDEX_FAMILIES,
}

#: query name -> cache-clear callable (what ``bench.py``, the gate
#: scripts and ``perfbench`` call, and may re-wrap, by key).
MODEL_CACHED_QUERIES: dict[str, Callable[[], None]] = {
    q: partial(clear, *families) for q, families in QUERY_FAMILIES.items()
}
