"""One ops entry point for every durable versioned artifact root.

The engine maintains two versioned-state layouts, both committed
through ``sources.fs``'s primitives:

- a **model store** root (``sources.model_store``): families of
  artifacts, each with a ``_CURRENT`` manifest naming its live version
  (``<root>/<family>/<key_hash>/{_CURRENT, v-*, data-*}``);
- a **streamed index** root (``streaming.queries.make_index_merge``):
  one chained-version index (``<root>/{manifest/v*, seg_v*, df_v*}``).

For the TF-IDF index both layouts hold the same state, written by the
same ``operators.tfidf.fold`` and served by the same ``score``; only
the fold's ``put`` (how each of postings, df and N is materialized)
differs between them. N is a number in both: the ``_N`` file inside
its df version's dir in the store, the ``"n"`` field of its manifest
entry in a streamed root — so it commits and ages with its version and
is never read from another one. No reader is kept for the older layout
that kept N in a parquet table of its own: a store's old N family dirs
age out through ``models prune``, and a streamed root written in that
layout (manifest entries without ``"n"``) must be drained again.

Their commit protocols differ by design (single live version vs a
parent-chained history with retention), but the OPS loop over them is
the same verb pair — audit read-only, then reap what the audit proved
unreachable — and before round 12 each layout carried its own CLI
special case (``models verify --index-root``). This module is the
convergence point (round-11 verdict #3): ``audit``/``reap`` detect the
layout from the root itself and dispatch to the layout's classifier,
so the CLI (and any operator script) has ONE code path and zero
layout flags.

The reap DECISIONS stay where each protocol's invariants live —
``model_store.verify_store`` and ``streaming.queries
._index_reap_candidates`` (the same plan the in-stream sweep runs) —
this module only routes and executes."""

from __future__ import annotations

import re

_INDEX_DIR_RE = re.compile(r"^(seg|df)_v\d+$")


def detect_kind(root: str, spark=None) -> str:
    """``"index"`` when the root holds streamed-index state (a
    ``manifest/`` dir or any ``seg_v*/df_v*`` child);
    ``"index-shards"`` when the root is a PARENT of index roots (the
    sharded-federation deployment: one ``make_index_merge`` root per
    corpus shard under a common dir) — detected by any child dir that
    is itself an index root; else ``"store"`` — an empty or missing
    root audits as an empty store."""
    from . import fs

    try:
        names = fs.list_names(root, spark)
    except RuntimeError as exc:
        # a schemed root with no SparkSession to reach it: surface as
        # the same error class the store audit uses for unreachable
        # roots, so `models verify/reap` exits 2 with the message
        raise ValueError(
            f"cannot inspect remote root {root!r} without an active "
            f"SparkSession ({exc})"
        ) from exc
    if "manifest" in names or any(_INDEX_DIR_RE.match(n) for n in names):
        return "index"
    for n in names:
        child = fs.list_names(fs.join(root, n), spark)
        if "manifest" in child or any(_INDEX_DIR_RE.match(c) for c in child):
            return "index-shards"
    return "store"


def _shard_roots(root: str, spark=None) -> list:
    """The child names of an ``index-shards`` root that are index
    roots themselves, sorted — the federation's per-shard audit/reap
    targets. Non-index children (a README, a _checkpoints dir) are
    left alone."""
    from . import fs

    out = []
    for n in sorted(fs.list_names(root, spark)):
        child = fs.list_names(fs.join(root, n), spark)
        if "manifest" in child or any(_INDEX_DIR_RE.match(c) for c in child):
            out.append(n)
    return out


def audit(root: str, spark=None, *, kind: str | None = None) -> dict:
    """Read-only integrity report of ``root``, whatever it holds.
    Returns the layout's native report with a ``"kind"`` key added —
    both layouts expose ``reap_candidates``: the paths/names a
    :func:`reap` on the same root would delete, so audit-then-reap is
    always what-you-saw-is-what-you-get."""
    from . import fs

    kind = kind or detect_kind(root, spark)
    if kind == "index":
        from ..streaming.queries import verify_index_root

        rep = verify_index_root(root, spark)
    elif kind == "index-shards":
        from ..streaming.queries import verify_index_root

        shards = {
            name: verify_index_root(fs.join(root, name), spark)
            for name in _shard_roots(root, spark)
        }
        rep = {
            "root": root,
            "shards": shards,
            "reap_candidates": [
                f"{name}/{c}"
                for name, srep in shards.items()
                for c in srep["reap_candidates"]
            ],
        }
    else:
        from .model_store import verify_store

        rep = verify_store(spark, root=root)
    rep["kind"] = kind
    return rep


def reap(root: str, spark=None, *, kind: str | None = None) -> dict:
    """Delete what :func:`audit` proved unreachable. Returns
    ``{"kind", "reaped": [...]}`` (plus the layout's native fields).

    Grace policy follows each layout's hazard model: the store applies
    its 1-hour in-flight-writer age grace (a heal stages BESIDE a live
    marker, so a young candidate may be a writer mid-commit); the index
    root needs none (its candidates are manifest-unreachable by the
    commit ordering — no in-flight writer ever references them — and
    offline GC runs on a stopped stream by contract)."""
    from . import fs

    kind = kind or detect_kind(root, spark)
    if kind == "index":
        from ..streaming.queries import gc_index_root

        rep = gc_index_root(root, spark)
    elif kind == "index-shards":
        from ..streaming.queries import gc_index_root

        shards = {
            name: gc_index_root(fs.join(root, name), spark)
            for name in _shard_roots(root, spark)
        }
        rep = {
            "root": root,
            "shards": shards,
            "reaped": [
                f"{name}/{r}"
                for name, srep in shards.items()
                for r in srep["reaped"]
            ],
        }
    else:
        from .model_store import reap_store

        rep = {"reaped": reap_store(spark, root=root)}
    rep["kind"] = kind
    rep.setdefault("reaped", [])
    return rep
