"""One ops entry point for every durable versioned artifact root.

The engine maintains two versioned-state layouts, each with its own
commit record and one commit step under both (``sources.fs
.commit_text``: create the record exclusively, let a valid existing
record win, heal a torn one by atomic overwrite):

- a **model store** root (``sources.model_store``): families of
  artifacts, each with a ``_CURRENT`` pointer naming its live version
  (``<root>/<family>/<key_hash>/{_CURRENT, v-*, data-*}``);
- a **streamed index** root (``sources.index_root``, written by
  ``streaming.queries.make_index_merge``): one chained-version index
  (``<root>/{manifest/v*, seg_v*, df_v*}``).

Both do every file operation through ``sources.fs``, so either lives on
a local path or a ``file://``/``hdfs://``/``s3a://`` root.

For the TF-IDF index both layouts hold the same state, written by the
same ``operators.tfidf.fold`` and served by the same ``score``; only
the fold's ``put`` (how each of postings, df and N is materialized)
differs between them. N is a number in both: the ``_N`` file inside
its df version's dir in the store, the ``"n"`` field of its manifest
entry in a streamed root — so it commits and ages with its version and
is never read from another one. No reader is kept for an older
layout: a store artifact without ``_CURRENT`` (bare ``data.parquet`` or
parquet files) is refit on its next load, old N family dirs age out
through ``models prune``, and a streamed root whose manifest entries
lack ``"n"`` must be drained again.

Their commit records differ by design (single live version vs a
parent-chained history with retention), but the OPS loop over them is
the same verb pair — audit read-only, then reap what the audit proved
unreachable. ``audit``/``reap`` detect the layout from the root itself
and dispatch to the layout's classifier, so the CLI (and any operator
script) has ONE code path and zero layout flags.

The reap DECISIONS stay where each protocol's invariants live —
``model_store.verify_store`` and ``index_root.verify_index_root`` (the
same plan the in-stream sweep runs) — this module only routes and
executes."""

from __future__ import annotations

from . import fs
from .index_root import gc_index_root, is_index_root, verify_index_root
from .model_store import reap_store, verify_store


def detect_kind(root: str, spark=None) -> str:
    """``"index"`` when the root holds streamed-index state;
    ``"index-shards"`` when the root is a PARENT of index roots (the
    sharded-federation deployment: one ``make_index_merge`` root per
    corpus shard under a common dir); else ``"store"`` — an empty or
    missing root audits as an empty store."""
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
    if is_index_root(names):
        return "index"
    return "index-shards" if _shard_roots(root, spark) else "store"


def _shard_roots(root: str, spark=None) -> list:
    """The child names of an ``index-shards`` root that are index
    roots themselves, sorted — the federation's per-shard audit/reap
    targets. Non-index children (a README, a _checkpoints dir) are
    left alone."""
    return [
        n
        for n in sorted(fs.list_names(root, spark))
        if is_index_root(fs.list_names(fs.join(root, n), spark))
    ]


def audit(root: str, spark=None, *, kind: str | None = None) -> dict:
    """Read-only integrity report of ``root``, whatever it holds.
    Returns the layout's native report with a ``"kind"`` key added —
    both layouts expose ``reap_candidates``: the paths/names a
    :func:`reap` on the same root would delete, so audit-then-reap is
    always what-you-saw-is-what-you-get."""
    kind = kind or detect_kind(root, spark)
    if kind == "index":
        rep = verify_index_root(root, spark)
    elif kind == "index-shards":
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
    kind = kind or detect_kind(root, spark)
    if kind == "index":
        rep = gc_index_root(root, spark)
    elif kind == "index-shards":
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
        rep = {"reaped": reap_store(spark, root=root)}
    rep["kind"] = kind
    rep.setdefault("reaped", [])
    return rep
