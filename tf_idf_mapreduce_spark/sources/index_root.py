"""The streamed index root's versioned-state protocol.

A streamed index root (``streaming.queries.make_index_merge`` writes
one per stream) holds one chained-version TF-IDF index::

    <root>/manifest/v{b}      one JSON entry per committed version:
                              {"parent", "segment", "base", "n"}
    <root>/seg_v{b}/          the version's postings segment (parquet)
    <root>/df_v{b}/           the version's df table (parquet)
    <root>/tombstones/t-*     the takedown ledger (JSON entries)

A version is committed by creating its manifest entry after its data
writes (:func:`commit_version`, through ``sources.fs.commit_text`` —
the same commit step as the model store's ``_CURRENT`` pointer), so it
is either fully present or absent. Readers resolve a version through
the manifest's parent chain (:func:`index_state`); retention
(:func:`sweep`), the ledger, and the offline ``models verify`` /
``models reap`` verbs (:func:`verify_index_root`, :func:`gc_index_root`)
all decide from the same manifest. Every file operation goes through
``sources.fs``, so ``root`` may be a local dir, ``file://``,
``hdfs://`` or ``s3a://``. The scoring itself stays with its callers:
this module returns index state, never a scored relation.
"""

from __future__ import annotations

import json
import re
import uuid

from pyspark.sql import functions as F

from . import fs

#: A streamed index root's version dirs, ``seg_v{b}`` and ``df_v{b}``.
_VERSION_DIR = re.compile(r"^(seg|df)_v(\d+)$")


def is_index_root(names) -> bool:
    """Whether a directory whose child names are ``names`` holds a
    streamed index: a ``manifest/`` dir or any ``seg_v*``/``df_v*``
    child."""
    return "manifest" in names or any(_VERSION_DIR.match(n) for n in names)


def manifest_versions(root: str, spark=None) -> dict:
    """Committed versions of a streamed index merge: one JSON file per
    version under ``<root>/manifest``, created exclusively
    (:func:`commit_version`) only after that version's data writes
    completed — so a version is either fully present or absent, never
    torn. Returns
    {batch_id: {"parent": int|None, "segment": bool, "base": bool,
    "n": int}} — ``n`` is the version's document count N, committed by
    the same exclusive create as the version itself.

    A TORN entry — empty or truncated JSON from a crash inside the
    commit write itself (O_EXCL create + write is not crash-atomic on a
    local FS) — reads as NOT COMMITTED: only batch N ever writes
    ``v{N}`` (Structured Streaming runs one foreachBatch per checkpoint
    and replays the failed batch before any later one), so the replay
    recomputes the same deterministic state and :func:`commit_version`
    HEALS the leftover by atomic overwrite. Tmp files and any
    non-``v<id>`` name are ignored."""
    out = {}
    for name in fs.list_names(fs.join(root, "manifest"), spark):
        if name.startswith("v") and name[1:].isdigit():
            path = fs.join(root, "manifest", name)
            entry = _entry(fs.read_text(path, spark))
            if entry is not None:  # else torn — the replay heals it
                out[int(name[1:])] = entry
    return out


def _entry(text: str | None) -> dict | None:
    """A manifest entry's parsed JSON, or None when torn (empty or
    truncated by a crash inside its commit write)."""
    try:
        return json.loads(text) if text else None
    except ValueError:
        return None


def commit_version(root: str, batch_id: int, entry: dict, spark=None):
    """Commit version ``batch_id``: create its manifest entry with
    ``fs.commit_text`` — the batch's last write, after every data write
    of the version completed. A valid entry already there stands (a
    committed replay). A torn one is the batch's own crashed earlier
    attempt — only batch N ever writes ``v{N}``, and its recompute is
    deterministic — so it is healed by atomic overwrite, the same
    torn-record rule as a model-store artifact's ``_CURRENT``."""
    fs.makedirs(fs.join(root, "manifest"), spark)
    fs.commit_text(
        fs.join(root, "manifest", f"v{batch_id}"),
        json.dumps(entry),
        lambda text: _entry(text) is not None,
        spark,
    )


def segment_chain(committed: dict, start) -> list:
    """Version ids whose segments the chain from ``start`` references,
    stopping at (and including) the newest ``base`` — the set a reader
    unions and a compaction folds/reaps."""
    out, v = [], start
    while v is not None:
        m = committed[v]
        if m.get("segment"):
            out.append(v)
        if m.get("base"):
            break
        v = m.get("parent")
    return out


def index_state(spark, root: str, version: int | None = None) -> tuple:
    """The index at committed ``version`` (the newest when None) as
    ``(segments, df, n, version)``: the postings segments on the
    manifest's parent chain from that version (orphan dirs from an
    uncommitted crash are skipped by construction), its df table, its
    manifest entry's N, and the version it resolved to. Raises when
    nothing, or not ``version``, is committed. The one resolver behind
    every read of a root."""
    committed = manifest_versions(root, spark)
    if not committed:
        raise RuntimeError(
            f"no micro-batch committed an index version under {root!r}"
        )
    cur = max(committed) if version is None else version
    if cur not in committed:
        raise RuntimeError(
            f"version {version} is not committed under {root!r} (have "
            f"{sorted(committed)}; older versions may have aged past "
            f"the compaction retention window)"
        )
    segs = [
        spark.read.parquet(fs.join(root, f"seg_v{v}"))
        for v in segment_chain(committed, cur)
    ]
    dfx = spark.read.parquet(fs.join(root, f"df_v{cur}"))
    return segs, dfx, committed[cur]["n"], cur


def sweep(root: str, committed: dict, batch_id: int, spark=None) -> None:
    """Reap state the manifest can no longer reach. Runs at the START of
    every compacting batch — never after a commit, so a crash can only
    DEFER a sweep to the next compaction, never skip one forever (the
    round-10 leak: a crash between a compacting commit and its reap left
    those segments permanently orphaned).

    Three sweeps, all against already-unreachable state:

    - **segments** not on the newest version's chain (the chain stops at
      the newest base). This is also where the previous compaction's
      folded segments finally go: they are kept as a GRACE generation
      until the next compacting batch, so a reader that resolved a
      version on the live stream can lazily scan its segments without
      hitting FileNotFound until a full compaction cycle later.
    - **df generations** other than the newest version's and its
      parent's (the per-batch post-commit reap keeps the same pair; this
      heals crash leaks).
    - **manifest entries** strictly below the newest base: no chain walk
      visits them (chains stop at the base) and parent resolution takes
      the max, so the manifest stays O(compact_every) files however long
      the stream runs instead of one file per micro-batch forever.

    Versions at/above ``batch_id`` are never touched: an id equal to the
    current batch is this batch's own crashed earlier attempt, about to
    be overwritten by its replay.

    Split into PLAN (:func:`_sweep_plan`, read-only) and ACT so
    the same decision code path backs the in-stream sweep, the
    ``models verify`` reap-candidate report, and offline GC (round-11
    verdict #3: one verify/reap code path)."""
    names = fs.list_names(root, spark)
    dirs, manifest_prunes = _sweep_plan(committed, names, batch_id)
    for name in dirs:
        fs.delete_recursive(fs.join(root, name), spark)
    for v in manifest_prunes:
        fs.delete_recursive(fs.join(root, "manifest", f"v{v}"), spark)
        del committed[v]


def _sweep_plan(
    committed: dict, names: list, batch_id: int
) -> tuple[list, list]:
    """The sweep DECISION, with no I/O: given the committed manifest,
    the root's child names, and the sweep horizon (the current batch
    id, or ``max+1`` for an offline pass), return ``(dir_names_to_
    delete, manifest_versions_to_prune)``. See :func:`sweep`
    for the retention rules each list encodes."""
    if not committed:
        return [], []
    cur = max(committed)
    live_segs = set(segment_chain(committed, cur))
    live_dfn = {cur}
    if committed[cur].get("parent") is not None:
        live_dfn.add(committed[cur]["parent"])
    dirs = []
    for name in names:
        m = _VERSION_DIR.match(name)
        if not m:
            continue
        kind, v = m.group(1), int(m.group(2))
        if v >= batch_id:
            continue
        if v not in (live_segs if kind == "seg" else live_dfn):
            dirs.append(name)
    manifest_prunes = []
    bases = [v for v, meta in committed.items() if meta.get("base")]
    if bases:
        # manifest retention must stay consistent with df retention:
        # live_dfn keeps the newest version's PARENT df as the grace
        # generation, so its manifest entry must survive too — at
        # compact_every=1 every version is a base and a max(bases)
        # cutoff would prune the parent's entry while its df dirs
        # linger as verify-reported orphans (round-11 ADVICE)
        cutoff = min(max(bases), min(live_dfn))
        manifest_prunes = [v for v in committed if v < cutoff]
    return sorted(dirs), sorted(manifest_prunes)


def add_tombstones(spark, root: str, docs: list) -> str:
    """TAKEDOWN for the streamed index: record that ``docs`` (doc keys,
    the index's ``doc`` column values) must no longer be served — the
    right-to-be-forgotten verb a training-corpus index needs.

    Design: a READ-TIME OVERLAY LEDGER, not a chain version. Each call
    commits one immutable entry ``tombstones/t-<uuid>`` (JSON doc list,
    ``fs.put_text_exclusive`` — uuid names make contention structurally
    absent) and every ``read_merged_index`` serve anti-joins the chain's
    postings against the ledger union and re-derives df/N (see there).
    Because no version id is minted, the verb is SAFE ON A LIVE STREAM:
    it cannot collide with Structured Streaming's checkpointed batch
    ids (an offline writer sharing the version namespace could make a
    resumed batch replay-skip itself), and it composes with compaction
    with zero protocol changes — a fold that copies tombstoned rows is
    harmless, the overlay keeps filtering them.

    INVARIANT — the fold must NOT pre-filter tombstoned rows: the
    overlay derives its df/N adjustments from SEGMENT CONTENT (the
    read-time overlay in ``streaming.queries``), while the chain's df/N
    lineage is additive from the original batches. Physically dropping
    rows at a fold without rewriting the whole df lineage would leave
    df overcounting with nothing for the overlay to subtract. Physical
    erasure of the bytes (strict right-to-be-forgotten) is therefore a
    separate offline rewrite of segments AND df/N together — not this
    ledger, and not a fold-time filter.

    Contract: entries assert the docs EXISTED (the takedown request
    knows); unknown keys are no-ops. A document that tokenized to ZERO
    words has no postings, so its only trace is the corpus count N —
    the overlay cannot see it and N stays; takedowns of zero-word docs
    are metadata-only everywhere (they never served content).

    Scale posture: ledgers are takedown-request-sized (KBs), read once
    per serve and broadcast; a corpus-scale purge belongs in a
    compaction rewrite, not a ledger. Returns the committed entry
    path.

    The entry also stores the docs' RESOLVED POSTINGS — their (word,
    doc) rows plus the segment version each doc sits in, found by one
    IN-filtered chain scan at write time. That makes the SERVE
    scan-free (P18: deriving df/N adjustments from segment content at
    read time cost ~2.4x the plain serve even for a 10-doc ledger;
    stored rows make the overlay a driver-side dict + broadcast
    literals). Version membership at read time is ``stored seg_version
    <= read version``: on a full-retention root the stored version IS
    the doc's arrival batch (exact for every as-of read); on a
    compacting root the stored version is a fold id <= the newest base
    <= every reachable as-of version, so the test stays correct. Docs
    NOT found in the chain at write time (a pre-emptive blocklist of
    content that may arrive later) stay unresolved in the entry; reads
    fall back to the content scan for exactly those."""
    doc_list = sorted({str(d) for d in docs})
    postings: list = []
    committed = manifest_versions(root, spark)
    if committed and doc_list:
        cur = max(committed)
        for v in segment_chain(committed, cur):
            seg = spark.read.parquet(fs.join(root, f"seg_v{v}"))
            for r in (
                seg.where(F.col("doc").isin(doc_list))
                .select("word", "doc")
                .collect()
            ):
                postings.append([r["word"], r["doc"], v])
    fs.makedirs(fs.join(root, "tombstones"), spark)
    path = fs.join(root, "tombstones", f"t-{uuid.uuid4().hex}")
    if not fs.put_text_exclusive(
        path,
        json.dumps({"docs": doc_list, "postings": postings}),
        spark,
    ):
        raise RuntimeError(f"tombstone entry collision at {path!r}")
    return path


def tombstone_ledger(root: str, spark=None) -> tuple:
    """``(docs, resolved)``: every committed ledger doc, plus the
    stored write-time resolution ``{doc: (seg_version, [words])}`` for
    docs whose postings were found when their entry was written (see
    :func:`add_tombstones`). A doc named by several entries keeps its
    FIRST resolution (postings are immutable — later copies would be
    identical; first-wins prevents double-counting). Docs with no
    resolution anywhere are the pre-emptive-blocklist case — the read
    overlay content-scans for exactly those."""
    docs: set = set()
    resolved: dict = {}
    for name in sorted(fs.list_names(fs.join(root, "tombstones"), spark)):
        if not name.startswith("t-") or ".tmp-" in name:
            # '.tmp-': a crashed local exclusive-create's staging file
            # (content may be complete JSON, but the commit never
            # landed — the writer retried under a fresh uuid); treated
            # as uncommitted, reported by tombstone_leftovers
            continue
        entry = _ledger_entry(root, name, spark)
        if entry is None:
            continue  # torn commit write — never referenced
        docs.update(entry["docs"])
        entry_resolved: dict = {}
        for word, doc, seg_v in entry.get("postings", []):
            # a doc lives in exactly one segment, so all its rows
            # share one seg_version
            entry_resolved.setdefault(doc, (seg_v, []))[1].append(word)
        for doc, res in entry_resolved.items():
            resolved.setdefault(doc, res)  # first entry wins
    return sorted(docs), resolved


def tombstone_leftovers(root: str, spark=None) -> list:
    """Root-relative names of UNCOMMITTED tombstone-ledger debris —
    crashed staging files (``.tmp-`` anywhere) and torn entries (empty
    or unparseable JSON). Nothing reads them (``tombstone_ledger`` skips
    both), so they are reap-safe; surfaced through
    ``verify_index_root``/``gc_index_root``."""
    out = []
    for name in fs.list_names(fs.join(root, "tombstones"), spark):
        if ".tmp-" in name:
            out.append(f"tombstones/{name}")
            continue
        if name.startswith("t-") and _ledger_entry(root, name, spark) is None:
            out.append(f"tombstones/{name}")
    return sorted(out)


def _ledger_entry(root: str, name: str, spark=None) -> dict | None:
    """Ledger entry ``name``'s JSON, or None when torn (empty,
    unparseable, or without its ``docs``)."""
    text = fs.read_text(fs.join(root, "tombstones", name), spark)
    try:
        entry = json.loads(text or "")
        entry["docs"]
    except (ValueError, KeyError, TypeError):
        return None
    return entry


def verify_index_root(root: str, spark=None) -> dict:
    """Read-only integrity audit of a streamed-index root — the
    ``models verify`` twin for ``make_index_merge`` state (the store
    audit walks artifact families; this walks one index's manifest +
    version dirs). Classification:

    - ``live``: versions on the newest committed version's chain plus
      its df — what ``read_merged_index()`` serves.
    - ``retained``: committed versions off the live chain that are
      still fully present — as-of readable (the grace generation on a
      compacting stream; all history on a non-compacting one).
    - ``partial``: committed versions missing some of their data dirs
      (df reaped by a later batch, or segments swept) — as-of reads
      of these versions would fail; expected state on a compacting
      stream, a damage signal on a non-compacting one.
    - ``orphaned``: version dirs on disk whose id has NO manifest entry
      (a crash between data write and commit, or a pruned entry whose
      sweep was deferred) — reap-safe, healed by the next compaction's
      sweep.

    Never writes. Returns ``{"root", "versions": {...}, "counts",
    "newest", "orphans": [...], "reap_candidates": [...]}`` —
    ``reap_candidates`` are the root-relative names an offline
    :func:`gc_index_root` pass would delete, decided by the SAME
    ``_sweep_plan`` the in-stream sweep runs (one verify/reap
    code path, round-11 verdict #3)."""
    committed = manifest_versions(root, spark)
    names = fs.list_names(root, spark)
    on_disk: dict[int, set] = {}
    for name in names:
        m = _VERSION_DIR.match(name)
        if m:
            on_disk.setdefault(int(m.group(2)), set()).add(m.group(1))
    out: dict = {
        "root": root,
        "newest": max(committed) if committed else None,
        "versions": {},
        "orphans": sorted(v for v in on_disk if v not in committed),
        "counts": {"live": 0, "retained": 0, "partial": 0},
        "reap_candidates": _reap_candidates(
            committed, names, fs.list_names(fs.join(root, "manifest"), spark)
        )
        + tombstone_leftovers(root, spark),
        "tombstoned_docs": len(tombstone_ledger(root, spark)[0]),
    }
    if not committed:
        return out
    cur = max(committed)
    live = set(segment_chain(committed, cur))
    for v in sorted(committed):
        have = on_disk.get(v, set())
        if v == cur:
            # the newest version serves its chain's segs + ITS df
            state = "live" if {"seg", "df"} <= have else "partial"
        elif v in live:
            # an older chain member: serving needs only its segment
            state = "live" if "seg" in have else "partial"
        else:
            # off the live chain: as-of readable iff fully present
            state = "retained" if {"seg", "df"} <= have else "partial"
        out["versions"][v] = {
            "state": state,
            "present": sorted(have),
            "base": bool(committed[v].get("base")),
        }
        out["counts"][state] += 1
    return out


def _reap_candidates(
    committed: dict, names: list, manifest_names: list | None = None
) -> list:
    """Root-relative names an offline GC pass deletes — the read-only
    decision shared by ``verify_index_root`` (reporting) and
    ``gc_index_root`` (acting). Policy by retention regime:

    - COMPACTING (any ``base`` entry): exactly the in-stream sweep plan
      with the horizon pushed past every id on disk — expired-grace
      segments, unreachable df generations, crash orphans, and
      manifest entries below the retention cutoff (as
      ``manifest/v{N}`` names).
    - FULL-RETENTION (no base): only crash orphans (data dirs whose id
      has no manifest entry); history is never touched.
    - EMPTY manifest: nothing — an uncommitted first batch's dirs are
      in-flight state, not garbage.

    In every regime, crashed atomic-write tmps inside ``manifest/``
    (``v{N}.tmp-<hex>`` — a torn-commit heal that died mid-overwrite)
    are leftovers: the manifest reader ignores non-``v{N}`` names, so
    nothing else ever collects them. Torn TOMBSTONE ledger entries
    (empty/unparseable — a crash inside ``add_tombstones``'s commit
    write; the writer retried under a fresh uuid) are collected the
    same way via ``tombstone_leftovers``, folded in by the callers."""
    tmps = [
        f"manifest/{n}" for n in (manifest_names or []) if ".tmp-" in n
    ]
    if not committed:
        return tmps
    compacting = any(m.get("base") for m in committed.values())
    ids = [int(m.group(2)) for m in map(_VERSION_DIR.match, names) if m]
    if compacting:
        horizon = max([*ids, *committed]) + 1
        dirs, prunes = _sweep_plan(dict(committed), names, horizon)
        return dirs + [f"manifest/v{v}" for v in prunes] + tmps
    return sorted(
        n
        for n in names
        if (m := _VERSION_DIR.match(n)) and int(m.group(2)) not in committed
    ) + tmps


def gc_index_root(root: str, spark=None) -> dict:
    """Offline garbage collection for a streamed-index root — the
    ``models reap`` twin of :func:`verify_index_root` (the in-stream
    sweep runs only at compacting batches, so a stopped stream can
    leave expired grace segments, crash orphans, and prunable manifest
    entries behind indefinitely; this closes that from the CLI).

    Policy by retention regime, read from the manifest itself:

    - a COMPACTING root (any ``base`` entry exists): apply exactly the
      in-stream sweep as of a hypothetical next batch — expired-grace
      segments, unreachable df generations, crash orphans, manifest
      entries below the newest base. Run it only on a STOPPED stream
      (it collapses the live-reader grace window by one generation).
    - a FULL-RETENTION root (no base): every committed version is an
      as-of-readable snapshot — only crash ORPHANS (data dirs whose id
      has no manifest entry) are reaped; history is never touched.

    Returns ``{"mode", "before", "after", "reaped"}`` with dir counts
    and the deleted names. The delete set is EXACTLY
    ``verify_index_root``'s ``reap_candidates`` — the decision lives
    once, in ``_sweep_plan`` / ``_reap_candidates``; for a
    compacting root the offline horizon covers every id on disk,
    including a crashed never-committed FINAL batch above
    max(committed), which the in-stream sweep would protect as its own
    in-flight write (a later resume's replay rewrites its data with
    mode=overwrite anyway)."""
    committed = manifest_versions(root, spark)

    def _dirs():
        return sorted(filter(_VERSION_DIR.match, fs.list_names(root, spark)))

    before = _dirs()
    if not committed:
        return {"mode": "empty", "before": before, "after": before, "reaped": []}
    compacting = any(m.get("base") for m in committed.values())
    for rel in _reap_candidates(
        committed,
        fs.list_names(root, spark),
        fs.list_names(fs.join(root, "manifest"), spark),
    ) + tombstone_leftovers(root, spark):
        fs.delete_recursive(fs.join(root, rel), spark)
    after = _dirs()
    return {
        "mode": "compacting" if compacting else "full-retention",
        "before": before,
        "after": after,
        "reaped": sorted(set(before) - set(after)),
    }
