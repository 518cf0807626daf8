"""Durable, fingerprint-keyed parquet model store with load-or-fit.

Production shape: an index/model is FIT once, WRITTEN once, and LOADED by
every consumer — the reference's own pattern of persisting each stage's
output directory before the next job reads it (TfidfMapReduce.java:63-66),
applied to model state instead of relations. The process-lifetime dict
caches remain the L1 fast path within one session; this store is the L2
that survives the process, so a "rider" query run in a FRESH session
loads the owner's fit in milliseconds instead of silently re-paying it
(the round-7 owner-rider accounting fragility).

Layout::

    <store_root>/<model_name>/<key_hash>/data.parquet    (driver-written)
    <store_root>/<model_name>/<key_hash>/                (spark-written)

- ``store_root`` resolves, in order: spark conf
  ``spark.tf_idf_mapreduce.modelStore`` (empty string disables the store
  entirely — every call fits), env ``SPARK_GRAFT_MODEL_DIR``, then
  ``<spark.sql.warehouse.dir>/_models`` (Spark's own warehouse default).
- ``key_hash`` is the md5 of the full key tuple's repr — data
  fingerprints (file path + mtime + size), hyperparameters, and the
  partition conf. ANY change produces a new hash, so a regenerated
  fixture or a different conf refits rather than silently reusing a
  stale artifact; stale hashes are dead directories, never wrong answers.

Artifacts written here are model-sized (centroids, codebooks, loadings,
merge lists, weights) written driver-side with pandas/pyarrow — no Spark
job — plus Spark-written relations (the SemDeDup disposition, the index
tables).

Commit protocol (round-9 verdict #5 — no directory renames anywhere):
every write STAGES under a unique name inside the artifact directory
(``data-<uuid>.parquet`` for driver-written frames, ``v-<uuid>/`` for
Spark-written relations) and then PROMOTES it by creating the artifact's
``_CURRENT`` manifest — a single small file naming the live version.
Readers resolve ``_CURRENT`` first and only then touch data, so an
artifact is visible either fully or not at all. Concurrency is
first-promoter-wins: the manifest is created with ``O_EXCL`` (losers
delete their staged version and re-read the winner's); a crash between
staging and promote leaves an orphan version no reader ever resolves,
healed by the next writer. The only primitives the protocol needs are
(a) atomic create-exclusive of one small file and (b) atomic overwrite
of one small file — both native on local/NFS (``O_EXCL``,
``os.replace``) and both native on object stores (conditional PUT /
plain PUT), which is exactly why the directory-rename dependence of the
previous protocol had to go: ``rename(dir)`` is the one primitive
``s3a://``-style roots cannot give. Legacy pre-manifest artifacts (bare
``data.parquet`` / bare parquet dirs) still resolve read-only.

The artifacts are ordinary parquet tables any engine can read — the
load path IS the production serving path, not a test convenience.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import threading
import uuid
from typing import Callable

#: Serializes bucketed-table catalog re-registration (DROP+CREATE).
_REGISTER_LOCK = threading.Lock()

#: (applicationId, table name) -> location whose external-table entry is
#: live in that session's catalog. Version dirs are immutable once
#: promoted, so an entry registered at the same location needs no
#: re-registration (guarded by _REGISTER_LOCK; see register()). An
#: insert drops every other application's entries: a stopped session's
#: catalog is gone, so they can never hit again (ADVICE 1).
_REGISTERED_AT: dict[tuple, str] = {}

#: Spark conf key for the store root. Set to "" to disable durability
#: (every call fits; the L1 dict caches still apply).
MODEL_STORE_CONF = "spark.tf_idf_mapreduce.modelStore"
#: Environment fallback used when no conf is set (also lets non-Spark
#: tooling — bench cache-clears — resolve the same root).
MODEL_STORE_ENV = "SPARK_GRAFT_MODEL_DIR"
#: Marker file written at the store root on first artifact write. Bulk
#: destructive tooling (bench's start-from-empty clear) refuses to
#: rmtree a directory that lacks it — a root misconfigured to a shared
#: long-lived directory loses at most stale model families, never
#: unrelated files.
STORE_MARKER = ".tf_idf_mapreduce_model_store"


def _mark_root(root: str) -> None:
    """Drop the store marker at ``root`` (best-effort; read-only roots
    simply stay unmarked and bulk clears then refuse)."""
    try:
        os.makedirs(root, exist_ok=True)
        marker = os.path.join(root, STORE_MARKER)
        if not os.path.exists(marker):
            with open(marker, "w") as f:
                f.write("model store root — safe for bulk clears\n")
    except OSError:
        pass


def _strip_file_scheme(p: str) -> str:
    return p[len("file:") :] if p.startswith("file:") else p


def store_root(spark=None) -> str | None:
    """Resolve the store root; ``None`` means durability is disabled."""
    if spark is not None:
        v = spark.conf.get(MODEL_STORE_CONF, None)
        if v is not None:
            return _strip_file_scheme(v) or None
    env = os.environ.get(MODEL_STORE_ENV)
    if env is not None:
        return env or None
    if spark is not None:
        wh = _strip_file_scheme(
            spark.conf.get("spark.sql.warehouse.dir", "")
        )
        if wh:
            return os.path.join(wh, "_models")
    # no session to ask (bench cache-clear path): Spark's warehouse
    # default is <cwd>/spark-warehouse
    return os.path.join(os.getcwd(), "spark-warehouse", "_models")


def _package_default_root(spark=None) -> str:
    """The store root this package mints ITSELF when no conf/env is set:
    ``<spark.sql.warehouse.dir>/_models`` (or the warehouse default
    ``<cwd>/spark-warehouse/_models`` without a session). Computed
    ignoring conf/env deliberately — it answers "what directory would WE
    have created", which is the only markerless root a bulk clear may
    touch."""
    if spark is not None:
        wh = _strip_file_scheme(spark.conf.get("spark.sql.warehouse.dir", ""))
        if wh:
            return os.path.join(wh, "_models")
    return os.path.join(os.getcwd(), "spark-warehouse", "_models")


def key_hash(key: tuple) -> str:
    return hashlib.md5(repr(key).encode()).hexdigest()


#: The per-artifact manifest file naming the live staged version.
CURRENT_MARKER = "_CURRENT"


def _put_text_atomic(path: str, text: str) -> None:
    """Atomic OVERWRITE of one small file (tmp + replace locally; a
    plain PUT on an object store). Shared with the streaming index
    merge via ``sources.fs`` — one scheme-dispatched implementation of
    the protocol's primitives."""
    from . import fs

    fs.put_text_atomic(path, text)


def _put_text_exclusive(path: str, text: str) -> bool:
    """Atomic CREATE of one small file; False if it already exists
    (``O_EXCL`` locally; a conditional If-None-Match PUT on an object
    store). The store's only concurrency primitive — shared via
    ``sources.fs``."""
    from . import fs

    return fs.put_text_exclusive(path, text)


def _read_current(d: str) -> str | None:
    from . import fs

    v = fs.read_text(os.path.join(d, CURRENT_MARKER))
    if v is None:
        return None
    return v.strip() or None


def _promote(d: str, version: str) -> str:
    """Make ``version`` the artifact's live version unless a live one
    already exists (first promoter wins). Returns the live version
    after the call; a caller whose version lost deletes its stage. A
    torn marker (crash mid-promote, or one naming a missing version)
    is healed by overwrite — both candidate versions are complete
    outputs of the same deterministic compute, so either is correct."""
    cur_path = os.path.join(d, CURRENT_MARKER)
    if _put_text_exclusive(cur_path, version):
        return version
    cur = _read_current(d)
    if cur is not None and os.path.exists(os.path.join(d, cur)):
        return cur
    _put_text_atomic(cur_path, version)
    return _read_current(d) or version


def _live_pdf_path(d: str) -> str | None:
    """Resolve a driver-written artifact's live data file (manifest
    first, then the legacy bare ``data.parquet``)."""
    cur = _read_current(d)
    if cur is not None:
        p = os.path.join(d, cur)
        return p if os.path.isfile(p) else None
    legacy = os.path.join(d, "data.parquet")
    return legacy if os.path.isfile(legacy) else None


def _live_table_dir(d: str) -> str | None:
    """Resolve a Spark-written artifact's live parquet directory. A
    directory holding only staged ``v-*`` subdirs (a crashed staging)
    is NOT live; a legacy artifact (the dir itself is the parquet
    output — it contains files) is."""
    cur = _read_current(d)
    if cur is not None:
        p = os.path.join(d, cur)
        return p if os.path.isdir(p) else None
    # legacy detection requires a DATA file (part-*.parquet): dot-files
    # (a crashed writability probe) and underscore files (_SUCCESS, a
    # torn _CURRENT.tmp-*) must not make a staged-only dir look legacy —
    # that would permanently poison the artifact into compute-only
    if os.path.isdir(d) and any(
        not e.name.startswith((".", "_")) and not e.is_dir()
        for e in os.scandir(d)
    ):
        return d
    return None


def live_table_dir(name: str, key: tuple, spark=None) -> str | None:
    """Public resolver: the live parquet directory of a Spark-written
    artifact, or ``None`` when absent/unpromoted — what callers should
    use instead of ``os.path.isdir(model_dir(...))`` (a directory can
    exist without a promoted version)."""
    d = model_dir(name, key, spark)
    return None if d is None else _live_table_dir(d)


def model_dir(name: str, key: tuple, spark=None) -> str | None:
    root = store_root(spark)
    if root is None:
        return None
    return os.path.join(root, name, key_hash(key))


def load_or_fit_pdf(
    name: str,
    key: tuple,
    fit: Callable[[], "pandas.DataFrame"],  # noqa: F821
    spark=None,
):
    """Load the artifact for ``key`` if present, else fit + persist.

    Returns ``(pdf, origin)`` with origin in {"store", "fit"} so tests
    can prove a fresh process LOADED rather than refit. Any read failure
    (torn historical state, version skew) falls through to a refit —
    the store can only ever cost a redundant fit, never a wrong answer.
    """
    import pandas as pd

    d = model_dir(name, key, spark)
    live = None if d is None else _live_pdf_path(d)
    heal = False
    if live is not None:
        try:
            return pd.read_parquet(live), "store"
        except Exception:
            # corrupt live data: refit and re-promote over it
            heal = True
    pdf = fit()
    if d is not None:
        try:
            _mark_root(store_root(spark))
            os.makedirs(d, exist_ok=True)
            ver = f"data-{uuid.uuid4().hex}.parquet"
            pdf.to_parquet(os.path.join(d, ver), index=False)
            if heal:
                _put_text_atomic(os.path.join(d, CURRENT_MARKER), ver)
                if live is not None:
                    try:
                        os.remove(live)
                    except OSError:
                        pass
            else:
                winner = _promote(d, ver)
                if winner != ver:  # lost the promote race: winner serves
                    os.remove(os.path.join(d, ver))
        except Exception:
            # read-only store roots degrade to fit-every-process
            pass
    return pdf, "fit"


def memo_fit(spark, sf_dir: str, name: str, version: tuple, fit, decode):
    """A driver-side model behind both cache layers under ONE family
    ``name``: the process memo (``sources.io.memo``, L1) in front of
    ``load_or_fit_pdf`` (L2), so ``caches.clear(name)`` empties both.
    The durable key is ``(sf_dir,) + version``; ``decode`` turns the
    stored frame into the model."""
    from .io import memo

    return memo(
        spark,
        sf_dir,
        name,
        version,
        lambda: decode(load_or_fit_pdf(name, (sf_dir,) + version, fit, spark)[0]),
    )


def load_or_compute_table(
    name: str,
    key: tuple,
    spark,
    compute: Callable[[], "pyspark.sql.DataFrame"],  # noqa: F821
):
    """Spark-relation variant of ``load_or_fit_pdf`` for artifacts that
    are TABLES, not driver-sized models (e.g. the SemDeDup disposition).

    The computed relation is written once under the store and every
    load — including the first — reads the parquet back, so all
    consumers in all sessions see literally the same files. Returns
    ``(df, origin)``.
    """
    d = model_dir(name, key, spark)
    if d is None:
        return compute(), "fit"
    live = _live_table_dir(d)
    if live is not None:
        try:
            return spark.read.parquet(live), "store"
        except Exception:
            # a LIVE artifact that can't be read (empty relation wrote
            # only _SUCCESS, transient reader error): degrade to
            # compute-only — a rewrite would promote another unreadable
            # copy and burn a full Spark write per load (round-9 ADVICE)
            return compute(), "fit"
    # no live version (absent, or a crashed staging this write heals).
    # Probe writability BEFORE running compute through a parquet sink:
    # on a read-only store root (e.g. a baked deployment image) the
    # store must degrade to compute-only, never break a query that
    # worked before the store existed. Genuine compute errors still
    # surface naturally from the uncaught write below.
    try:
        _mark_root(store_root(spark))
        os.makedirs(d, exist_ok=True)
        probe = os.path.join(d, f".probe-{uuid.uuid4().hex}")
        with open(probe, "w"):
            pass
        os.remove(probe)
    except OSError:
        return compute(), "fit"
    ver = f"v-{uuid.uuid4().hex}"
    staged = os.path.join(d, ver)
    compute().write.mode("overwrite").parquet(staged)
    winner = _promote(d, ver)
    if winner != ver:
        # a concurrent session promoted first — read its copy
        shutil.rmtree(staged, ignore_errors=True)
    try:
        return spark.read.parquet(os.path.join(d, winner)), "store"
    except Exception:
        return compute(), "fit"


def load_or_compute_bucketed_table(
    name: str,
    key: tuple,
    spark,
    compute: Callable[[], "pyspark.sql.DataFrame"],  # noqa: F821
    bucket_col: str,
    n_buckets: int,
):
    """Bucketed variant of ``load_or_compute_table`` for artifacts that
    are JOIN-SIDE relations (the persisted TF-IDF postings/df tables):
    the relation is written once with ``bucketBy(n, col)`` + ``sortBy``
    and re-registered on every load as an EXTERNAL bucketed catalog
    table over the stored files, so equi-joins on ``bucket_col`` against
    it need NO shuffle on the table side — the scan itself reports the
    hash partitioning. This is the "persisted index is word-bucketed so
    the df merge is shuffle-free" shape the 100 TB story needs: the
    daily fold shuffles only the arrival slice into the index's bucket
    layout, never the index.

    The session catalog is in-memory, so the catalog ENTRY is per
    process while the FILES are durable: each load re-creates the
    external-table pointer (name derived from the key hash — distinct
    keys never collide) with the writer's exact bucket spec. Spark
    identifies each file's bucket from its ``_0000N`` filename suffix,
    which survives unchanged under the stage + ``_CURRENT``-manifest
    promote (files are never moved or renamed after the staged write).
    Returns ``(df, origin)`` like the other loaders; disabled/read-only
    stores degrade to the computed (unbucketed) relation."""
    d = model_dir(name, key, spark)
    if d is None:
        return compute(), "fit"
    tbl = f"{name}_{key_hash(key)[:12]}"

    def register(loc: str) -> "pyspark.sql.DataFrame":  # noqa: F821
        # DROP+CREATE is a session-global catalog mutation: serialize it
        # so two threads loading the SAME key (the concurrent-drain
        # pattern) can't interleave between the two statements
        with _REGISTER_LOCK:
            # idempotence fast path: a version dir is immutable once
            # promoted, so a table already registered AT THIS LOCATION
            # this session is already correct — skip the schema-
            # inference read + DROP/CREATE the full path pays (~0.15s
            # per load; the persisted index alone is re-loaded by
            # dozens of queries per bench session).
            # Coherence contract (round-12 ADVICE): this function is
            # the ONLY writer of `{family}_{keyhash}` catalog names in
            # the session — every DROP/CREATE of such a name happens
            # right below, under this same lock, and updates the memo
            # in the same critical section. The fast path therefore
            # only needs to detect an outright external DROP (the
            # except branch); a hostile re-CREATE of the same
            # hash-derived name at a different location is outside the
            # single-writer contract and is not defended against.
            ck = (spark.sparkContext.applicationId, tbl)
            if _REGISTERED_AT.get(ck) == loc:
                try:
                    return spark.table(tbl)
                except Exception:
                    _REGISTERED_AT.pop(ck, None)  # dropped externally
            schema_ddl = spark.read.parquet(loc).schema.toDDL()
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(
                f"CREATE TABLE {tbl} ({schema_ddl}) USING parquet "
                f"CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col}) "
                f"INTO {n_buckets} BUCKETS LOCATION '{loc}'"
            )
            out = spark.table(tbl)
            for k in [k for k in _REGISTERED_AT if k[0] != ck[0]]:
                del _REGISTERED_AT[k]
            _REGISTERED_AT[ck] = loc
            return out

    live = _live_table_dir(d)
    if live is not None:
        try:
            return register(live), "store"
        except Exception:
            # live-but-unregisterable artifact (empty relation wrote
            # only _SUCCESS; transient catalog error): a rewrite would
            # promote another unregisterable copy — degrade to the
            # computed relation instead of burning a full bucketed
            # Spark write per load (round-9 ADVICE)
            return compute(), "fit"
    try:
        _mark_root(store_root(spark))
        os.makedirs(d, exist_ok=True)
        probe = os.path.join(d, f".probe-{uuid.uuid4().hex}")
        with open(probe, "w"):
            pass
        os.remove(probe)
    except OSError:
        return compute(), "fit"
    tmp_tbl = f"{tbl}_w{uuid.uuid4().hex[:8]}"
    ver = f"v-{uuid.uuid4().hex}"
    staged = os.path.join(d, ver)
    (
        # bucket-aligned repartition before the bucketed write: Spark's
        # bucketBy emits one file per (input task, bucket), so a P-
        # partition input writes up to P*N tiny files (measured 1019
        # files / 2.1s for a 5k-row table at P=N=32); repartitioning on
        # the bucket column first (same Murmur3 pmod the bucket id uses)
        # lands each bucket in one task -> exactly one file per
        # non-empty bucket (measured 32 files / 1.1s write, 2x faster
        # load). At scale this one exchange over the slice being
        # written is what keeps listing/open cost flat (guide §6).
        compute()
        .repartition(n_buckets, bucket_col)
        .write.bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .mode("overwrite")
        .option("path", staged)
        .saveAsTable(tmp_tbl)
    )
    # the write above registered an external table at the staged path;
    # drop the catalog entry (files survive an external drop), then
    # promote — Spark reads each file's bucket id from its _0000N name
    # suffix, which the manifest protocol never touches
    spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
    winner = _promote(d, ver)
    if winner != ver:
        # a concurrent session promoted first — read its copy
        shutil.rmtree(staged, ignore_errors=True)
    try:
        return register(os.path.join(d, winner)), "store"
    except Exception:
        # unregisterable artifact (e.g. an EMPTY relation writes only
        # _SUCCESS, and schema inference has nothing to read) — the
        # store degrades to compute-only, never breaks the query
        return compute(), "fit"


def clear_store(spark=None) -> bool:
    """Remove EVERY artifact under the store root — the bench
    start-from-empty clear. Destructive-by-design, so it is scoped: the
    root is only wiped when it carries the :data:`STORE_MARKER` (written
    on first artifact write) or it IS the exact package-minted default
    root (full resolved ``<warehouse>/_models`` path — not any directory
    that merely shares the basename; a user's pre-existing
    ``/data/_models`` pointed at via conf/env stays refused, round-9
    ADVICE). A root misconfigured to a shared long-lived directory is
    REFUSED — returns ``False`` and the caller degrades to per-family
    ``drop_models`` — so no bulk clear can destroy files this package
    didn't write (round-8 ADVICE)."""
    root = store_root(spark)
    if root is None or not os.path.isdir(root):
        return True  # nothing durable to clear
    default = os.path.normpath(os.path.abspath(_package_default_root(spark)))
    if (
        os.path.normpath(os.path.abspath(root)) == default
        or os.path.exists(os.path.join(root, STORE_MARKER))
    ):
        shutil.rmtree(root, ignore_errors=True)
        return True
    return False


def drop_models(name: str, spark=None) -> None:
    """Remove every stored artifact of one model family — the bench
    cold-path clear (cold must price the FIT, not a store load)."""
    root = store_root(spark)
    if root is None:
        return
    shutil.rmtree(os.path.join(root, name), ignore_errors=True)


def prune_models(max_age_days: float = 30.0, spark=None, *, now: float | None = None) -> int:
    """Garbage-collect stale artifacts: a regenerated fixture or a conf
    change mints a NEW key hash and the old directory becomes dead
    weight — never wrong (nothing resolves to it) but unbounded. Drop
    every artifact whose newest file is older than ``max_age_days``.
    Returns the number of artifact directories removed. ``now`` is an
    explicit epoch-seconds clock for deterministic tests; the load path
    refreshes nothing, so age == time since the artifact was written."""
    import time as _time

    root = store_root(spark)
    if root is None or not os.path.isdir(root):
        return 0
    cutoff = (now if now is not None else _time.time()) - max_age_days * 86400
    removed = 0
    for name in sorted(os.listdir(root)):
        family = os.path.join(root, name)
        if not os.path.isdir(family):
            continue
        for h in sorted(os.listdir(family)):
            d = os.path.join(family, h)
            try:
                newest = max(
                    os.stat(os.path.join(dp, f)).st_mtime
                    for dp, _dn, fns in os.walk(d)
                    for f in fns
                )
            except ValueError:  # empty dir — a torn write; reap it
                newest = 0.0
            if newest < cutoff:
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
    return removed


def verify_store(spark=None, root: str | None = None) -> dict:
    """Read-only integrity audit of a store root — the ops-loop closer
    for the lifecycle verbs (`models promote|compact|refit` create real
    artifact states; this verb reports them without touching anything).

    Every artifact directory (``<root>/<family>/<key_hash>``) is
    classified into exactly one state:

    - ``live``: ``_CURRENT`` resolves to an existing version — serving.
    - ``torn``: ``_CURRENT`` exists but names a missing version (crash
      mid-promote, manual damage). Healed by overwrite on the artifact's
      next write; unservable until then.
    - ``orphaned``: staged versions (``v-*`` dirs / ``data-*`` files)
      with no ``_CURRENT`` — a writer crashed between staging and
      promote. No reader ever resolves these; the next writer heals.
    - ``legacy``: no ``_CURRENT`` but readable pre-manifest data (bare
      ``data.parquet`` / parquet dir / pointer files like ``gen.json``)
      — still served read-only.
    - ``empty``: a directory with nothing servable or staged.

    Independent of the state, ``reap_candidates`` collects versions and
    leftovers nothing can reach: staged versions other than the live
    one (a loser whose cleanup failed, or any staging beside a live
    marker), ``.tmp-*`` commit leftovers and ``.probe-*`` writability
    probes. The live version itself is never a candidate (it is named
    by the manifest, never inferred) — but a YOUNG candidate may be an
    in-flight heal mid-commit, which is why :func:`reap_store` applies
    an age grace before acting on this list.

    Returns ``{"root", "artifacts": [...], "counts": {...},
    "reap_candidates": [...]}``; the CLI verb ``models verify`` renders
    it. Never writes, so it is safe against a production root.

    Roots: local paths and ``file://`` URIs. A remote scheme
    (``hdfs://``, ``s3a://``) RAISES rather than silently reporting an
    empty store — the audit's file/dir classification walks ``os``
    today; audit remote roots from a machine that mounts them."""
    from . import fs

    root = root if root is not None else store_root(spark)
    if root is not None:
        root = fs._local(root)
        if fs._is_remote(root):
            raise ValueError(
                f"verify/reap cannot audit remote store root {root!r} yet"
                " — run from a host that mounts it (or a file:// path)"
            )
    report: dict = {
        "root": root,
        "artifacts": [],
        "counts": {
            "live": 0, "torn": 0, "orphaned": 0, "legacy": 0, "empty": 0,
        },
        "reap_candidates": [],
    }
    if root is None or not os.path.isdir(root):
        return report
    for fam in sorted(os.listdir(root)):
        famdir = os.path.join(root, fam)
        if not os.path.isdir(famdir):
            continue  # the STORE_MARKER and any stray file
        for h in sorted(os.listdir(famdir)):
            d = os.path.join(famdir, h)
            if not os.path.isdir(d):
                continue
            entries = os.listdir(d)
            cur = _read_current(d)
            # commit tmp leftovers carry '.tmp-' ANYWHERE in the name:
            # put_text_atomic writes '<file>.tmp-<hex>' (e.g.
            # 'gen.json.tmp-abc' from _bump_quantizer_generation), not
            # just dot-prefixed names (round-11 ADVICE)
            leftovers = [
                e for e in entries
                if ".tmp-" in e or e.startswith((".tmp-", ".probe-"))
            ]
            staged = [
                e for e in entries
                if e.startswith(("v-", "data-"))
                and e != cur
                and ".tmp-" not in e  # already a leftover, not a staging
            ]
            if cur is not None:
                state = "live" if os.path.exists(os.path.join(d, cur)) else "torn"
                # beside a live/torn marker, every non-current staging
                # is unreachable — reap-safe
                report["reap_candidates"] += [
                    os.path.join(d, e) for e in staged
                ]
            elif staged:
                state = "orphaned"
            elif any(
                not e.startswith((".", "_")) and ".tmp-" not in e
                for e in entries
            ):
                # tmp leftovers are excluded: a dir holding ONLY a
                # crashed 'gen.json.tmp-*' is empty, not legacy data
                state = "legacy"
            else:
                state = "empty"
            report["reap_candidates"] += [
                os.path.join(d, e) for e in leftovers
            ]
            report["counts"][state] += 1
            report["artifacts"].append(
                {
                    "family": fam,
                    "key_hash": h,
                    "state": state,
                    "live_version": cur if state == "live" else None,
                    "n_staged_unreachable": len(staged),
                }
            )
    return report


def reap_store(
    spark=None, root: str | None = None, *, min_age_sec: float = 3600.0
) -> list[str]:
    """Act on :func:`verify_store`'s ``reap_candidates`` — delete the
    state nothing can reach: staged versions beside a live manifest (a
    loser whose cleanup failed), commit tmp files, stale writability
    probes. NEVER touches a live version (reachability is read from
    ``_CURRENT``, not inferred from age or name) and never touches
    ORPHANED artifacts (staging with no manifest): those are equally
    dead — the next writer stages fresh under a new uuid — but they are
    the crash-diagnosis evidence, so they age out via ``models prune``
    rather than being deleted by the hygiene verb.

    ``min_age_sec`` (default 1 h) is the in-flight-writer grace: the
    HEAL paths stage a new version BESIDE an existing ``_CURRENT``
    before overwriting it (``load_or_fit_pdf``'s corrupt-live heal,
    ``_promote``'s torn-marker heal), so a candidate younger than the
    window may be a writer mid-commit, not garbage — reaping it would
    leave the healed marker naming a deleted path. Age is the one
    signal that separates the two without coordination: every commit
    completes in seconds, so anything an hour old is provably
    abandoned. Returns the deleted paths. Exposed as ``models reap``."""
    import time as _time

    rep = verify_store(spark, root=root)
    cutoff = _time.time() - min_age_sec
    deleted = []
    for p in rep["reap_candidates"]:
        try:
            if os.stat(p).st_mtime > cutoff:
                continue  # possibly an in-flight heal — next reap gets it
            if os.path.isdir(p):
                shutil.rmtree(p)
            else:
                os.remove(p)
            deleted.append(p)
        except OSError:
            pass  # a concurrent writer may have healed/claimed it
    return deleted
