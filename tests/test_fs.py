"""sources.fs — the scheme-dispatched small-file primitives every
manifest/commit protocol in the engine rides on (round-10 verdict #1:
the streaming index merge must not depend on driver-local ``os.*``).

Both branches are exercised: bare paths (the local fast path) and
``file://`` URIs, which force the Hadoop ``FileSystem`` branch through
the JVM gateway — the exact code path an ``hdfs://`` or ``s3a://`` root
takes on a real cluster, minus only the store's network."""

from __future__ import annotations

import os
import time

import pytest

from tf_idf_mapreduce_spark.sources import fs


def _roots(tmp_path, spark):
    local = str(tmp_path / "local")
    os.makedirs(local)
    remote = f"file://{tmp_path}/remote"
    fs.makedirs(remote, spark)
    return [("local", local), ("hadoop", remote)]


def test_scheme_detection():
    assert not fs._is_remote("/plain/path")
    assert not fs._is_remote("relative/path")
    # a Windows drive letter is NOT a scheme
    assert not fs._is_remote("C:/Users/x")
    assert fs._is_remote("file:///tmp/x")
    assert fs._is_remote("hdfs://nn/x")
    assert fs._is_remote("s3a://bucket/x")
    assert fs._local("file:///tmp/x") == "/tmp/x"
    assert fs._local("file:/tmp/x") == "/tmp/x"
    assert fs._local("/tmp/x") == "/tmp/x"


def test_join_keeps_scheme():
    assert fs.join("s3a://b/root", "seg_v1") == "s3a://b/root/seg_v1"
    assert fs.join("/a/b/", "manifest", "v3") == "/a/b/manifest/v3"


@pytest.mark.parametrize("branch", ["local", "hadoop"])
def test_put_read_list_delete_roundtrip(spark, tmp_path, branch):
    root = dict(_roots(tmp_path, spark))[branch]
    p = fs.join(root, "manifest", "v0")
    fs.makedirs(fs.join(root, "manifest"), spark)
    # exclusive create: first writer wins, second sees False
    assert fs.put_text_exclusive(p, "alpha", spark) is True
    assert fs.put_text_exclusive(p, "beta", spark) is False
    assert fs.read_text(p, spark) == "alpha"
    # atomic overwrite
    fs.put_text_atomic(p, "gamma", spark)
    assert fs.read_text(p, spark) == "gamma"
    # list sees the one entry; a missing dir lists empty, reads None
    assert fs.list_names(fs.join(root, "manifest"), spark) == ["v0"]
    assert fs.list_names(fs.join(root, "absent"), spark) == []
    assert fs.read_text(fs.join(root, "absent", "x"), spark) is None
    # bytes (driver-written frames) and the status listing (store audits)
    fs.write_bytes(fs.join(root, "frame"), b"\x00frame", spark)
    assert fs.read_bytes(fs.join(root, "frame"), spark) == b"\x00frame"
    assert fs.read_bytes(fs.join(root, "absent"), spark) is None
    status = {n: (d, m, z) for n, d, m, z in fs.list_status(root, spark)}
    assert {n: d for n, (d, _m, _z) in status.items()} == {
        "manifest": True, "frame": False,
    }
    assert abs(status["frame"][1] - time.time()) < 600
    assert status["frame"][2] == len(b"\x00frame")
    assert fs.list_status(fs.join(root, "absent"), spark) == []
    # recursive delete of the prefix
    fs.delete_recursive(fs.join(root, "manifest"), spark)
    assert not fs.exists(fs.join(root, "manifest"), spark)
    assert fs.list_names(fs.join(root, "manifest"), spark) == []


@pytest.mark.parametrize("branch", ["local", "hadoop"])
def test_exclusive_create_races_single_winner(spark, tmp_path, branch):
    """N concurrent exclusive creators of one commit marker: exactly one
    wins — the store/stream commit protocols' only concurrency bet."""
    import threading

    from pyspark import InheritableThread

    root = dict(_roots(tmp_path, spark))[branch]
    p = fs.join(root, "winner")
    results = []
    barrier = threading.Barrier(6)

    def attempt(i):
        barrier.wait()
        results.append((i, fs.put_text_exclusive(p, f"writer-{i}", spark)))

    threads = [InheritableThread(target=attempt, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    winners = [i for i, ok in results if ok]
    assert len(winners) == 1
    assert fs.read_text(p, spark) == f"writer-{winners[0]}"


def test_no_directory_renames_in_protocol(tmp_path, monkeypatch):
    """The fs local branch must never rename/replace a DIRECTORY — the
    primitive object stores lack (the reason model_store's old protocol
    was retired). os.rename/os.replace are patched to raise for
    directories; every primitive still works."""
    import os as _os

    real_rename, real_replace = _os.rename, _os.replace

    def guard(fn):
        def inner(src, dst, *a, **k):
            if _os.path.isdir(src):
                raise AssertionError(f"directory rename: {src} -> {dst}")
            return fn(src, dst, *a, **k)

        return inner

    monkeypatch.setattr(_os, "rename", guard(real_rename))
    monkeypatch.setattr(_os, "replace", guard(real_replace))

    root = str(tmp_path / "noren")
    fs.makedirs(fs.join(root, "manifest"))
    assert fs.put_text_exclusive(fs.join(root, "manifest", "v1"), "a")
    fs.put_text_atomic(fs.join(root, "manifest", "v1"), "b")
    assert fs.read_text(fs.join(root, "manifest", "v1")) == "b"
    fs.delete_recursive(root)
    assert not fs.exists(root)


def test_verify_store_audits_schemed_roots(spark, tmp_path, monkeypatch):
    """verify/reap walk a schemed store root through the Hadoop branch
    and report its real artifacts; a root whose scheme no FileSystem
    serves RAISES, never audits as an empty store (the round-11 review
    finding: an unreadable root must not read as "nothing here")."""
    import pandas as pd

    from tf_idf_mapreduce_spark.sources.model_store import (
        load_or_fit_pdf,
        reap_store,
        verify_store,
    )

    root = f"file://{tmp_path}/models"
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    load_or_fit_pdf("aud_pdf", ("k",), lambda: pd.DataFrame({"x": [1]}), spark)
    load_or_fit_pdf("aud_pdf", ("k2",), lambda: pd.DataFrame({"x": [2]}), spark)
    fs.write_bytes(fs.join(root, "aud_orphan", "k3", "data-x.parquet"), b"x", spark)
    rep = verify_store(spark, root=root)
    assert rep["root"] == root
    assert sorted((a["family"], a["state"]) for a in rep["artifacts"]) == [
        ("aud_orphan", "orphaned"), ("aud_pdf", "live"), ("aud_pdf", "live"),
    ]
    assert rep["reap_candidates"] == []
    assert reap_store(spark, root=root, min_age_sec=0) == []
    for verb in (verify_store, reap_store):
        with pytest.raises(Exception, match="nosuch"):
            verb(spark, root="nosuch://x/models")


@pytest.mark.parametrize("branch", ["local", "hadoop"])
def test_commit_text_creates_keeps_valid_heals_torn(spark, tmp_path, branch):
    """The one commit step under both versioned layouts: an absent
    record is created; a valid existing record wins over a later
    writer; a torn (empty) record is healed by overwrite."""
    root = dict(_roots(tmp_path, spark))[branch]
    path = fs.join(root, "_CURRENT")

    def valid(text):
        return text.startswith("v-")

    assert fs.commit_text(path, "v-a", valid, spark) == "v-a"
    assert fs.commit_text(path, "v-b", valid, spark) == "v-a"
    assert fs.read_text(path, spark) == "v-a"
    fs.put_text_atomic(path, "", spark)  # a crash tore the record
    assert fs.commit_text(path, "v-c", valid, spark) == "v-c"
    assert fs.read_text(path, spark) == "v-c"


def test_versioned_state_io_goes_through_fs():
    """Each concept once: the model store and the index-root protocol do
    no file I/O of their own — every file operation is a ``sources.fs``
    call — and no module under ``sources/`` imports from ``streaming/``
    or ``operators/`` (the protocol sits below its callers)."""
    import ast
    from pathlib import Path

    import tf_idf_mapreduce_spark

    src = Path(tf_idf_mapreduce_spark.__file__).parent / "sources"
    not_io = {"os.environ.get", "os.getcwd", "os.path.abspath", "os.path.normpath"}
    io_calls = []
    for name in ("model_store.py", "index_root.py"):
        for node in ast.walk(ast.parse((src / name).read_text())):
            if isinstance(node, ast.Call):
                fn = ast.unparse(node.func)
                if fn == "open" or (
                    fn.split(".")[0] in ("os", "shutil") and fn not in not_io
                ):
                    io_calls.append(f"{name}:{node.lineno} {fn}")
    assert io_calls == []

    upward = []
    for path in sorted(src.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom):
                # resolve a relative import against tf_idf_mapreduce_spark.sources
                pkg = ["tf_idf_mapreduce_spark", "sources"][: 3 - node.level]
                base = ".".join(pkg if node.level else [])
                if node.module:
                    mods = [f"{base}.{node.module}".lstrip(".")]
                else:
                    mods = [f"{base}.{a.name}" for a in node.names]
            elif isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            else:
                continue
            for mod in mods:
                if mod.startswith(
                    ("tf_idf_mapreduce_spark.streaming",
                     "tf_idf_mapreduce_spark.operators")
                ):
                    upward.append(f"{path.name}:{node.lineno} {mod}")
    assert upward == []


# ---------------------------------------------------------------------------
# round-12: commit-primitive rigor (verdict #1/#2/#3)
# ---------------------------------------------------------------------------


class _FakeJavaClass:
    def __init__(self, name):
        self._name = name

    def getName(self):
        return self._name


class _FakeJavaExc:
    def __init__(self, name):
        self._cls = _FakeJavaClass(name)

    def getClass(self):
        return self._cls

    def getCause(self):
        return None


class _FakePy4JError(Exception):
    """A py4j-shaped exception carrying a crafted java class name, so
    the classification in fs._is_java_exc runs for real without a
    cluster that can produce the remote failure."""

    def __init__(self, java_class: str):
        super().__init__(java_class)
        self.java_exception = _FakeJavaExc(java_class)


def _mp_exclusive_worker(path: str, text: str, ready, go, q) -> None:
    """Spawned-process contender for the multi-process O_EXCL race —
    module-level so the spawn context can pickle it. Imports the fs
    module fresh in its own interpreter (no Spark, local branch)."""
    from tf_idf_mapreduce_spark.sources import fs as _fs

    ready.release()
    go.acquire()  # all contenders released together by the parent
    q.put((text, _fs.put_text_exclusive(path, text)))


def test_exclusive_create_multiprocess_contention(tmp_path):
    """The local branch's exactly-one-winner guarantee across real OS
    PROCESSES (kernel O_EXCL arbitration, not thread scheduling): N
    spawned interpreters race one commit marker; exactly one wins and
    the file holds the winner's content."""
    import multiprocessing as mp

    ctx = mp.get_context("spawn")
    path = str(tmp_path / "marker")
    n = 6
    ready = ctx.Semaphore(0)
    go = ctx.Semaphore(0)
    q = ctx.Queue()
    procs = [
        ctx.Process(
            target=_mp_exclusive_worker,
            args=(path, f"writer-{i}", ready, go, q),
        )
        for i in range(n)
    ]
    for p in procs:
        p.start()
    for _ in range(n):
        ready.acquire()
    for _ in range(n):
        go.release()
    results = [q.get(timeout=60) for _ in range(n)]
    for p in procs:
        p.join(timeout=60)
    winners = [t for t, ok in results if ok]
    assert len(winners) == 1
    assert fs.read_text(path) == winners[0]


def test_exclusive_arbitration_survives_check_then_act(
    spark, tmp_path, monkeypatch
):
    """Verdict #1: the remote branch's win must not depend on the FS
    honoring create(overwrite=false) atomically — Hadoop's
    LocalFileSystem (file://) and s3a:// without conditional create are
    CHECK-THEN-ACT, so two racers can both "successfully" create.

    This test substitutes the WORST possible claim — an unconditional
    overwrite, i.e. every contender's create succeeds (the limit case
    of every exists-probe racing ahead of every create) — and parks all
    contenders at the arbitration hook until every write has landed.
    Under the pre-round-12 code (claim == win) all six would return
    True; with content read-back arbitration exactly one does, and the
    committed content is that winner's."""
    import threading

    from pyspark import InheritableThread

    root = f"file://{tmp_path}/race"
    fs.makedirs(root, spark)
    path = fs.join(root, "marker")

    def weakest_claim(p, text, sess=None):
        f, jpath, _ = fs._hadoop_fs(p, sess)
        out = f.create(jpath, True)  # no exists check at all
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        return True

    n = 6
    barrier = threading.Barrier(n)
    monkeypatch.setattr(fs, "_remote_claim_exclusive", weakest_claim)
    monkeypatch.setattr(fs, "_arbitration_hook", barrier.wait)

    results = []
    lock = threading.Lock()

    def attempt(i):
        ok = fs.put_text_exclusive(path, f"writer-{i}", spark)
        with lock:
            results.append((f"writer-{i}", ok))

    threads = [InheritableThread(target=attempt, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    final = fs.read_text(path, spark)
    winners = [t for t, ok in results if ok]
    losers = [t for t, ok in results if not ok]
    # deterministic here (all writes precede all read-backs): exactly
    # one contender sees its own bytes committed
    assert len(winners) == 1
    assert final == winners[0]
    # the invariant the store's _promote actually rides on: a loser's
    # content is NEVER the committed one (no dangling marker after a
    # loser deletes its staged version)
    assert final not in losers


def test_put_atomic_transient_rename_failure_raises(
    spark, tmp_path, monkeypatch
):
    """Verdict #2: a TRANSIENT remote rename failure must surface, not
    silently degrade to the truncate-in-place overwrite — and must not
    leak its tmp file or clobber the committed content."""

    def transient(jvm, jtmp, jpath, sess=None):
        raise _FakePy4JError("java.io.IOException")

    root = f"file://{tmp_path}/atomic"
    fs.makedirs(root, spark)
    path = fs.join(root, "marker")
    fs.put_text_atomic(path, "committed", spark)

    monkeypatch.setattr(fs, "_remote_rename_overwrite", transient)
    with pytest.raises(_FakePy4JError):
        fs.put_text_atomic(path, "new", spark)
    assert fs.read_text(path, spark) == "committed"  # never truncated
    leftovers = [n for n in fs.list_names(root, spark) if ".tmp-" in n]
    assert leftovers == []  # tmp cleaned up on the raise path


def test_put_atomic_capability_gap_degrades_with_warning(
    spark, tmp_path, monkeypatch, caplog
):
    """The DOCUMENTED fallback case — an FS with no AbstractFileSystem
    binding (UnsupportedFileSystemException, the common s3a:// state) —
    still completes via create-overwrite, and says so in the log."""
    import logging as _logging

    def unsupported(jvm, jtmp, jpath, sess=None):
        raise _FakePy4JError(
            "org.apache.hadoop.fs.UnsupportedFileSystemException"
        )

    root = f"file://{tmp_path}/degrade"
    fs.makedirs(root, spark)
    path = fs.join(root, "marker")
    monkeypatch.setattr(fs, "_remote_rename_overwrite", unsupported)
    with caplog.at_level(_logging.WARNING, logger=fs.__name__):
        fs.put_text_atomic(path, "via-fallback", spark)
    assert fs.read_text(path, spark) == "via-fallback"
    assert any("degrading to create-overwrite" in r.message for r in caplog.records)
    leftovers = [n for n in fs.list_names(root, spark) if ".tmp-" in n]
    assert leftovers == []


def test_read_errors_are_not_absent(spark, tmp_path, monkeypatch):
    """Verdict #3: only FileNotFound maps to None/[] — a permission or
    RPC failure on a manifest read must RAISE, never read as 'no
    committed version'."""

    class _FakeFS:
        def open(self, jpath):
            raise _FakePy4JError(
                "org.apache.hadoop.security.AccessControlException"
            )

        def listStatus(self, jpath):
            raise _FakePy4JError(
                "org.apache.hadoop.security.AccessControlException"
            )

    monkeypatch.setattr(
        fs, "_hadoop_fs", lambda p, s=None: (_FakeFS(), None, None)
    )
    with pytest.raises(_FakePy4JError):
        fs.read_text("hdfs://nn/root/manifest/v1", spark)
    with pytest.raises(_FakePy4JError):
        fs.list_names("hdfs://nn/root/manifest", spark)

    class _AbsentFS:
        def open(self, jpath):
            raise _FakePy4JError("java.io.FileNotFoundException")

        def listStatus(self, jpath):
            raise _FakePy4JError("java.io.FileNotFoundException")

    monkeypatch.setattr(
        fs, "_hadoop_fs", lambda p, s=None: (_AbsentFS(), None, None)
    )
    assert fs.read_text("hdfs://nn/root/manifest/v1", spark) is None
    assert fs.list_names("hdfs://nn/root/manifest", spark) == []


def test_read_text_local_component_is_a_file(tmp_path):
    """A path COMPONENT that is a file (NotADirectoryError) is 'absent',
    same as a missing file — but nothing broader is swallowed."""
    f = tmp_path / "not-a-dir"
    f.write_text("x")
    assert fs.read_text(str(f / "child")) is None
    assert fs.list_names(str(f / "child")) == []


def test_exclusive_arbitration_property_random_interleavings(
    spark, tmp_path, monkeypatch
):
    """Property check of the read-back arbitration under RANDOMIZED
    interleavings (the barrier test pins the deterministic worst case;
    this drives many schedules): with the weakest possible claim
    (every create 'succeeds', check-then-act limit) and random delays
    between write and read-back, the invariants the store's _promote
    rides on must hold on every schedule:

    - at least one contender returns True;
    - the final committed content belongs to a True-returner;
    - no False-returner's content is final (a loser deleting its stage
      can never dangle the marker).

    Deterministic pseudo-randomness (hash-derived, per-round seeds) —
    no RNG state, same schedule set every run.

    Gateway traffic is SERIALIZED through one lock: the schedules under
    test live entirely in the delay between a contender's write and its
    read-back (the `_arbitration_hook` sleep, taken OUTSIDE the lock),
    so serializing the py4j calls themselves loses no interleaving —
    and it keeps a loaded box from killing a pinned-thread
    ClientServerConnection mid-read (the round-12 driver-verify flake)."""
    import hashlib
    import threading
    import time as _time

    from pyspark import InheritableThread

    gw_lock = threading.Lock()

    def weakest_claim(p, text, sess=None):
        with gw_lock:
            f, jpath, _ = fs._hadoop_fs(p, sess)
            out = f.create(jpath, True)
            try:
                out.write(bytearray(text.encode("utf-8")))
            finally:
                out.close()
        return True

    real_read_text = fs.read_text

    def locked_read_text(p, sess=None):
        with gw_lock:
            return real_read_text(p, sess)

    monkeypatch.setattr(fs, "_remote_claim_exclusive", weakest_claim)
    monkeypatch.setattr(fs, "read_text", locked_read_text)
    # the REAL put_text_exclusive runs; the test seam only injects a
    # hash-derived 0-80ms delay between a contender's write and its
    # read-back, keyed by thread name
    delays: dict[str, float] = {}
    monkeypatch.setattr(
        fs,
        "_arbitration_hook",
        lambda: _time.sleep(delays.get(threading.current_thread().name, 0)),
    )

    for rnd in range(8):
        base = tmp_path / f"race{rnd}"
        base.mkdir()
        path = f"file://{base}/marker"
        n = 5
        results = []
        lock = threading.Lock()

        def attempt(i, rnd=rnd):
            text = f"w{i}-r{rnd}"
            ok = fs.put_text_exclusive(path, text, spark)
            with lock:
                results.append((text, ok))

        threads = []
        for i in range(n):
            name = f"racer-{rnd}-{i}"
            h = hashlib.md5(f"{rnd}-{i}".encode()).digest()
            delays[name] = (h[0] / 255.0) * 0.08
            threads.append(
                # InheritableThread: under py4j pinned-thread mode each
                # Python thread owns a JVM connection; this wrapper is
                # the documented way to have it torn down cleanly at
                # thread exit instead of by GC mid-suite
                InheritableThread(target=attempt, args=(i,), name=name)
            )
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        final = fs.read_text(path, spark)
        winners = [t for t, ok in results if ok]
        losers = [t for t, ok in results if not ok]
        assert len(winners) >= 1, f"round {rnd}: no winner"
        assert final in winners, f"round {rnd}: final {final} not a winner"
        assert final not in losers, f"round {rnd}: loser content committed"
