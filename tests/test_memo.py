"""The package's one memo (``sources.io.memo``) and the one clear over
both cache layers (``operators.caches.clear``).

Unit tests drive the memo with stand-in sessions (anything with a
``sparkContext.applicationId``) against a private memo dict; the
integration test drives real fits at sf0.001 against a private model
store."""

from __future__ import annotations

import ast
import os
import threading
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

import tf_idf_mapreduce_spark
from tf_idf_mapreduce_spark.sources import io


def _app(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


@pytest.fixture()
def memo_dict(monkeypatch):
    """A private, empty memo: the unit tests' stand-in applications would
    otherwise sweep the test session's own entries."""
    d: dict = {}
    monkeypatch.setattr(io, "_MEMO_CACHE", d)
    return d


def test_memo_unit(memo_dict, tmp_path, monkeypatch):
    """One key/evict rule: a key builds once; a new version of the same
    (name, sf_dir) replaces the old one; other names coexist; an insert
    sweeps every other application; ``forget`` and ``clear`` drop by
    name, and ``clear`` empties the store family too."""
    from tf_idf_mapreduce_spark.operators.caches import clear

    app = _app("app")
    builds = []

    def build(value):
        def run():
            builds.append(value)
            return value

        return run

    assert io.memo(app, "dir", "tag", ("fp1", "32"), build("a")) == "a"
    assert io.memo(app, "dir", "tag", ("fp1", "32"), build("x")) == "a"
    assert builds == ["a"]  # a hit never rebuilds

    io.memo(app, "dir", "tag", ("fp2", "16"), build("b"))
    assert list(memo_dict) == [("app", "tag", "dir", ("fp2", "16"))]
    assert io.memo(app, "dir", "tag", ("fp2", "16"), build("y")) == "b"

    io.memo(app, "dir", "other", ("fp1", "32"), build("c"))
    io.memo(app, "dir2", "tag", ("fp1", "32"), build("d"))
    assert len(memo_dict) == 3  # other name / other sf_dir coexist

    # a failed build leaves no entry; the next call builds again
    def boom():
        raise RuntimeError("fit failed")

    with pytest.raises(RuntimeError):
        io.memo(app, "dir", "failing", (), boom)
    assert not [k for k in memo_dict if k[1] == "failing"]
    assert io.memo(app, "dir", "failing", (), build("e")) == "e"

    io.forget("failing", "other")
    assert sorted(k[1:3] for k in memo_dict) == [("tag", "dir"), ("tag", "dir2")]

    # another application's insert sweeps every entry of this one
    io.memo(_app("app2"), "dir", "tag", ("fp1", "32"), build("f"))
    assert [k[0] for k in memo_dict] == ["app2"]

    # clear(family): the memo entries of that name AND the store dir
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    (tmp_path / "tag" / "0123").mkdir(parents=True)
    (tmp_path / "kept" / "0123").mkdir(parents=True)
    io.memo(_app("app2"), "dir", "kept", (), build("g"))
    clear("tag")
    assert [k[1] for k in memo_dict] == ["kept"]
    assert not (tmp_path / "tag").exists()
    assert (tmp_path / "kept").exists()


def test_memo_builds_different_keys_concurrently(memo_dict):
    """The lock guards the dict, never a build: two threads memoing
    different keys must be inside ``build`` at the same time (each
    build waits for the other at the barrier)."""
    from concurrent.futures import ThreadPoolExecutor

    app = _app("app")
    barrier = threading.Barrier(2, timeout=10)

    def build(value):
        def run():
            barrier.wait()
            return value

        return run

    with ThreadPoolExecutor(2) as pool:
        fa = pool.submit(io.memo, app, "dir", "ivf", (1,), build("a"))
        fb = pool.submit(io.memo, app, "dir", "pq", (1,), build("b"))
        assert (fa.result(), fb.result()) == ("a", "b")


def test_memo_builds_one_key_once(memo_dict):
    """A concurrent caller of a key that is being built waits for that
    build instead of starting its own."""
    from concurrent.futures import ThreadPoolExecutor

    app = _app("app")
    release = threading.Event()
    builds = []

    def build():
        builds.append(1)
        assert release.wait(10)
        return "v"

    with ThreadPoolExecutor(2) as pool:
        first = pool.submit(io.memo, app, "dir", "fit", (), build)
        second = pool.submit(io.memo, app, "dir", "fit", (), build)
        time.sleep(0.2)
        release.set()
        assert first.result() == second.result() == "v"
    assert builds == [1]


def test_memo_stress_builds_each_key_once(memo_dict):
    """16 threads (more than cores) hammer 8 keys with the interpreter
    switching threads as often as it can: every key builds exactly once
    and every caller gets its key's value."""
    import sys
    from collections import Counter
    from concurrent.futures import ThreadPoolExecutor

    app = _app("app")
    builds = Counter()
    lock = threading.Lock()

    def build(name):
        def run():
            with lock:
                builds[name] += 1
            time.sleep(0.001)
            return name

        return run

    def worker(i):
        names = [f"k{j % 8}" for j in range(i, i + 200)]
        return [io.memo(app, "dir", n, (), build(n)) == n for n in names]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(16) as pool:
            futures = [pool.submit(worker, i) for i in range(16)]
            results = [f.result(timeout=60) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(all(r) for r in results)
    assert builds == Counter({f"k{j}": 1 for j in range(8)})


def _module_level_names(tree: ast.Module):
    """Every name bound by an assignment at module level (including
    inside module-level if/try/with blocks, never inside a def/class)."""
    stack = list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            continue
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        else:
            targets = []
        for target in targets:
            for n in ast.walk(target):
                if isinstance(n, ast.Name):
                    yield n.id
        for field in ("body", "orelse", "finalbody", "handlers"):
            stack.extend(getattr(node, field, []))


def test_package_keeps_one_memo_and_one_tmpdir_cache():
    """Each concept once: the only module-level ``*_CACHE`` dicts in the
    package are the Spark-side memo and the tmpdir cache. A new cache
    goes through ``sources.io.memo`` (or ``_cached_tmpdir`` for files
    that must outlive an application)."""
    pkg = Path(tf_idf_mapreduce_spark.__file__).parent
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for name in _module_level_names(tree):
            if name.endswith("_CACHE"):
                found.add((path.relative_to(pkg).as_posix(), name))
    assert found == {
        ("sources/io.py", "_MEMO_CACHE"),
        ("streaming/queries.py", "_TMPDIR_CACHE"),
    }


def test_one_entry_per_family_and_clear_empties_both_layers(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The QC fit under two shuffle widths leaves ONE qc_weights memo
    entry for the fixture (the newer version evicts the older); the PCA owner's clear
    empties its memo entries and its store family."""
    from tf_idf_mapreduce_spark.operators import curation, similarity
    from tf_idf_mapreduce_spark.operators.caches import MODEL_CACHED_QUERIES

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path))
    width = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for w in ("2", "3"):
            spark.conf.set("spark.sql.shuffle.partitions", w)
            curation._qc_fit(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", width)
    qc = [k for k in io._MEMO_CACHE if k[1:3] == ("qc_weights", sf_dir)]
    assert len(qc) == 1 and "3" in qc[0][3]

    io.forget("pca_components")  # an earlier test's fit would hit L1
    similarity._pca_components(spark, sf_dir, similarity.PCA_POWER_ITERS)
    assert [k for k in io._MEMO_CACHE if k[1] == "pca_components"]
    assert os.path.isdir(tmp_path / "pca_components")
    MODEL_CACHED_QUERIES["sim_pca_power"]()
    assert not [k for k in io._MEMO_CACHE if k[1] == "pca_components"]
    assert not os.path.exists(tmp_path / "pca_components")


#: (module, function) of every driver loop with a per-round action or
#: barrier; nested functions count under their own name
EXPECTED_LOOP_FUNCTIONS = {
    ("operators/curation.py", "_qc_fit_gd"),
    ("operators/curation.py", "pareto_layers"),
    ("operators/dedup.py", "connected_components"),
    ("operators/dedup.py", "minhash_k_sweep"),
    ("operators/events.py", "q_funnel_window_sweep"),
    ("operators/similarity.py", "_knn_walk"),
    ("operators/similarity.py", "ivf_probe_sweep"),
    ("operators/similarity.py", "kmeans_fit"),
    ("operators/textstats.py", "_bpe_learn_merges"),
    ("operators/textstats.py", "_fit_pdf"),
    ("sources/index_root.py", "add_tombstones"),
}


def test_package_keeps_one_loop_per_iterative_algorithm():
    """Each concept once: the functions whose ``for``/``while`` body
    runs a driver action or a checkpoint barrier per round are the
    package's driver-loop algorithms, one function each. A second copy
    of k-means, connected components or the k-NN walk fails here."""
    barriers = {"collect", "count", "localCheckpoint"}
    pkg = Path(tf_idf_mapreduce_spark.__file__).parent
    found = set()
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for loop in ast.walk(fn):
                if not isinstance(loop, (ast.For, ast.While)):
                    continue
                if any(
                    isinstance(n, ast.Call)
                    and isinstance(n.func, ast.Attribute)
                    and n.func.attr in barriers
                    for stmt in loop.body
                    for n in ast.walk(stmt)
                ):
                    found.add((path.relative_to(pkg).as_posix(), fn.name))
    assert found == EXPECTED_LOOP_FUNCTIONS
