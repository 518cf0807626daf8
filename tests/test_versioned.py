"""sources.versioned — ONE ops entry point over both durable-state
layouts (round-11 verdict #3): the layout is detected from the root
itself, `models verify`/`reap` need no --index-root flag, and the reap
set is exactly what the audit reported."""

from __future__ import annotations

import json
import os

from tf_idf_mapreduce_spark.sources import versioned


def _mk_index_root(tmp_path) -> str:
    """A hand-built compacting index root with sweepable history: base
    v2 + v3 live; v0/v1 below the base; v7 a crash orphan."""
    root = str(tmp_path / "idx")
    os.makedirs(os.path.join(root, "manifest"))

    def commit(v, parent, base=False):
        with open(os.path.join(root, "manifest", f"v{v}"), "w") as f:
            json.dump({"parent": parent, "segment": True, "base": base}, f)

    def plant(v, kinds):
        for k in kinds:
            os.makedirs(os.path.join(root, f"{k}_v{v}"), exist_ok=True)

    commit(0, None)
    plant(0, ("seg", "df"))
    commit(1, 0)
    plant(1, ("seg",))
    commit(2, 1, base=True)
    plant(2, ("seg",))
    commit(3, 2)
    plant(3, ("seg", "df"))
    plant(7, ("seg", "df"))
    # a crashed torn-commit heal: atomic-write tmp inside manifest/
    with open(os.path.join(root, "manifest", "v1.tmp-dead"), "w") as f:
        f.write("{}")
    return root


def _mk_store_root(tmp_path) -> str:
    root = str(tmp_path / "models")
    d = os.path.join(root, "fam", "k1")
    os.makedirs(d)
    with open(os.path.join(d, "data-live.parquet"), "w") as f:
        f.write("x")
    with open(os.path.join(d, "_CURRENT"), "w") as f:
        f.write("data-live.parquet")
    with open(os.path.join(d, "data-loser.parquet"), "w") as f:
        f.write("y")
    # age the loser past reap's in-flight grace
    old = 1_000_000_000
    os.utime(os.path.join(d, "data-loser.parquet"), (old, old))
    return root


def test_detect_kind(tmp_path):
    assert versioned.detect_kind(str(tmp_path / "missing")) == "store"
    assert versioned.detect_kind(_mk_index_root(tmp_path)) == "index"
    assert versioned.detect_kind(_mk_store_root(tmp_path)) == "store"
    # a bare-dirs index root (manifest not yet created) still detects
    bare = str(tmp_path / "bare")
    os.makedirs(os.path.join(bare, "seg_v0"))
    assert versioned.detect_kind(bare) == "index"


def test_audit_then_reap_store(tmp_path):
    root = _mk_store_root(tmp_path)
    rep = versioned.audit(root)
    assert rep["kind"] == "store"
    loser = os.path.join(root, "fam", "k1", "data-loser.parquet")
    assert loser in rep["reap_candidates"]
    reaped = versioned.reap(root)
    assert reaped["kind"] == "store"
    assert loser in reaped["reaped"]
    assert not os.path.exists(loser)
    # the live version was never touched
    assert os.path.exists(os.path.join(root, "fam", "k1", "data-live.parquet"))


def test_audit_then_reap_index_is_what_you_saw(tmp_path):
    """The offline GC deletes EXACTLY the audit's reap_candidates —
    one decision path for the in-stream sweep, the report, and the GC."""
    root = _mk_index_root(tmp_path)
    rep = versioned.audit(root)
    assert rep["kind"] == "index"
    cands = set(rep["reap_candidates"])
    # history below the base, the expired grace segs, the crash orphan
    assert {"seg_v0", "seg_v1", "df_v0", "seg_v7", "df_v7",
            "manifest/v0", "manifest/v1",
            "manifest/v1.tmp-dead"} == cands
    reaped = versioned.reap(root)
    assert reaped["kind"] == "index"
    data_cands = {c for c in cands if not c.startswith("manifest/")}
    assert set(reaped["reaped"]) == data_cands
    for rel in cands:
        assert not os.path.exists(os.path.join(root, rel)), rel
    # the live chain + its df/N survive
    for rel in ("seg_v2", "seg_v3", "df_v3", "manifest/v2",
                "manifest/v3"):
        assert os.path.exists(os.path.join(root, rel)), rel
    # a second audit is clean
    rep2 = versioned.audit(root)
    assert rep2["reap_candidates"] == []
    assert rep2["orphans"] == []


def test_cli_autodetects_layout(tmp_path, capsys, monkeypatch):
    """`models verify`/`reap` with a plain --root on an index root:
    no --index-root flag needed (it survives as a deprecated alias)."""
    from tf_idf_mapreduce_spark.cli import main

    # `models --root` exports SPARK_GRAFT_MODEL_DIR for the process;
    # pin whatever value is current so this test can't leak its tmp
    # roots into later tests
    monkeypatch.setenv(
        "SPARK_GRAFT_MODEL_DIR",
        os.environ.get("SPARK_GRAFT_MODEL_DIR", ""),
    )

    root = _mk_index_root(tmp_path)
    rc = main(["models", "verify", "--root", root])
    out = capsys.readouterr().out
    assert rc == 0
    assert "newest v3" in out
    assert "REAPABLE\tseg_v0" in out
    rc = main(["models", "reap", "--root", root])
    out = capsys.readouterr().out
    assert rc == 0
    assert "reaped\tseg_v0" in out and "(compacting)" in out
    # and a store root still renders the artifact report
    sropt = _mk_store_root(tmp_path)
    rc = main(["models", "verify", "--root", sropt])
    out = capsys.readouterr().out
    assert rc == 0
    assert "artifact(s) under" in out and "1 live" in out


def test_shard_parent_detection_and_ops(tmp_path, capsys, monkeypatch):
    """A PARENT dir of index roots (the sharded-federation layout) must
    not misclassify as a model store: detect as 'index-shards', audit
    every shard, and reap across all of them — one verb pair for the
    whole deployment."""
    from tf_idf_mapreduce_spark.cli import main

    monkeypatch.setenv(
        "SPARK_GRAFT_MODEL_DIR",
        os.environ.get("SPARK_GRAFT_MODEL_DIR", ""),
    )
    parent = str(tmp_path / "fleet")
    os.makedirs(parent)
    # shard0: the sweepable hand-built root; shard1: clean minimal root
    shard0 = _mk_index_root(tmp_path)
    os.rename(shard0, os.path.join(parent, "shard0"))
    s1 = os.path.join(parent, "shard1")
    os.makedirs(os.path.join(s1, "manifest"))
    with open(os.path.join(s1, "manifest", "v0"), "w") as f:
        json.dump({"parent": None, "segment": True, "base": False}, f)
    for k in ("seg", "df", "n"):
        os.makedirs(os.path.join(s1, f"{k}_v0"))
    # a non-index child must be left alone
    with open(os.path.join(parent, "NOTES.txt"), "w") as f:
        f.write("ops notes")

    assert versioned.detect_kind(parent) == "index-shards"
    rep = versioned.audit(parent)
    assert rep["kind"] == "index-shards"
    assert set(rep["shards"]) == {"shard0", "shard1"}
    assert rep["shards"]["shard1"]["reap_candidates"] == []
    assert any(c.startswith("shard0/") for c in rep["reap_candidates"])

    reaped = versioned.reap(parent)
    assert reaped["kind"] == "index-shards"
    assert any(r.startswith("shard0/") for r in reaped["reaped"])
    assert os.path.exists(os.path.join(parent, "NOTES.txt"))
    assert os.path.exists(os.path.join(s1, "seg_v0"))
    # post-reap the whole fleet audits clean
    assert versioned.audit(parent)["reap_candidates"] == []

    rc = main(["models", "verify", "--root", parent])
    out = capsys.readouterr().out
    assert rc == 0
    assert "shard shard0: newest v3" in out
    assert "shard shard1: newest v0" in out
    assert "2 shard root(s)" in out
