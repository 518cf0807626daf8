"""The CLI entry point: reference-parity end-to-end run on real files."""

from __future__ import annotations

import math

from tf_idf_mapreduce_spark.cli import main


def _run(tmp_path, extra=()):
    inp = tmp_path / "input"
    inp.mkdir(exist_ok=True)
    (inp / "a.txt").write_text("spark spark engine")
    (inp / "b.txt").write_text("engine room")
    (inp / "empty.txt").write_text("")  # still counts toward total_docs
    out = tmp_path / "out"
    rc = main([str(inp), str(out), *extra])
    lines = []
    # reference driver layout: final job writes <output>/SortedTFIDF/
    # (TfidfMapReduce.java:66-69)
    for part in (out / "SortedTFIDF").glob("part-*"):
        lines += [l for l in part.read_text().splitlines() if l]
    return rc, dict(
        (tuple(l.split("\t")[0].split("|")), float(l.split("\t")[1])) for l in lines
    )


def test_cli_end_to_end(tmp_path):
    rc, scores = _run(tmp_path)
    assert rc == 0
    # total_docs = 3 directory entries (empty.txt counts: TfidfMapReduce.java:51)
    # spark: tf=2/3 in a.txt, df=1 -> ln(3/1)
    assert math.isclose(scores[("spark", "a.txt")], 2 / 3 * math.log(3), rel_tol=1e-12)
    # engine: df=2 -> ln(3/2)
    assert math.isclose(scores[("engine", "a.txt")], 1 / 3 * math.log(3 / 2), rel_tol=1e-12)
    assert math.isclose(scores[("room", "b.txt")], 1 / 2 * math.log(3), rel_tol=1e-12)


def test_cli_refuses_existing_output_without_force(tmp_path):
    rc1, _ = _run(tmp_path)
    assert rc1 == 0
    out = tmp_path / "out"
    assert out.exists()
    rc2 = main([str(tmp_path / "input"), str(out)])
    assert rc2 == 1
    rc3, scores = _run(tmp_path, extra=["--force"])
    assert rc3 == 0 and scores


def test_cli_total_docs_override(tmp_path):
    rc, scores = _run(tmp_path, extra=["--force", "--total-docs", "10"])
    assert rc == 0
    assert math.isclose(scores[("room", "b.txt")], 1 / 2 * math.log(10 / 1), rel_tol=1e-12)


def _read_lines(out_dir):
    lines = []
    for part in sorted(out_dir.glob("part-*")):
        lines += [l for l in part.read_text().splitlines() if l]
    return lines


def test_cli_per_stage_chain_equals_pipeline(tmp_path):
    """Reference entry-point-2 parity: wordcount → counttf → calctfidf →
    sortbyvalue chained through the KV-text interchange format (the
    .vscode/launch.json workflow) must reproduce the one-shot pipeline's
    final output byte for byte — every stage's parse/format round-trips."""
    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "a.txt").write_text("spark spark engine\nthe quick fox")
    (inp / "b.txt").write_text("engine room\nthe slow fox fox")
    (inp / "c.txt").write_text("quick quick room\n")
    (inp / "empty.txt").write_text("")  # raises total_docs, emits no rows

    one_shot = tmp_path / "oneshot"
    assert main([str(inp), str(one_shot)]) == 0

    s1, s2, s3, s4 = (tmp_path / f"stage{i}" for i in range(1, 5))
    assert main(["wordcount", str(inp), str(s1)]) == 0
    assert main(["counttf", str(s1), str(s2)]) == 0
    assert main(["calctfidf", str(s2), str(s3), "--total-docs", "4"]) == 0
    assert main(["sortbyvalue", str(s3), str(s4)]) == 0

    assert _read_lines(s4) == _read_lines(one_shot / "SortedTFIDF")


def test_cli_stage_refuses_existing_output(tmp_path):
    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "a.txt").write_text("alpha beta")
    out = tmp_path / "wc"
    assert main(["wordcount", str(inp), str(out)]) == 0
    assert main(["wordcount", str(inp), str(out)]) == 1
    assert main(["wordcount", str(inp), str(out), "--force"]) == 0


def test_cli_wordcount_stage_output_format(tmp_path):
    inp = tmp_path / "input"
    inp.mkdir()
    (inp / "a.txt").write_text("alpha beta alpha")
    out = tmp_path / "wc"
    assert main(["wordcount", str(inp), str(out)]) == 0
    rows = dict(
        (tuple(l.split("\t")[0].split("|")), int(l.split("\t")[1]))
        for l in _read_lines(out)
    )
    assert rows == {("alpha", "a.txt"): 2, ("beta", "a.txt"): 1}


def test_cli_query_subcommand(tmp_path, sf_dir, capsys):
    """'query --list' names every registered query; 'query <name> --out'
    writes the same rows the registry function returns."""
    import __spark_entry__ as entrymod

    assert main(["query", "--list"]) == 0
    listed = capsys.readouterr().out.split()
    assert set(listed) == set(entrymod.queries())

    out = tmp_path / "q5"
    rc = main(
        ["query", "rel_sql_q5", "--sf-dir", sf_dir, "--out", str(out)]
    )
    assert rc == 0
    from tf_idf_mapreduce_spark.session import get_spark

    spark = get_spark()
    got = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    want = sorted(
        map(tuple, entrymod.queries()["rel_sql_q5"](spark, sf_dir).collect())
    )
    assert got == want

    assert main(["query", "no_such_query"]) == 2


def test_cli_acceptance_100_file_corpus_roundtrips_through_kv_sink(
    tmp_path, spark
):
    """Round-9 acceptance run of the reference's actual usage mode
    (TfidfMapReduce.java:36-100): a ~100-file text directory in, the
    sorted packed ``word|file TAB score`` relation out of the S5 KV
    sink — re-read with ``read_kv_text`` and value-matched against the
    library pipeline over the same corpus. Exercises ``cli.main``, not
    library calls, end to end through the packed-format sink."""
    import math

    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.functions.tokenize import tokenize
    from tf_idf_mapreduce_spark.operators.tfidf import (
        doc_freq,
        doc_totals,
        tfidf,
        word_count,
    )
    from tf_idf_mapreduce_spark.sources.io import (
        read_kv_text,
        read_text_corpus,
    )

    vocab = [
        "spark", "engine", "query", "shuffle", "codegen", "catalyst",
        "arrow", "column", "broadcast", "partition", "&amp;entity",
        "<b>tagged</b>", "42", "7seas", "...dots", "mixedCASE",
    ]
    inp = tmp_path / "corpus100"
    inp.mkdir()
    for i in range(100):
        # deterministic, varied content: each doc cycles a vocab slice
        # with repetition so tf varies; some docs are empty (still count
        # toward N via the directory-entry rule)
        if i % 25 == 24:
            body = ""
        else:
            words = [vocab[(i + j) % len(vocab)] for j in range(i % 13 + 2)]
            body = " ".join(words * (i % 3 + 1))
        (inp / f"doc{i:03d}.txt").write_text(body)
    out = tmp_path / "cli_out"
    assert main([str(inp), str(out)]) == 0

    kv = read_kv_text(spark, str(out / "SortedTFIDF"))
    got = {
        (r.word, r.doc): float(r.val)
        for r in kv.select(
            F.substring_index("key", "|", 1).alias("word"),
            F.substring_index("key", "|", -1).alias("doc"),
            "val",
        ).collect()
    }

    expected_df = tfidf(
        doc_freq(
            doc_totals(word_count(tokenize(read_text_corpus(spark, str(inp)))))
        ),
        F.lit(100),  # directory-entry count, incl. the empty files
    )
    expected = {(r.word, r.doc): r.tfidf for r in expected_df.collect()}
    assert set(got) == set(expected) and len(got) > 300
    for k, v in expected.items():
        assert math.isclose(got[k], v, rel_tol=1e-12), k

    # the sink is the reference's SORTED output: concatenating the part
    # files in filename order must be non-increasing by score
    scores = []
    for part in sorted((out / "SortedTFIDF").glob("part-*")):
        scores += [
            float(l.rsplit("\t", 1)[1])
            for l in part.read_text().splitlines()
            if l
        ]
    assert len(scores) == len(got)
    assert all(a >= b for a, b in zip(scores, scores[1:]))


def test_cli_models_ls_prune_drop(tmp_path, monkeypatch, capsys):
    """The store-hygiene subcommands: ls lists artifacts with family,
    hash, size and age; drop removes a family; prune reaps stale
    artifacts past the age cutoff."""
    import os
    import time

    import pandas as pd

    from tf_idf_mapreduce_spark.sources.model_store import load_or_fit_pdf

    root = str(tmp_path / "models")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    load_or_fit_pdf("fam_a", ("k1",), lambda: pd.DataFrame({"x": [1, 2]}))
    load_or_fit_pdf("fam_b", ("k2",), lambda: pd.DataFrame({"y": [3]}))

    assert main(["models", "ls"]) == 0
    out = capsys.readouterr().out
    assert "fam_a" in out and "fam_b" in out and "2 artifacts" in out

    assert main(["models", "drop", "fam_a"]) == 0
    assert not os.path.exists(os.path.join(root, "fam_a"))
    assert os.path.isdir(os.path.join(root, "fam_b"))

    # age fam_b's artifact past the cutoff and prune it
    for dp, _dn, fns in os.walk(os.path.join(root, "fam_b")):
        for fn in fns:
            old = time.time() - 99 * 86400
            os.utime(os.path.join(dp, fn), (old, old))
    assert main(["models", "prune", "--max-age-days", "30"]) == 0
    assert "pruned 1" in capsys.readouterr().out
    assert not os.listdir(os.path.join(root, "fam_b"))

    assert main(["models", "drop"]) == 2  # family name required
    assert main(["models", "ls"]) == 0  # empty store lists cleanly


def test_cli_models_ls_schemed_root_matches_bare_path(
    spark, tmp_path, monkeypatch, capsys
):
    """`models ls` reads the store through ``sources.fs``: a ``file://``
    root lists the same artifacts, sizes and count as its bare path
    (walking it with ``os`` read a schemed root as an empty store)."""
    import pandas as pd

    from tf_idf_mapreduce_spark.sources.model_store import (
        load_or_compute_table,
        load_or_fit_pdf,
    )

    root = str(tmp_path / "models")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    load_or_fit_pdf("fam_a", ("k1",), lambda: pd.DataFrame({"x": [1, 2]}))
    load_or_compute_table("fam_t", ("k2",), spark, lambda: spark.range(7))

    def listing(*argv):
        assert main(["models", "ls", *argv]) == 0
        *rows, tail = capsys.readouterr().out.splitlines()
        # family, key hash and size; the age column moves with the clock
        return [r.split("\t")[:3] for r in rows], tail

    bare_rows, bare_tail = listing()
    uri_rows, uri_tail = listing("--root", f"file://{root}")
    assert len(bare_rows) == 2 and all(int(r[2]) > 0 for r in bare_rows)
    assert uri_rows == bare_rows
    assert bare_tail == f"(2 artifacts under {root})"
    assert uri_tail == f"(2 artifacts under file://{root})"


def test_models_refit_cli(sf_dir, tmp_path, monkeypatch, capsys):
    """`models refit` drives the drift decision end-to-end: KEEP on the
    real fixture (arrivals ~10% everywhere), generation untouched."""
    from tf_idf_mapreduce_spark.cli import main

    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", str(tmp_path / "m"))
    rc = main(["models", "refit", "--sf-dir", sf_dir])
    assert rc == 0
    out = capsys.readouterr().out
    assert "KEEP" in out and "generation stays 0" in out


def test_models_promote_cli(sf_dir, tmp_path, monkeypatch, capsys):
    """`models promote` runs the daily promotion loop (idempotent: the
    second invocation resolves every version from the store). The table
    loaders report origin "store" even on the first build — every load,
    including the first, reads the written parquet back — so the output
    is asserted on the segment count and the artifacts on disk."""
    import os

    from tf_idf_mapreduce_spark.cli import main

    root = str(tmp_path / "m")
    monkeypatch.setenv("SPARK_GRAFT_MODEL_DIR", root)
    assert main(["models", "promote", "--sf-dir", sf_dir]) == 0
    out1 = capsys.readouterr().out
    assert "promoted through day 3: 4 postings segment(s) live" in out1
    # base + 3 day versions per family, written under the test root
    assert len(os.listdir(os.path.join(root, "tfidf_index_postings"))) == 4
    assert main(["models", "promote", "--sf-dir", sf_dir]) == 0
    out2 = capsys.readouterr().out
    assert "4 postings segment(s) live, origin store" in out2
    assert len(os.listdir(os.path.join(root, "tfidf_index_postings"))) == 4


def test_cli_query_register_sql_over_result_view(sf_dir, capsys, spark):
    """Round-10 verdict #8: `query <name> --register --sql` gives SQL
    users one documented path over the full surface — the query's
    OUTPUT becomes a temp view beside the base fixture tables, and the
    --sql statement composes them without touching the Python API."""
    rc = main(
        [
            "query", "tfidf_full", "--sf-dir", sf_dir, "--register",
            "--sql",
            "SELECT d.source, count(*) AS n "
            "FROM tfidf_full t JOIN documents d "
            "ON t.doc = cast(d.doc_id AS string) "
            "GROUP BY d.source ORDER BY n DESC LIMIT 3",
        ]
    )
    assert rc == 0
    outp = capsys.readouterr().out
    assert "source" in outp and "src" in outp
    # the view persists in this process — spark.sql sees it directly
    assert spark.sql("SELECT count(*) c FROM tfidf_full").head()["c"] > 1000

    # --register without --sql just registers and says so
    rc = main(["query", "tfidf_top30", "--sf-dir", sf_dir, "--register"])
    assert rc == 0
    assert "registered temp view 'tfidf_top30'" in capsys.readouterr().out
    assert spark.sql("SELECT count(*) c FROM tfidf_top30").head()["c"] == 30

    # --sql alone is a usage error; so is --register --out without --sql
    # (there would be no result to write — exit 0 with the promised
    # parquet silently absent would break a scripted pipeline)
    assert main(["query", "tfidf_full", "--sf-dir", sf_dir, "--sql", "SELECT 1"]) == 2
    assert (
        main(
            ["query", "tfidf_full", "--sf-dir", sf_dir, "--register",
             "--out", "/tmp/never_written", "--force"]
        )
        == 2
    )
