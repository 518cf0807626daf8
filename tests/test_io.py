"""Sources/sinks round trip (SURVEY.md §2.1): text-dir corpus in,
reference-format ``key TAB value`` out, and back."""

from __future__ import annotations

from pyspark.sql import functions as F

from tf_idf_mapreduce_spark.operators.tfidf import tfidf_pipeline, tfidf_sorted
from tf_idf_mapreduce_spark.sources.io import (
    read_kv_text,
    read_text_corpus,
    write_kv_text,
)

DOCS = {
    "a.txt": "spark spark engine\ncatalyst plans",
    "b.txt": "engine of record",
    "c.txt": "tungsten codegen",
}


def test_text_dir_corpus_to_kv_sink_roundtrip(spark, tmp_path):
    corpus_dir = tmp_path / "input"
    corpus_dir.mkdir()
    for name, body in DOCS.items():
        (corpus_dir / name).write_text(body)

    # S1+S2: line scan + doc-id-from-filename (WordCount.java:89-90)
    corpus = read_text_corpus(spark, str(corpus_dir))
    rows = corpus.collect()
    assert {r.doc for r in rows} == set(DOCS)
    assert len(rows) == 4  # a.txt contributes two lines

    # doc identity is the FILE, so total_docs must be 3 even though a.txt
    # has 2 line-rows: aggregate lines per doc before the pipeline
    docs = corpus.groupBy("doc").agg(F.concat_ws("\n", F.collect_list("text")).alias("text"))
    scored = tfidf_sorted(tfidf_pipeline(docs))
    got = {(r.word, r.doc): r for r in scored.collect()}
    assert got[("spark", "a.txt")].df == 1
    assert got[("engine", "a.txt")].df == 2
    assert got[("spark", "a.txt")]["count"] == 2

    # S5: reference-format sink (word|doc TAB tfidf), S4: re-scan
    out = tmp_path / "out"
    write_kv_text(scored, str(out), ["word", "doc"], "tfidf")
    back = read_kv_text(spark, str(out))
    parsed = back.select(
        F.split("key", r"\|")[0].alias("word"),
        F.split("key", r"\|")[1].alias("doc"),
        F.col("val").cast("double").alias("tfidf"),
    )
    want = {(r.word, r.doc): r.tfidf for r in scored.collect()}
    got_back = {(r.word, r.doc): r.tfidf for r in parsed.collect()}
    assert got_back == want


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    from tf_idf_mapreduce_spark.sources.io import load_table, write_partitioned

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    path = str(tmp_path / "orders_part")
    write_partitioned(orders, path, ["o_orderstatus"])

    back = spark.read.parquet(path).where("o_orderstatus = 'O'")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    want = orders.where("o_orderstatus = 'O'").count()
    assert back.count() == want


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    from pyspark.sql import functions as F

    from tf_idf_mapreduce_spark.sources.io import load_table, write_bucketed

    # (warehouse dir is a static conf — bucketed tables land in the default
    # ./spark-warehouse, dropped at the end and gitignored)
    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "orders_b", "o_orderkey", 8)
    write_bucketed(
        li.withColumnRenamed("l_orderkey", "o_orderkey"), "lineitem_b", "o_orderkey", 8
    )
    a = spark.table("orders_b")
    b = spark.table("lineitem_b")
    # disable broadcast so the join must pick a shuffle-or-bucket strategy
    joined = a.hint("merge").join(b, "o_orderkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # buckets pre-partitioned
    n = joined.count()
    assert n == li.count()  # every lineitem has its order
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_jsonl_corpus_reads_lines_and_prunes(spark, tmp_path):
    """JSONL corpus: explicit schema (no inference pass), extra fields
    pruned, doc ids as strings, malformed lines surfaced as null-doc rows
    not job failures — and the result feeds the S1/S2 pipeline shape."""
    import json as _json

    p = tmp_path / "corpus"
    p.mkdir()
    lines = [
        _json.dumps({"doc_id": "a", "text": "hello world", "extra": 1}),
        _json.dumps({"doc_id": "b", "text": "beta"}),
        _json.dumps({"doc_id": "c"}),  # missing text -> ''
        "{not json",  # malformed -> null doc row
    ]
    (p / "part-0.jsonl").write_text("\n".join(lines))

    from tf_idf_mapreduce_spark.sources.io import read_jsonl_corpus

    df = read_jsonl_corpus(spark, str(p))
    assert df.columns == ["doc", "text"]
    rows = {r.doc: r.text for r in df.collect()}
    assert rows["a"] == "hello world"
    assert rows["b"] == "beta"
    assert rows["c"] == ""
    assert None in rows  # the malformed line is visible, not fatal

    from tf_idf_mapreduce_spark.functions.tokenize import tokenize

    words = tokenize(df.where(F.col("doc").isNotNull()))
    got = sorted(map(tuple, words.collect()))
    assert got == [("a", "hello"), ("a", "world"), ("b", "beta")]


def test_parquet_loader_corruption_contract(spark, tmp_path):
    """load_table is FAIL-FAST on a corrupt parquet file by default and
    best-effort (valid files only, damage visible as missing rows) with
    ignore_corrupt_files=True — per-reader, not session-wide."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from tf_idf_mapreduce_spark.sources.io import load_table

    d = tmp_path / "documents.parquet"
    spark.createDataFrame(
        [(1, "good row", "en", "s0", 8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d))
    (d / "part-corrupt.parquet").write_bytes(b"PAR1 this is not a footer")

    with pytest.raises(Py4JJavaError):
        load_table(spark, str(tmp_path), "documents").count()
    ok = load_table(
        spark, str(tmp_path), "documents", ignore_corrupt_files=True
    )
    assert [r.doc_id for r in ok.collect()] == [1]
    # the lenient read must NOT have relaxed the session default
    assert (
        spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false") == "false"
    )


def test_text_corpus_invalid_utf8_survives_visibly(spark, tmp_path):
    """Invalid UTF-8 bytes in a text corpus are replaced (U+FFFD), not
    fatal and not dropped — every line stays a row."""
    from tf_idf_mapreduce_spark.sources.io import read_text_corpus

    p = tmp_path / "corpus"
    p.mkdir()
    (p / "doc1.txt").write_bytes(b"good line\nbad \xff\xfe bytes\nlast line\n")
    rows = read_text_corpus(spark, str(p)).collect()
    assert len(rows) == 3
    texts = sorted(r.text for r in rows)
    assert "good line" in texts and "last line" in texts
    assert any("�" in t for t in texts)


def test_kv_text_reader_handles_tabless_lines(spark, tmp_path):
    """A KV line without a TAB parses as (whole line, '') — the documented
    degradation, matching KeyValueTextInputFormat."""
    from tf_idf_mapreduce_spark.sources.io import read_kv_text

    p = tmp_path / "kv"
    p.mkdir()
    (p / "part-0.txt").write_text("a|d\t1.5\nno-tab-here\nk\t\n")
    rows = {r.key: r.val for r in read_kv_text(spark, str(p)).collect()}
    assert rows == {"a|d": "1.5", "no-tab-here": "", "k": ""}


def test_csv_round_trip_with_quoting_and_corrupt_rows(spark, tmp_path):
    """CSV sink/source: values containing commas, quotes, and newlines
    must survive the round trip byte-exact (RFC-4180 quoting); a
    malformed extra file surfaces per-row in _corrupt_record instead of
    aborting the read (the reader-contract convention)."""
    from tf_idf_mapreduce_spark.sources.io import read_csv, write_csv

    df = spark.createDataFrame(
        [
            (1, 'plain', 10.5),
            (2, 'comma, inside', -1.0),
            (3, 'quote " inside', 0.25),
            (4, 'new\nline', 1e-6),
        ],
        "id long, txt string, x double",
    )
    p = str(tmp_path / "csv_rt")
    write_csv(df, p)
    back = read_csv(spark, p, "id long, txt string, x double")
    got = {
        (r.id, r.txt, r.x)
        for r in back.select("id", "txt", "x").collect()
    }
    want = {(r.id, r.txt, r.x) for r in df.collect()}
    assert got == want
    # Spark refuses plans that reference ONLY _corrupt_record — collect
    # the parsed rows (id included) and inspect, per its own guidance
    assert all(
        r._corrupt_record is None
        for r in back.select("id", "_corrupt_record").collect()
    )

    # corrupt file: a row whose long column isn't a long
    with open(f"{p}/zzz_bad.csv", "w") as f:
        f.write("id,txt,x\nnot_a_long,oops,nan_x\n5,fine,2.0\n")
    again = read_csv(spark, p, "id long, txt string, x double").cache()
    try:
        bad = again.where("_corrupt_record IS NOT NULL").count()
        ok5 = again.where("id = 5").count()
    finally:
        again.unpersist()
    assert bad == 1 and ok5 == 1


def test_write_jsonl_gzip_roundtrip(spark, tmp_path):
    """write_jsonl -> read_jsonl_corpus is lossless through gzip: part
    files carry the .gz extension (compression actually applied) and
    the corpus relation round-trips exactly, nulls coalesced to ''."""
    import glob

    from tf_idf_mapreduce_spark.sources.io import (
        read_jsonl_corpus,
        write_jsonl,
    )

    rows = [("a", "alpha beta"), ("b", ""), ("c", 'quote " and \\ slash')]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    out = str(tmp_path / "jl")
    write_jsonl(df, out, codec="gzip")
    assert glob.glob(f"{out}/*.json.gz")  # compressed part files
    got = sorted(
        tuple(r) for r in read_jsonl_corpus(spark, out).collect()
    )
    assert got == sorted(rows)


def _write_documents(spark, sf_dir, rows):
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{sf_dir}/documents.parquet")


def test_plan_memo_keys_out_a_rewritten_fixture(spark, tmp_path):
    """A documents table rewritten in place gets a new core plan, and the
    new plan reads the new rows — the memo holds plans, never rows."""
    from tf_idf_mapreduce_spark.operators.tfidf import corpus_core
    from tf_idf_mapreduce_spark.sources import io

    d = str(tmp_path)
    _write_documents(spark, d, [(1, "alpha beta"), (2, "beta")])
    first = corpus_core(spark, d).word_count
    assert sorted((r.word, r.doc, r["count"]) for r in first.collect()) == [
        ("alpha", "1", 1), ("beta", "1", 1), ("beta", "2", 1)
    ]
    [old_key] = [k for k in io._MEMO_CACHE if k[1:3] == ("tfidf_core", d)]

    _write_documents(spark, d, [(1, "gamma gamma")])
    again = corpus_core(spark, d).word_count
    assert [(r.word, r.doc, r["count"]) for r in again.collect()] == [("gamma", "1", 2)]
    [new_key] = [k for k in io._MEMO_CACHE if k[1:3] == ("tfidf_core", d)]
    assert new_key != old_key


def test_corpus_core_returns_fresh_dataframes(spark, tmp_path):
    """Each call hands out its own DataFrames over the memoized core, so
    no two callers share a QueryExecution (or its shuffle files)."""
    from tf_idf_mapreduce_spark.operators.tfidf import corpus_core

    d = str(tmp_path)
    _write_documents(spark, d, [(1, "alpha beta")])
    ca, cb = corpus_core(spark, d), corpus_core(spark, d)
    for x, y in zip(ca, cb):
        assert x is not y
        assert not x._jdf.queryExecution().equals(y._jdf.queryExecution())
    assert sorted(map(tuple, ca.scored.collect())) == sorted(
        map(tuple, cb.scored.collect())
    )


def test_plan_memo_sweeps_other_applications(spark, tmp_path, monkeypatch):
    """An insert drops every entry of another application id, so a
    stopped context's plans are never pinned."""
    from types import SimpleNamespace

    from tf_idf_mapreduce_spark.sources import io

    # a private copy: the fake application's insert sweeps the session's
    # own entries, which later tests reuse
    monkeypatch.setattr(io, "_MEMO_CACHE", dict(io._MEMO_CACHE))
    stopped = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-stopped"))
    io.memo(stopped, "/gone", "documents", (), object)
    d = str(tmp_path)
    _write_documents(spark, d, [(1, "alpha")])
    io.load_table(spark, d, "documents")
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in io._MEMO_CACHE)
