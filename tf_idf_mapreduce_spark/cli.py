"""Command-line drivers mirroring the reference's TWO entry-point styles.

1. **Full pipeline** (TfidfMapReduce.main, TfidfMapReduce.java:36-100):
   a directory of text files in, the sorted ``word|doc TAB tfidf``
   relation out — ``python -m tf_idf_mapreduce_spark <input> <output>``.

2. **Per-stage jobs** (each reference class has its own ``main``, chained
   via ``.vscode/launch.json``: WordCount.java:161-170, CountTF.java:143-152,
   CalcTFIDF.java:174-183, SortByValue.java:134-143), consuming/emitting the
   KV-text interchange format between stages so a user can migrate one job
   at a time, pointing each Spark stage at a reference stage's output dir
   or vice versa:

   - ``wordcount <text_dir> <out>``     → ``word|doc TAB count``
   - ``counttf <in> <out>``             → ``word|doc TAB count|doc_total``
     (the ``count|totalWordsInDocument`` packed value, CountTF.java:107)
   - ``calctfidf <in> <out> --total-docs N`` → ``word|doc TAB tfidf``
     (totalDocs is an argv parameter exactly as CalcTFIDF.java:174-183)
   - ``sortbyvalue <in> <out>``         → same, globally sorted desc

Parity choices (both styles):
- doc identity = file basename (WordCount.java:89);
- total_docs = directory-entry count (TfidfMapReduce.java:51) — empty or
  unreadable files still raise the denominator — overridable with
  ``--total-docs``;
- output format = ``key TAB value`` text with packed ``|`` keys
  (TextOutputFormat, SortByValue.java:93,123); the full pipeline writes to
  ``<output>/SortedTFIDF/`` — the reference driver's final-job directory
  (TfidfMapReduce.java:66-69) — while per-stage jobs write to ``<out>``
  directly like the standalone reference mains;
- existing output: refuse unless ``--force`` (the reference interactively
  confirms then deletes, TfidfMapReduce.java:55-60 — non-interactive here);
- the packed-key format inherits the reference's documented hazard
  (SURVEY.md §1): a token containing a literal ``|`` corrupts the key
  split at the NEXT stage's parse. The in-memory pipeline keeps real
  columns and is immune; the interchange format is faithful, hazard and
  all.
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.tokenize import tokenize
from .operators.tfidf import (
    doc_freq,
    doc_totals,
    tfidf,
    tfidf_pipeline,
    tfidf_sorted,
    word_count,
)
from .session import get_spark
from .sources.io import read_kv_text, read_text_corpus, write_kv_text

STAGES = ("wordcount", "counttf", "calctfidf", "sortbyvalue")


def _check_out(path: str, force: bool) -> bool:
    if os.path.exists(path) and not force:
        print(f"output {path} exists; pass --force to overwrite", file=sys.stderr)
        return False
    return True


def _unpack_key(kv: DataFrame) -> DataFrame:
    """Recover (word, doc) from the packed ``word|doc`` key — the stage
    boundary re-parse every reference job opens with (split("\\|"),
    CountTF.java:58, CalcTFIDF.java:67, SortByValue.java:45)."""
    return kv.select(
        F.substring_index("key", "|", 1).alias("word"),
        F.substring_index("key", "|", -1).alias("doc"),
        "val",
    )


def _stage_wordcount(spark: SparkSession, args: argparse.Namespace) -> None:
    wc = word_count(tokenize(read_text_corpus(spark, args.input)))
    write_kv_text(wc, args.output, ["word", "doc"], "count")


def _stage_counttf(spark: SparkSession, args: argparse.Namespace) -> None:
    parsed = _unpack_key(read_kv_text(spark, args.input)).select(
        "word", "doc", F.col("val").cast("long").alias("count")
    )
    packed = doc_totals(parsed).withColumn(
        "cv", F.concat_ws("|", "count", "doc_total")
    )
    write_kv_text(packed, args.output, ["word", "doc"], "cv")


def _stage_calctfidf(spark: SparkSession, args: argparse.Namespace) -> None:
    parsed = _unpack_key(read_kv_text(spark, args.input)).select(
        "word",
        "doc",
        F.substring_index("val", "|", 1).cast("long").alias("count"),
        F.substring_index("val", "|", -1).cast("long").alias("doc_total"),
    )
    scored = tfidf(doc_freq(parsed), F.lit(args.total_docs))
    write_kv_text(scored, args.output, ["word", "doc"], "tfidf")


def _stage_sortbyvalue(spark: SparkSession, args: argparse.Namespace) -> None:
    parsed = _unpack_key(read_kv_text(spark, args.input)).select(
        "word", "doc", F.col("val").cast("double").alias("tfidf")
    )
    write_kv_text(tfidf_sorted(parsed), args.output, ["word", "doc"], "tfidf")


_STAGE_FN = {
    "wordcount": _stage_wordcount,
    "counttf": _stage_counttf,
    "calctfidf": _stage_calctfidf,
    "sortbyvalue": _stage_sortbyvalue,
}


def _stage_main(argv: list[str]) -> int:
    stage = argv[0]
    p = argparse.ArgumentParser(
        prog=f"tf_idf_mapreduce_spark {stage}",
        description=f"reference job {stage} over the KV-text interchange format",
    )
    p.add_argument("input", help="input directory (text corpus or prior stage)")
    p.add_argument("output", help="output directory (key TAB value lines)")
    if stage == "calctfidf":
        p.add_argument(
            "--total-docs",
            type=int,
            required=True,
            help="corpus size N for idf=ln(N/df) (argv parity, CalcTFIDF.java:174-183)",
        )
    p.add_argument("--force", action="store_true", help="overwrite existing output")
    p.add_argument("--master", default=None, help="Spark master (default local[N])")
    args = p.parse_args(argv[1:])
    if not _check_out(args.output, args.force):
        return 1
    spark = get_spark(app_name=f"tfidf-{stage}", master=args.master)
    _STAGE_FN[stage](spark, args)
    return 0


def _query_main(argv: list[str]) -> int:
    """``query <name> [--sf-dir D] [--out PATH] [--list]`` — run any of the
    engine's registered analytics queries (the full 140+ surface beyond
    the reference pipeline: dedup, similarity, curation, multimodal,
    streaming...) from the command line. Without ``--out`` the result
    prints (first ``--limit`` rows); with it, the full result writes as
    parquet."""
    p = argparse.ArgumentParser(
        prog="tf_idf_mapreduce_spark query",
        description="run a registered analytics query by name",
    )
    p.add_argument("name", nargs="?", help="query name (see --list)")
    p.add_argument("--list", action="store_true", help="list query names and exit")
    p.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
        help="fixture directory with the parquet tables",
    )
    p.add_argument("--out", default=None, help="write result as parquet here")
    p.add_argument("--limit", type=int, default=20, help="rows to print without --out")
    p.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of running",
    )
    p.add_argument("--force", action="store_true", help="overwrite existing output")
    p.add_argument("--master", default=None, help="Spark master (default local[N])")
    p.add_argument(
        "--register",
        action="store_true",
        help=(
            "register the result as a temp view named after the query "
            "(plus the base fixture tables), then run --sql against it"
        ),
    )
    p.add_argument(
        "--sql",
        default=None,
        help=(
            "with --register: an ANSI SQL statement to run over the "
            "registered view, e.g. \"SELECT doc, sum(tfidf) s FROM "
            "tfidf_full GROUP BY doc ORDER BY s DESC LIMIT 5\""
        ),
    )
    args = p.parse_args(argv[1:])

    # the registry lives at the repo root next to this package; make the
    # subcommand work from any cwd
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if pkg_parent not in sys.path:
        sys.path.insert(0, pkg_parent)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    if args.list or not args.name:
        for name in qs:
            print(name)
        return 0
    if args.name not in qs:
        print(f"unknown query {args.name!r}; see --list", file=sys.stderr)
        return 2
    if args.out and not _check_out(args.out, args.force):
        return 1
    if args.sql and not args.register:
        print("--sql requires --register", file=sys.stderr)
        return 2
    if args.register and args.out and not args.sql:
        # --out names what to WRITE; with --register but no --sql there
        # is no result to write — failing loudly beats exiting 0 with
        # the promised parquet silently absent
        print("--register with --out requires --sql", file=sys.stderr)
        return 2
    spark = get_spark(app_name=f"query-{args.name}", master=args.master)
    df = qs[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
        return 0
    if args.register:
        # one documented spark.sql path over the whole surface (round-10
        # verdict #8): the query's OUTPUT becomes a temp view named after
        # it, beside the base fixture tables — so SQL users compose over
        # served results (the promoted index, a dedup disposition)
        # without knowing the Python API
        from .sources.io import register_views

        register_views(spark, args.sf_dir)
        df.createOrReplaceTempView(args.name)
        if args.sql:
            res = spark.sql(args.sql)
            if args.out:
                res.write.mode("overwrite").parquet(args.out)
            else:
                res.show(args.limit, truncate=False)
        else:
            print(
                f"registered temp view {args.name!r} plus the base tables"
                " — pass --sql to query them in this process"
            )
        return 0
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
    else:
        df.show(args.limit, truncate=False)
    return 0


def _models_main(argv: list[str]) -> int:
    """``models ls|prune|drop`` — hygiene for the durable model store
    (`sources/model_store.py`). The store grows one dead directory per
    regenerated fixture or changed hyperparameter (stale hashes are
    never resolved again); this is the production cleanup loop the
    tests exercise but an operator needs at the command line.

    - ``ls``: one line per artifact — family, key hash, size, age days.
    - ``prune [--max-age-days D]``: reap artifacts older than D days.
    - ``drop <family> [...]``: delete whole model families (the bench
      cold-path clear, manually).
    - ``compact --sf-dir D [--days N]``: merge the promoted TF-IDF
      index chain's postings segments into one clean bucketed table and
      prune the superseded per-day chain artifacts; the shared base
      index stays (siblings serve it) — ``operators.tfidf.compact_index``.
    - ``verify [--root R]``: read-only integrity audit of ANY durable
      root — the layout is detected from the root itself
      (``sources.versioned.audit``). A model-store root reports each
      artifact's lifecycle state (live / torn / orphaned-by-crash /
      legacy / empty); a streamed-index root reports per-version live
      / retained (as-of readable) / partial / orphaned. Both list the
      exact reap candidates a ``reap`` would delete.
    - ``reap [--root R]``: delete what the audit proved unreachable
      (``sources.versioned.reap``) — never a live version, never
      orphaned-state evidence on a store root; on a streamed-index
      root this is offline GC via the SAME plan the in-stream sweep
      runs (run it on a stopped stream). ``--index-root`` remains as a
      deprecated alias for ``--root``.
    - ``refit --sf-dir D``: evaluate the ANN drift report and, on a
      REFIT verdict, bump the quantizer generation — re-keying the
      centroids/codebooks/code-table/disposition cascade
      (``operators.similarity.apply_refit_decision``).
    - ``promote --sf-dir D [--days N]``: run the daily index-promotion
      loop through day N — each day's fold written back as a new
      versioned index (``operators.tfidf.promoted_index``); idempotent,
      already-promoted days load from the store.

    Except for ``compact``/``refit``/``promote`` (which start a
    SparkSession), no SparkSession is started: the store root resolves
    from ``$SPARK_GRAFT_MODEL_DIR`` / ``--root`` (conf-based roots
    belong to a running session; export the env to address one here)."""
    import time

    from .sources.model_store import drop_models, prune_models, store_root

    p = argparse.ArgumentParser(
        prog="tf_idf_mapreduce_spark models",
        description="inspect / garbage-collect the durable model store",
    )
    p.add_argument(
        "action",
        choices=(
            "ls", "prune", "drop", "compact", "refit", "promote",
            "verify", "reap",
        ),
    )
    p.add_argument("families", nargs="*", help="model families (drop)")
    p.add_argument(
        "--sf-dir", default=os.environ.get(
            "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"
        ),
        help="data dir whose promoted index chain to compact",
    )
    p.add_argument(
        "--days", type=int, default=None,
        help="compact through this day (default: the full chain)",
    )
    p.add_argument(
        "--root", default=None,
        help="store root (default: $SPARK_GRAFT_MODEL_DIR, else ./spark-warehouse/_models)",
    )
    p.add_argument(
        "--max-age-days", type=float, default=30.0,
        help="prune artifacts whose newest file is older than this (default 30)",
    )
    p.add_argument(
        "--index-root", default=None,
        help=(
            "DEPRECATED alias for --root: verify/reap detect the "
            "layout (model store vs streamed-index root) from the "
            "root's own contents"
        ),
    )
    args = p.parse_args(argv[1:])
    if args.root is not None:
        os.environ["SPARK_GRAFT_MODEL_DIR"] = args.root
    root = store_root()

    if args.action == "ls":
        from .sources import fs
        from .sources.model_store import _artifact_dirs, store_files

        try:
            if root is None or not fs.exists(root):
                print(f"(empty store: {root})")
                return 0
            now = time.time()
            n = 0
            for fam, h, d in _artifact_dirs(root):
                files = list(store_files(d))
                size = sum(z for _, _, z in files)
                newest = max((m for _, m, _ in files), default=0)
                age = (now - newest) / 86400 if newest else float("inf")
                print(f"{fam}\t{h}\t{size}\t{age:.1f}d")
                n += 1
        except Exception as exc:  # noqa: BLE001 — CLI boundary, as verify
            print(str(exc) or type(exc).__name__, file=sys.stderr)
            return 2
        print(f"({n} artifacts under {root})")
        return 0
    if args.action == "compact":
        from .operators.tfidf import CHAIN_DAYS, compact_index
        from .session import get_spark

        spark = get_spark(app_name="models-compact")
        spark.sparkContext.setLogLevel("ERROR")
        days = args.days if args.days is not None else CHAIN_DAYS
        summary = compact_index(
            spark, args.sf_dir, upto_day=days, prune=True
        )
        print(
            f"compacted through day {summary['compacted_through_day']}: "
            f"{summary['segments_before']} segments -> 1, "
            f"files {summary['files_before']} -> {summary['files_after']}, "
            f"{summary['ancestors_pruned']} ancestor artifact(s) pruned"
        )
        return 0
    if args.action == "promote":
        from .operators.tfidf import CHAIN_DAYS, promoted_index
        from .session import get_spark

        spark = get_spark(app_name="models-promote")
        spark.sparkContext.setLogLevel("ERROR")
        days = args.days if args.days is not None else CHAIN_DAYS
        segments, _dfx, _n, origin = promoted_index(spark, args.sf_dir, days)
        print(
            f"promoted through day {days}: {len(segments)} postings "
            f"segment(s) live, origin {origin}"
        )
        return 0
    if args.action == "refit":
        from .operators.similarity import apply_refit_decision
        from .session import get_spark

        spark = get_spark(app_name="models-refit")
        spark.sparkContext.setLogLevel("ERROR")
        s = apply_refit_decision(spark, args.sf_dir)
        if s["refit"]:
            print(
                f"REFIT: generation {s['old_generation']} -> "
                f"{s['new_generation']}; re-keyed: "
                f"{', '.join(s['rekeyed_dependents'])}"
            )
        else:
            print(
                f"KEEP: no drifted cells past threshold (generation stays "
                f"{s['old_generation']})"
            )
        return 0
    if args.action in ("verify", "reap"):
        # ONE code path for both durable-state layouts (round-11
        # verdict #3): the kind is detected from the root itself —
        # --index-root remains as a deprecated alias for --root
        from .sources import versioned

        target = args.index_root if args.index_root is not None else root
        kind = "index" if args.index_root is not None else None
        try:
            rep = (
                versioned.audit(target, kind=kind)
                if args.action == "verify"
                else versioned.reap(target, kind=kind)
            )
        except Exception as exc:  # noqa: BLE001 — CLI boundary: an
            # unreachable/unsupported root (remote store audit, dead
            # namenode, missing s3a jars) reports and exits 2, never
            # a traceback
            print(str(exc) or type(exc).__name__, file=sys.stderr)
            return 2
        if args.action == "reap":
            for p_ in rep["reaped"]:
                print(f"reaped\t{p_}")
            if rep["kind"] == "index":
                print(
                    f"index {target} ({rep['mode']}): "
                    f"{len(rep['before'])} -> {len(rep['after'])} version "
                    f"dirs, {len(rep['reaped'])} reaped"
                )
            elif rep["kind"] == "index-shards":
                print(
                    f"sharded index {target}: {len(rep['shards'])} "
                    f"shard root(s), {len(rep['reaped'])} reaped"
                )
            else:
                print(
                    f"reaped {len(rep['reaped'])} unreachable "
                    f"file(s)/version(s) under {target}"
                )
            return 0
        if rep["kind"] == "index-shards":
            for name, srep in rep["shards"].items():
                c = srep["counts"]
                print(
                    f"shard {name}: newest v{srep['newest']}, "
                    f"{c['live']} live, {c['retained']} retained, "
                    f"{c['partial']} partial, "
                    f"{len(srep['orphans'])} orphaned"
                )
            for p_ in rep["reap_candidates"]:
                print(f"REAPABLE\t{p_}")
            print(
                f"sharded index {rep['root']}: {len(rep['shards'])} "
                f"shard root(s); "
                f"{len(rep['reap_candidates'])} reap candidate(s)"
            )
            return 0
        if rep["kind"] == "index":
            for v, meta in rep["versions"].items():
                if meta["state"] != "live":
                    print(
                        f"{meta['state'].upper()}\tv{v}\t"
                        f"present={','.join(meta['present']) or '-'}"
                        + ("\tbase" if meta["base"] else "")
                    )
            for v in rep["orphans"]:
                print(f"ORPHANED\tv{v} (no manifest entry — reap-safe)")
            for p_ in rep["reap_candidates"]:
                print(f"REAPABLE\t{p_}")
            c = rep["counts"]
            print(
                f"index {rep['root']}: newest v{rep['newest']}, "
                f"{c['live']} live, {c['retained']} retained (as-of "
                f"readable), {c['partial']} partial, "
                f"{len(rep['orphans'])} orphaned; "
                f"{len(rep['reap_candidates'])} reap candidate(s)"
            )
            return 0
        c = rep["counts"]
        for a in rep["artifacts"]:
            if a["state"] != "live":
                print(
                    f"{a['state'].upper()}\t{a['family']}\t{a['key_hash']}"
                    + (
                        f"\t({a['n_staged_unreachable']} staged)"
                        if a["n_staged_unreachable"]
                        else ""
                    )
                )
        for p_ in rep["reap_candidates"]:
            print(f"REAPABLE\t{p_}")
        print(
            f"{sum(c.values())} artifact(s) under {rep['root']}: "
            f"{c['live']} live, {c['legacy']} legacy, {c['torn']} torn, "
            f"{c['orphaned']} orphaned, {c['empty']} empty; "
            f"{len(rep['reap_candidates'])} reap candidate(s)"
        )
        return 0
    if args.action == "prune":
        removed = prune_models(max_age_days=args.max_age_days)
        print(f"pruned {removed} artifact(s) older than {args.max_age_days}d from {root}")
        return 0
    # drop
    if not args.families:
        print("drop requires at least one model family name", file=sys.stderr)
        return 2
    for fam in args.families:
        drop_models(fam)
        print(f"dropped {fam}")
    return 0


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    if argv and argv[0] in STAGES:
        return _stage_main(argv)
    if argv and argv[0] == "query":
        return _query_main(argv)
    if argv and argv[0] == "models":
        return _models_main(argv)

    p = argparse.ArgumentParser(
        prog="tf_idf_mapreduce_spark",
        description=(
            "TF-IDF over a directory of text documents (Spark-native); "
            f"per-stage jobs: {', '.join(STAGES)}; "
            "'query <name>' runs any registered analytics query; "
            "'models ls|prune|drop' manages the durable model store"
        ),
    )
    p.add_argument("input", help="directory of text files (one doc per file)")
    p.add_argument("output", help="output directory (word|doc TAB tfidf lines)")
    p.add_argument(
        "--total-docs",
        type=int,
        default=None,
        help="override the corpus size (default: input directory entry count)",
    )
    p.add_argument("--force", action="store_true", help="overwrite existing output")
    p.add_argument("--master", default=None, help="Spark master (default local[N])")
    args = p.parse_args(argv)

    if not _check_out(args.output, args.force):
        return 1

    total_docs = (
        args.total_docs
        if args.total_docs is not None
        else len(os.listdir(args.input))
    )

    spark = get_spark(app_name="tfidf-cli", master=args.master)
    lines = read_text_corpus(spark, args.input)
    scored = tfidf_pipeline(lines, total_docs=total_docs)
    write_kv_text(
        tfidf_sorted(scored),
        os.path.join(args.output, "SortedTFIDF"),
        ["word", "doc"],
        "tfidf",
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
