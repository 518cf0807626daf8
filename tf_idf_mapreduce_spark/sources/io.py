"""Sources and sinks (SURVEY.md §2.1, S1-S6).

The reference's only source is a directory of plain-text files read
line-by-line with the doc id taken from the file name (WordCount.java:89,
TextInputFormat via WordCount.java:156); its only sink is TAB-separated
``key TAB value`` text (TextOutputFormat, WordCount.java:157 etc.).

Spark-first mapping:

- S1 text-line scan      → ``spark.read.text(dir)`` (splittable, columnar batch)
- S2 doc-id attach       → ``input_file_name()`` + basename, one expression
- S4 KV re-scan          → unnecessary: stages pipeline in memory; provided
                           anyway for reading reference-format output
- S5 KV text sink        → ``concat_ws('\\t', ...)`` + ``write.text`` (kept only
                           for byte-compat runs; parquet is the real sink)
- S6 overwrite           → ``mode("overwrite")`` (no interactive confirm —
                           that is a CLI artifact, TfidfMapReduce.java:55-60)

Plus loaders for the driver's parquet fixture tables (TESTDATA.md).
"""

from __future__ import annotations

import os
import threading
from concurrent.futures import Future

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

#: The fixture star schema + text/embedding/event tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: Sessions (by application id) that already received the package zip.
_PYFILES_SENT: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    """Ship this package to the Python WORKERS of ``spark`` via
    ``addPyFile`` (idempotent per session).

    Module-level pandas-UDF/applyInPandas functions cloudpickle BY
    REFERENCE — the worker must import ``tf_idf_mapreduce_spark``. Our
    own session factory pins PYTHONPATH, but an externally created
    SparkSession (a host harness passing its own ``spark``) has no such
    conf, and executor env cannot change after launch. ``addPyFile``
    works at runtime on any session and lands on every worker's
    ``sys.path`` — the same mechanism as ``spark-submit --py-files`` on
    a real cluster."""
    app_id = spark.sparkContext.applicationId
    if app_id in _PYFILES_SENT:
        return
    import atexit
    import tempfile
    import zipfile

    pkg_path = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    repo_root = os.path.dirname(pkg_path)
    fd, zpath = tempfile.mkstemp(prefix="spark_graft_pyfiles_", suffix=".zip")
    os.close(fd)
    with zipfile.ZipFile(zpath, "w") as z:
        for root, _dirs, files in os.walk(pkg_path):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo_root))
    spark.sparkContext.addPyFile(zpath)
    atexit.register(lambda: os.path.exists(zpath) and os.remove(zpath))
    _PYFILES_SENT.add(app_id)


#: The package's one process-lifetime memo: every value a query derives
#: once and reuses across queries lives here — table relations and the
#: TF-IDF core (plans, ``load_table`` / ``corpus_core``), fitted models
#: (IVF centroids, PQ codebooks, PCA components, BPE merges, QC weights)
#: and checkpointed session relations (SemDeDup disposition, arrival
#: screens, candidate overlap, pHash pairs, docsim). One rule holds for
#: every entry:
#:
#: - WHAT: a plan entry is an unexecuted DataFrame, so every action still
#:   reads parquet (``spark.read.parquet`` re-lists the directory and
#:   re-reads a footer on every call, ~0.1 s of planning that the table
#:   entry absorbs); a model entry is driver-tiny state; a session
#:   relation is ``localCheckpoint``-ed executor blocks, never rows.
#: - KEY: (applicationId, ``name``, ``sf_dir``, ``version``). ``name`` is
#:   the model-store family where one exists (so ``caches.clear(family)``
#:   empties both layers of it); ``version`` carries everything else —
#:   data fingerprints, hyperparameters, quantizer generation and, where
#:   the value depends on them, ``plan_confs``.
#: - EVICT: an insert drops every entry of another application (a
#:   stopped context's plans and checkpoint blocks are dead weight) and
#:   every older version of the same (``name``, ``sf_dir``) — one live
#:   entry per relation, the newest wins.
#: - LOCK: ``_MEMO_LOCK`` guards the dict only and is never held across
#:   ``build()`` (a Spark job): two threads memoing different keys run
#:   concurrently (``pq_code_table`` overlaps its two quantizer fits).
#:   A key's entry is a Future from the moment its build starts, so a
#:   concurrent caller of the same key waits for that one build.
_MEMO_CACHE: dict[tuple, Future] = {}

_MEMO_LOCK = threading.Lock()


def memo(spark: SparkSession, sf_dir: str, name, version, build):
    """``build()``'s result, computed once per (application, ``name``,
    ``sf_dir``, ``version``) and returned to every later call."""
    app = spark.sparkContext.applicationId
    key = (app, name, sf_dir, version)
    with _MEMO_LOCK:
        entry = _MEMO_CACHE.get(key)
        owner = entry is None
        if owner:
            entry = _MEMO_CACHE[key] = Future()
    if not owner:
        return entry.result()
    try:
        entry.set_result(build())
    except BaseException as exc:
        with _MEMO_LOCK:
            if _MEMO_CACHE.get(key) is entry:
                del _MEMO_CACHE[key]
        entry.set_exception(exc)
        raise
    with _MEMO_LOCK:
        for k in [
            k for k in _MEMO_CACHE
            if k != key and (k[0] != app or k[1:3] == key[1:3])
        ]:
            del _MEMO_CACHE[k]
    return entry.result()


def forget(*names) -> None:
    """Drop every memo entry whose ``name`` is one of ``names``."""
    with _MEMO_LOCK:
        for k in [k for k in _MEMO_CACHE if k[1] in names]:
            del _MEMO_CACHE[k]


def plan_confs(spark: SparkSession) -> tuple[str, str]:
    """(shuffle width, AQE flag): the two session confs a memo version or
    durable store key carries when its value depends on the plan shape.
    The one place those keys read them."""
    return (
        spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.adaptive.enabled"),
    )


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ignore_corrupt_files: bool = False,
) -> DataFrame:
    """Columnar parquet scan; Catalyst pushes filters/projections into it.

    Corruption contract (documented, tested in ``tests/test_io.py``):
    FAIL-FAST by default — a file with a broken footer/magic raises at
    action time rather than silently dropping rows, because at 100 TB a
    quietly-skipped shard is worse than a retried job. Pass
    ``ignore_corrupt_files=True`` to opt into best-effort reads (sets
    the per-reader ``ignoreCorruptFiles`` option, NOT the session-wide
    conf, so one lenient scan can't relax every other query's
    guarantee); the contract then matches ``read_jsonl_corpus``'s
    PERMISSIVE mode: damage is visible (missing files' rows) but not
    fatal.
    """
    ensure_worker_imports(spark)

    def read() -> DataFrame:
        reader = spark.read
        if ignore_corrupt_files:
            reader = reader.option("ignoreCorruptFiles", "true")
        return reader.parquet(f"{sf_dir}/{name}.parquet")

    return memo(
        spark,
        sf_dir,
        (name, ignore_corrupt_files),
        table_fingerprint(sf_dir, name),
        read,
    )


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql queries.

    ``events`` goes through the NANOS-normalizing loader (the raw parquet
    type is rejected by the vectorized reader) — SQL users see the derived
    ts_ns/ts_sec/ts columns.

    Always (re-)registers — a caller that dropped or overrode a view
    (the Q17 threshold test does both) gets the fixture views back, the
    pre-memo semantics. The catalog writes are ~8 ms per view; the
    former ~0.7 s per call was the ten reader resolutions, which the
    package memo now absorbs.
    """
    for name in TABLES:
        df = (
            load_events(spark, sf_dir)
            if name == "events"
            else load_table(spark, sf_dir, name)
        )
        df.createOrReplaceTempView(name)


def normalize_events(raw: DataFrame) -> DataFrame:
    """Normalize the events table's NANOS timestamp (batch or streaming DF).

    Derives: ``ts_ns`` (exact ordering key), ``ts_sec`` (exact integer epoch
    seconds via integer division — double division would lose precision past
    2^53), and ``ts`` (a second-precision timestamp for humans/windows).
    """
    if isinstance(raw.schema["ts"].dataType, LongType):
        return (
            raw.withColumnRenamed("ts", "ts_ns")
            .withColumn("ts_sec", F.expr("ts_ns div 1000000000"))
            .withColumn("ts", F.timestamp_seconds(F.col("ts_sec")))
        )
    # micros-typed fixture (TIMESTAMP or TIMESTAMP_NTZ). Cast to the
    # session-TZ timestamp (session tz is pinned UTC, so the instant is
    # unchanged) — event-time ops (watermarks) reject NTZ. ts_ns must be
    # exact (unix_micros, not floor-to-second) because oracles order by
    # epoch_ns(ts) and the fixtures carry sub-second precision.
    ts_cast = F.col("ts").cast("timestamp")
    return (
        raw.withColumn("ts", ts_cast)
        .withColumn("ts_ns", F.unix_micros(ts_cast) * F.lit(1_000))
        .withColumn("ts_sec", F.expr("ts_ns div 1000000000"))
    )


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table, normalizing its timestamp.

    Micros fixtures (the current ones) read on any session. A fixture
    ``ts`` of parquet TIMESTAMP(NANOS) is one Spark's reader rejects
    outright (PARQUET_TYPE_ILLEGAL) unless
    ``spark.sql.legacy.parquet.nanosAsLong`` reads it as raw nanosecond
    longs. ``session.ENGINE_CONF`` sets that on every session
    ``get_spark`` builds, and this function no longer sets it: a NANOS
    fixture is not supported on a session built anywhere else (a host
    harness's own session, say) unless its builder sets the flag.
    ``normalize_events`` derives ts_ns / ts_sec / ts from either shape.
    """
    return normalize_events(load_table(spark, sf_dir, "events"))


def read_text_corpus(spark: SparkSession, path: str) -> DataFrame:
    """Reference-shaped corpus scan: one row per line, doc = file basename.

    Matches S1+S2: TextInputFormat line scan (WordCount.java:90) and
    ``((FileSplit) ...).getPath().getName()`` doc identity (WordCount.java:89).
    Returns ``(doc string, text string)``.

    Corruption contract (tested): there is no "malformed line" for a
    text scan — every byte sequence is a line — but invalid UTF-8 is
    REPLACED (U+FFFD), never fatal and never silently dropped: the row
    survives with its damage visible, the same
    damage-visible-not-fatal posture as ``read_jsonl_corpus``.
    """
    return spark.read.text(path).select(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("doc"),
        F.col("value").alias("text"),
    )


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    doc_field: str = "doc_id",
    text_field: str = "text",
) -> DataFrame:
    """Corpus scan over JSON-lines files — the interchange format most
    web-scale text dumps actually arrive in (one JSON object per line).

    An EXPLICIT two-field schema is passed to the reader, never inferred:
    schema inference costs a full extra pass over 100 TB before the real
    scan, and a heterogeneous dump can silently widen a field's type
    between runs. Unparseable lines surface as null-doc rows
    (PERMISSIVE) rather than killing the job — filter or count them as a
    quality gate. Extra fields per line are simply never read (column
    pruning at the JSON parser level).

    Returns the same ``(doc string, text string)`` shape as
    ``read_text_corpus``, so everything downstream of S1/S2 runs
    unchanged on a JSONL landing directory.
    """
    from pyspark.sql.types import StringType, StructField as SF_, StructType as ST_

    schema = ST_([SF_(doc_field, StringType()), SF_(text_field, StringType())])
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .json(path)
        .select(
            F.col(doc_field).alias("doc"),
            F.coalesce(F.col(text_field), F.lit("")).alias("text"),
        )
    )


def write_jsonl(df: DataFrame, path: str, codec: str | None = None) -> None:
    """JSON-lines sink — the other half of the JSONL interchange path
    (``read_jsonl_corpus`` is the scan): one JSON object per row, the
    format web-scale text dumps are exchanged in. ``codec`` (e.g.
    ``"gzip"``, ``"zstd"`` where the cluster has it) compresses each
    part file; readers decompress transparently from the extension.
    Overwrite semantics, like every sink here (S6)."""
    w = df.write.mode("overwrite")
    if codec:
        w = w.option("compression", codec)
    w.json(path)


def documents_as_corpus(documents: DataFrame) -> DataFrame:
    """Adapt the fixture ``documents`` table to the corpus shape (doc, text).

    The reference's doc identity is the file name; the fixture's is
    ``doc_id`` (FIXTURES.md §1) — cast to string to play the same role.
    """
    return documents.select(
        F.col("doc_id").cast("string").alias("doc"), F.col("text")
    )


def write_partitioned(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Hive-style partitioned parquet sink. At scale, partition columns are
    the coarse pruning axis (date, tenant, language): a reader filtering on
    them scans only matching directories (PartitionFilters in the plan),
    which is the difference between a 100 TB scan and a 100 GB one."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int
) -> None:
    """Bucketed managed table: rows are hash-distributed into fixed buckets
    on disk, so two tables bucketed the same way join WITHOUT a shuffle —
    the exchange that dominates large equi-joins simply disappears from the
    plan. (Requires a session catalog; buckets survive across jobs, unlike
    a transient repartition.)"""
    df.write.mode("overwrite").bucketBy(n_buckets, bucket_col).sortBy(
        bucket_col
    ).saveAsTable(table)


def write_kv_text(
    df: DataFrame,
    path: str,
    key_cols: list[str],
    value_col: str,
    key_sep: str = "|",
) -> None:
    """Reference-format sink: ``key1|key2 TAB value`` per line (S5).

    Packed strings are an MR artifact (WordCount.java:97); the engine keeps
    real columns everywhere and only packs at this final sink for
    byte-compatibility with the reference's output files.
    """
    line = F.concat_ws(
        "\t", F.concat_ws(key_sep, *[F.col(c) for c in key_cols]), F.col(value_col)
    )
    df.select(line.alias("value")).write.mode("overwrite").text(path)


def read_kv_text(spark: SparkSession, path: str) -> DataFrame:
    """S4: re-read reference-format output, splitting at the first TAB.

    (KeyValueTextInputFormat semantics, CountTF.java:126.) Rarely needed —
    Spark pipelines stages in memory — but closes the loop for mixed
    reference/engine deployments.
    """
    value = F.col("value")
    tab = F.instr(value, "\t")
    return spark.read.text(path).select(
        F.when(tab > 0, F.substring_index(value, "\t", 1)).otherwise(value).alias("key"),
        F.when(tab > 0, F.expr("substring(value, instr(value, '\t') + 1)"))
        .otherwise(F.lit(""))
        .alias("val"),
    )



def write_csv(df: DataFrame, path: str) -> None:
    """CSV sink with header, RFC-4180 quoting, and explicit escape —
    the interchange format for anything downstream that isn't Spark.
    Timestamps serialize as ISO-8601; floats round-trip via Spark's
    canonical repr. Overwrite semantics match the parquet sinks (S6)."""
    df.write.mode("overwrite").option("header", True).option(
        "escape", '"'
    ).csv(path)


def read_csv(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """CSV source with a REQUIRED explicit schema (inference is a full
    extra pass at 100 TB and type-unstable across files) and PERMISSIVE
    corrupt-row handling: malformed rows surface as nulls in a
    ``_corrupt_record`` column — damage visible, job never aborted (the
    reader-contract convention every binary codec here follows).

    ``multiLine`` is on so quoted embedded newlines round-trip — the
    honest cost: multiline CSV files are NOT line-splittable, so each
    FILE becomes the parallelism unit (at 100 TB, write many files —
    the sink above does — or keep newlines out of the data and flip
    this off to regain intra-file splits)."""
    return (
        spark.read.option("header", True)
        .option("escape", '"')
        .option("multiLine", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(schema + ", _corrupt_record string")
        .csv(path)
    )


def table_fingerprint(sf_dir: str, table: str) -> tuple:
    """Cheap data fingerprint for process-lifetime model caches:
    (path, mtime_ns, size) of every file under the table's parquet path.
    A regenerated fixture at the same path (e.g. an in-process test
    rebuild) changes the fingerprint and invalidates cached model state
    instead of silently reusing stale fits. Pure os.stat — no Spark job."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    stats = []
    if os.path.isfile(path):
        st = os.stat(path)
        stats.append((path, st.st_mtime_ns, st.st_size))
    elif os.path.isdir(path):
        # sort _dirs in-place: os.walk yields subdirectories in
        # filesystem order, so without this the tuple ordering (hence
        # cache hits) depends on inode layout; sorting stats at the end
        # makes equal trees fingerprint equal regardless of walk order
        for root, _dirs, files in os.walk(path):
            _dirs.sort()
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                stats.append((p, st.st_mtime_ns, st.st_size))
    return tuple(sorted(stats))
