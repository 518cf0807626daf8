"""SparkSession factory tuned for the engine.

The reference runs 4 sequential Hadoop MR jobs with HDFS materialization
between them (TfidfMapReduce.java:63-97). Here the whole engine is one lazy
Catalyst plan per query; the session is configured so the physical plans it
produces would survive a 1000-executor / 100 TB deployment:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces the
  reference's fixed one-reducer sort (SortByValue.java:111-126) with
  range-partitioned, sampled, adaptively-sized sorts.
- Arrow enabled so the (rare) pandas-UDF escape hatches batch via Arrow.
- Shuffle partitions sized from the env (local[32] test box defaults to 32;
  a real cluster sets spark.sql.shuffle.partitions≈2-3× total cores or relies
  on AQE's initialPartitionNum). The persisted TF-IDF index's bucket count
  follows spark.sql.shuffle.partitions (``operators.tfidf._index_store_key``).
- Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Configs applied to every session the engine creates. Each one is safe on a
#: real multi-node cluster, not just local mode.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # small dims (region/nation/customer at low SF) broadcast instead of shuffling
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # keep scan partitions at a size that fits executor memory at high SF
    "spark.sql.files.maxPartitionBytes": "128MB",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # deterministic double formatting/parsing across engines
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # a parquet TIMESTAMP(NANOS) column (older events fixtures wrote ``ts``
    # that way; the current ones are micros) reads as raw nanosecond longs
    # instead of failing the scan
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "tf-idf-mapreduce-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's scale-oriented conf."""
    cpus = default_parallelism()
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = dict(ENGINE_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # Python WORKERS deserialize pandas-UDF closures that reference this
    # package; a driver launched outside the repo (sys.path tweak only)
    # would hit ModuleNotFoundError worker-side, because workers inherit
    # PYTHONPATH — not the driver's sys.path. Pin the repo root into the
    # worker env (on a real cluster the equivalent is shipping the package
    # via --py-files / a conda env).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root in existing.split(os.pathsep):
        worker_pythonpath = existing
    else:
        worker_pythonpath = (
            f"{pkg_root}{os.pathsep}{existing}" if existing else pkg_root
        )
    # set only the WORKER env — never write os.environ back (a process-global
    # mutation would leak into every subprocess the caller spawns later)
    conf["spark.executorEnv.PYTHONPATH"] = worker_pythonpath
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
