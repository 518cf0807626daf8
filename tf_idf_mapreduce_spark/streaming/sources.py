"""Streaming sources over parquet directories.

A parquet directory is Structured Streaming's canonical file source: files
that appear in the directory become micro-batches. The fixtures are single
files, so a run ingests one batch — the plumbing (schema pinning, glob
filter, event-time normalization) is exactly what a continuously-fed
directory would use at scale; ``maxFilesPerTrigger`` bounds batch size when
the directory grows. Every stream in the engine is read through
``stream_parquet``.

Scale posture: the file source lists the directory each trigger — at 100 TB
feed rates, partition the landing directory by arrival time and point the
stream at the current partition, or use a notification-based source; the
query graph below is unchanged either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..sources.io import ensure_worker_imports, normalize_events


def stream_parquet(
    spark: SparkSession,
    directory: str,
    schema: StructType,
    glob: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """A file stream over the files of ``directory`` matching ``glob`` (file
    streams require an explicit schema). ``max_files_per_trigger=1``
    drains a landing directory one file per micro-batch, oldest first."""
    ensure_worker_imports(spark)
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(directory)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming events with the same ts_ns/ts_sec/ts normalization as the
    batch loader (sources.io.load_events) — one code path, two execution
    modes."""
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    return normalize_events(
        stream_parquet(spark, sf_dir, schema, "events.parquet")
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    return stream_parquet(spark, sf_dir, schema, "documents.parquet")
