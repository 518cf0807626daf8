"""Run a finite streaming query to completion: the one start path.

``trigger(availableNow=True)`` processes everything currently in the source
as micro-batches and then stops — the standard pattern for batch-over-
streaming-graph execution (and for draining a backlog at scale). Every
drain in the engine goes through ``_run``: ``run_to_memory`` hands the
result back through a memory sink, ``run_foreach_batch`` hands each
micro-batch to a function.

State width: every drain starts at ``STREAM_STATE_PARTITIONS`` shuffle
partitions, whatever the caller's session uses. The width is set on the
caller's session only while ``start()`` runs, under one lock, and is
restored as soon as ``start()`` returns. That is enough because
``start()`` constructs the query's ``StreamExecution``, which copies the
session (``cloneSession()``) into the session it runs every micro-batch
in; the stateful checkpoint and each foreachBatch batch's
``sparkSession`` read the width from that copy. The drain itself never
changes the caller's conf, so concurrent drains on one session need no
coordination beyond the lock, and the query stays on the caller's
``spark.streams``, where its listeners see it.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile
import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

_SEQ = itertools.count()
_START_LOCK = threading.Lock()

#: State partition count every drain starts with, and so the count stamped
#: into each run's checkpoint at its first micro-batch. Stateful operators
#: create one state-store directory per shuffle partition per trigger — at
#: fixture scale that file overhead dominates (measured 3.2s → 1.7s per
#: run going 32 → 4, and another ~40% off a 4-trigger drain going 4 → 2;
#: 1 loses Arrow-kernel parallelism in applyInPandasWithState and
#: regresses). It applies to memory and foreachBatch drains alike, and
#: only inside the query: ``_run`` sets it for the duration of
#: ``start()``. At real feed rates size this to state volume instead
#: (state partitions are fixed for a checkpoint's lifetime, so pick for
#: the target scale up front).
STREAM_STATE_PARTITIONS = 2

#: Seconds a drain may run before ``_run`` stops it and raises.
_DRAIN_TIMEOUT_SEC = 300


def _run(
    spark: SparkSession,
    writer: DataStreamWriter,
    name: str,
    timeout_sec: int = _DRAIN_TIMEOUT_SEC,
) -> None:
    """Start ``writer`` as an ``availableNow`` drain at the state width,
    wait for it, and stop it on every exit path. The checkpoint is only
    needed while the query runs — it is removed afterwards so repeated
    bench/oracle runs don't accumulate orphaned temp dirs."""
    ckpt = tempfile.mkdtemp(prefix=f"spark_ckpt_{name}_")
    try:
        writer = writer.trigger(availableNow=True).option(
            "checkpointLocation", ckpt
        )
        with _START_LOCK:
            saved = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set(
                "spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS)
            )
            try:
                query = writer.start()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", saved)
        try:
            if not query.awaitTermination(timeout_sec):
                raise TimeoutError(
                    f"streaming query {name} still running after {timeout_sec}s"
                )
        finally:
            query.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_to_memory(
    sdf: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_sec: int = _DRAIN_TIMEOUT_SEC,
) -> DataFrame:
    """Execute a streaming DataFrame to a memory sink; return the result as
    a batch DataFrame. ``name`` is suffixed with a sequence number so
    repeated runs in one session never collide."""
    table = f"{name}_{next(_SEQ)}"
    spark = sdf.sparkSession
    try:
        _run(
            spark,
            sdf.writeStream.format("memory")
            .queryName(table)
            .outputMode(output_mode),
            table,
            timeout_sec,
        )
        # copy the sink's rows into block storage: a long session (the
        # full-surface bench) otherwise accumulates one live MemorySink
        # per streaming run, and that creep shows up as per-query
        # slowdown late in the bench. The returned DF is backed by its
        # own checkpointed RDD, independent of the dropped view.
        return spark.table(table).localCheckpoint(eager=True)
    finally:
        # drop the sink's temp view on EVERY exit path — a timed-out or
        # failed drain must not leave its MemorySink (and buffered rows)
        # registered for the session's lifetime
        try:
            spark.catalog.dropTempView(table)
        except Exception:
            pass


def run_foreach_batch(
    sdf: DataFrame, fn: Callable[[DataFrame, int], None], name: str
) -> None:
    """Drain a streaming DataFrame through ``foreachBatch(fn)``: ``fn``
    gets each micro-batch and its stable batch id, and owns whatever
    sink it writes."""
    _run(sdf.sparkSession, sdf.writeStream.foreachBatch(fn), name)
