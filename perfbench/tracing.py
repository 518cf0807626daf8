"""Layer tracing for the benchmark's traced runs, read from outside the engine.

Two sources feed it:

- timing wrappers that this module puts around public engine functions
  (``load_table``, ``register_views``, ``run_to_memory``, the model
  store's ``load_or_*`` calls and the ``MODEL_CACHED_QUERIES`` clears);
- Spark's own instruments: job tags and the status store behind the UI
  REST API (jobs, stages, SQL executions), each action's
  ``QueryExecution.tracker()`` phases through a ``QueryExecutionListener``,
  and stream progress through a ``StreamingQueryListener``.

Spans form the chain run -> pass -> query -> {build, action}, with the
wrapper spans and stream batches below them. Every span of one query
carries that query's id. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import re
import sys
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

#: (module, function, span name) for the plain timing wrappers.
WRAPPED = (
    ("tf_idf_mapreduce_spark.sources.io", "load_table", "io.load_table"),
    ("tf_idf_mapreduce_spark.sources.io", "register_views", "io.register_views"),
    ("tf_idf_mapreduce_spark.streaming.runner", "run_to_memory", "stream.drain"),
)
STORE_MODULE = "tf_idf_mapreduce_spark.sources.model_store"
STORE_CALLS = ("load_or_fit_pdf", "load_or_compute_table", "load_or_compute_bucketed_table")
TAG_PREFIX = "perfbench-q"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    query: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """In-memory span store. Records only while ``enabled`` is set."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self.query: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        # perf_counter() + offset = wall-clock seconds
        self.wall_offset = time.time() - time.perf_counter()

    def new_id(self) -> int:
        return next(self._ids)

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self.new_id()
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            self.add(Span(sid, parent, name, start, end, self.query, attrs))


def _timed(rec: Recorder, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with rec.span(name):
            return fn(*args, **kwargs)

    return wrapper


def _store_timed(rec: Recorder, fn):
    """Time a ``load_or_*`` call and record whether it had to compute."""
    sig = inspect.signature(fn)
    param = "fit" if "fit" in sig.parameters else "compute"

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not rec.enabled:
            return fn(*args, **kwargs)
        bound = sig.bind(*args, **kwargs)
        inner = bound.arguments[param]
        with rec.span("store.call", family=bound.arguments["name"], hit=True) as attrs:

            def counted(*a, **k):
                attrs["hit"] = False
                return inner(*a, **k)

            bound.arguments[param] = counted
            return fn(*bound.args, **bound.kwargs)

    return wrapper


def install(rec: Recorder) -> None:
    """Wrap the traced engine functions, then import ``__spark_entry__``.

    The defining modules are patched first; operators that bound a name
    at import time (``from ..sources.io import load_table``) are rebound
    by a sweep over the loaded engine modules afterwards.
    """
    import importlib

    swaps: dict[int, object] = {}
    for mod_name, attr, span_name in WRAPPED:
        mod = importlib.import_module(mod_name)
        orig = getattr(mod, attr)
        swaps[id(orig)] = _timed(rec, span_name, orig)
        setattr(mod, attr, swaps[id(orig)])
    store = importlib.import_module(STORE_MODULE)
    for attr in STORE_CALLS:
        orig = getattr(store, attr)
        swaps[id(orig)] = _store_timed(rec, orig)
        setattr(store, attr, swaps[id(orig)])
    importlib.import_module("__spark_entry__")
    for name, mod in list(sys.modules.items()):
        if not (name == "__spark_entry__" or name.startswith("tf_idf_mapreduce_spark")):
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in swaps and swaps[id(val)] is not val:
                setattr(mod, attr, swaps[id(val)])
    from tf_idf_mapreduce_spark.operators.caches import MODEL_CACHED_QUERIES

    for q, clear in list(MODEL_CACHED_QUERIES.items()):
        MODEL_CACHED_QUERIES[q] = _timed(rec, "caches.clear", clear)


# --------------------------------------------------------------------------
# Spark's own instruments
# --------------------------------------------------------------------------


def _wall(ts: str) -> float:
    """Spark REST / progress timestamps -> epoch seconds."""
    ts = ts.replace("GMT", "+00:00").replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}


def sql_metric_value(text: str) -> float:
    """Parse a SQL UI metric ('2.8 s', or 'total (min, ...)\\n2.1 s (...)')
    into seconds or bytes."""
    line = text.split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SparkProbe:
    """Listeners and REST reads on one live session."""

    def __init__(self, spark, rec: Recorder) -> None:
        from pyspark.java_gateway import ensure_callback_server_started
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.rec = rec
        self.phases: list[tuple[int | None, dict]] = []
        self.progress: list[tuple[int | None, dict]] = []
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        ensure_callback_server_started(sc._gateway)
        probe = self

        class PhaseListener:
            def onSuccess(self, func_name, qe, duration_ns):
                if probe.rec.enabled:
                    ph = qe.tracker().phases()
                    d = {}
                    for k in ("analysis", "optimization", "planning"):
                        o = ph.get(k)
                        d[k] = o.get().durationMs() if o.isDefined() else 0
                    probe.phases.append((probe.rec.query, d))

            def onFailure(self, func_name, qe, exception):
                pass

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        class ProgressListener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if probe.rec.enabled:
                    p = event.progress
                    probe.progress.append(
                        (
                            probe.rec.query,
                            {
                                "name": p.name,
                                "batch": p.batchId,
                                "rows": p.numInputRows,
                                "start": _wall(p.timestamp),
                                "ms": dict(p.durationMs),
                            },
                        )
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._phase_listener = PhaseListener()
        spark._jsparkSession.listenerManager().register(self._phase_listener)
        self._progress_listener = ProgressListener()
        spark.streams.addListener(self._progress_listener)

    def tag(self, qid: int) -> str:
        return f"{TAG_PREFIX}{qid}"

    def settle(self, timeout_ms: int = 30_000) -> None:
        """Wait until every listener event posted so far was delivered."""
        self._bus.waitUntilEmpty(timeout_ms)

    def rest(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as r:
            return json.load(r)


def query_of_job(job: dict, windows: list[tuple[int, float, float]]) -> int | None:
    """The query a job ran for: by its tag suffix, else by the query whose
    wall-clock window holds its submission (stream micro-batch jobs run on
    the stream's own thread, which carries no tag)."""
    for t in job.get("jobTags", []):
        m = re.search(rf"-{TAG_PREFIX}(\d+)$", t)
        if m:
            return int(m.group(1))
    sub = job.get("submissionTime")
    if sub:
        w = _wall(sub)
        for qid, lo, hi in windows:
            if lo <= w <= hi:
                return qid
    return None


def self_times(spans: list[Span]) -> dict[str, float]:
    """Sum of each span name's self time: its duration minus the part its
    children cover."""
    child = defaultdict(float)
    for s in spans:
        if s.parent is not None:
            child[s.parent] += s.dur
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.name] += max(0.0, s.dur - child[s.id])
    return dict(out)


def layer_metrics(
    rec: Recorder,
    probe: SparkProbe,
    traced_queries: set[int],
    windows: list[tuple[int, float, float]],
    n_passes: int,
    cpus: int,
) -> dict[str, float]:
    """Per-layer totals over the traced passes, divided by their number."""
    spans = [s for s in rec.spans if s.query in traced_queries]

    def total(name: str) -> float:
        return sum(s.dur for s in spans if s.name == name)

    def count(name: str) -> int:
        return sum(1 for s in spans if s.name == name)

    m: dict[str, float] = {}
    m["query.build_s"] = total("build")
    m["query.action_s"] = total("action")
    m["io.load_table_calls"] = count("io.load_table")
    m["io.load_table_s"] = total("io.load_table")
    m["io.register_views_calls"] = count("io.register_views")
    m["io.register_views_s"] = total("io.register_views")

    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = float(
            sum(d[k] for q, d in probe.phases if q in traced_queries)
        )
    # the analysis of the returned DataFrame itself ran eagerly in build,
    # outside any execution the listener sees
    m["catalyst.analysis_ms"] += sum(
        s.attrs.get("analysis_ms", 0) for s in spans if s.name == "build"
    )

    jobs = [j for j in probe.rest("jobs") if query_of_job(j, windows) in traced_queries]
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", [])}
    stages = [
        st
        for st in probe.rest("stages")
        if st["stageId"] in stage_ids and st["status"] in ("COMPLETE", "FAILED")
    ]
    job_ids = {j["jobId"] for j in jobs}
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = len(stages)
    m["exec.tasks"] = sum(st["numCompleteTasks"] + st["numFailedTasks"] for st in stages)
    m["exec.failed_tasks"] = sum(st["numFailedTasks"] for st in stages)
    m["exec.run_s"] = sum(st["executorRunTime"] for st in stages) / 1e3
    m["exec.cpu_s"] = sum(st["executorCpuTime"] for st in stages) / 1e9
    m["exec.gc_s"] = sum(st["jvmGcTime"] for st in stages) / 1e3
    mb = 1024.0**2
    m["exec.shuffle_read_mb"] = sum(st["shuffleReadBytes"] for st in stages) / mb
    m["exec.shuffle_write_mb"] = sum(st["shuffleWriteBytes"] for st in stages) / mb
    m["exec.spill_mb"] = (
        sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages) / mb
    )
    udf_s = 0.0
    for ex in probe.rest("sql?details=true&planDescription=false&length=100000"):
        ex_jobs = set(ex.get("successJobIds", [])) | set(ex.get("failedJobIds", []))
        if not ex_jobs & job_ids:
            continue
        for node in ex.get("nodes", []):
            for metric in node.get("metrics", []):
                if metric["name"] == "time to run Python workers":
                    udf_s += sql_metric_value(metric["value"])
    m["exec.python_udf_s"] = udf_s
    wall = m["query.build_s"] + m["query.action_s"]
    m["exec.core_busy_ratio"] = m["exec.run_s"] / (wall * cpus) if wall else 0.0

    progress = [p for q, p in probe.progress if q in traced_queries]
    trigger_s = sum(p["ms"].get("triggerExecution", 0) for p in progress) / 1e3
    m["stream.drain_s"] = total("stream.drain")
    m["stream.batches"] = len(progress)
    m["stream.input_rows"] = sum(p["rows"] for p in progress)
    for key, name in (
        ("addBatch", "add_batch"),
        ("walCommit", "wal_commit"),
        ("commitOffsets", "commit_offsets"),
        ("queryPlanning", "query_planning"),
        ("latestOffset", "latest_offset"),
    ):
        m[f"stream.{name}_ms"] = float(sum(p["ms"].get(key, 0) for p in progress))
    m["stream.sink_copy_s"] = max(0.0, m["stream.drain_s"] - trigger_s) if progress else 0.0

    store = [s for s in spans if s.name == "store.call"]
    hits = [s for s in store if s.attrs.get("hit")]
    m["store.calls"] = len(store)
    m["store.hits"] = len(hits)
    m["store.hit_ratio"] = len(hits) / len(store) if store else 0.0
    m["store.compute_s"] = sum(s.dur for s in store if not s.attrs.get("hit"))
    m["store.load_s"] = sum(s.dur for s in hits)
    m["caches.clear_s"] = total("caches.clear")

    per_pass = {k: v / n_passes for k, v in m.items()}
    # ratios are ratios of the totals, not sums over passes
    for k in ("store.hit_ratio", "exec.core_busy_ratio"):
        per_pass[k] = m[k]
    return per_pass


def close_run(rec: Recorder, probe: SparkProbe, start: float) -> list[Span]:
    """Every span of the run: the recorded ones under one ``run`` root,
    plus the stream micro-batches under the drain span that ran them."""
    root = Span(rec.new_id(), None, "run", start, time.perf_counter(), None)
    for s in rec.spans:
        if s.name == "pass":
            s.parent = root.id
    drains = [s for s in rec.spans if s.name == "stream.drain"]
    out = [root] + rec.spans
    for qid, p in probe.progress:
        start = p["start"] - rec.wall_offset
        end = start + p["ms"].get("triggerExecution", 0) / 1e3
        parent = next(
            (d.id for d in drains if d.query == qid and d.start <= start <= d.end), None
        )
        out.append(
            Span(rec.new_id(), parent, "stream.batch", start, end, qid,
                 {"stream": p["name"], "batch": p["batch"], "rows": p["rows"],
                  "duration_ms": p["ms"]})
        )
    return out
