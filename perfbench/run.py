#!/usr/bin/env python3
"""Outside-in benchmark of the engine, one workload per run.

    python3 perfbench/run.py --workload tfidf-corpus --seed 1 --seconds 10 --trace 0

Each run is one fresh process with its own working directory, model
store, Spark local dirs and warehouse under ``.perfbench/runs/`` in the
checkout. It generates the fixture tables from ``--seed``, starts a
``local[N]`` session through ``session.get_spark`` and drives the
registry queries of one workload (``perfbench/workloads.py``) as a
closed loop with one client:

1. set-up: session start plus a first, untimed pass whose outputs are
   collected;
2. timed passes for ``--seconds`` (at least two), each query forced with
   a noop write;
3. the collected outputs are checked against each query's DuckDB oracle
   (``oracle_sql()``, compared with ``scripts/oracle_check.py``) by
   ``perfbench/oracle.py`` in a child process, while the session stops.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics of
``perfbench/tracing.py``. The last line of stdout is one JSON object;
the lines before it print every metric with its unit, and the full
detail of the run (per-query medians and sample counts, host,
spans) goes to ``.perfbench/results/``. A run does not check that its
timed passes are steady: at the listed ``--seconds`` an untraced run has
two timed passes, and steadiness is shown across runs instead.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import tracing  # noqa: E402
from workloads import WORKLOADS, Step, Workload  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: fixture scale of the generated tables (see datagen._sizes)
SCALE_FACTOR = 0.01
#: local[N]: fixed so that runs on hosts with more cores stay comparable.
#: The executors keep less than one core busy on average (exec.core_busy_ratio
#: 0.15-0.2 at local[4]), so two executor threads lose no speed, and the
#: cores left to the driver's JIT, GC and Python make the timings less
#: sensitive to other load on the host
MAX_CPUS = 2
#: a run still running after this many seconds is killed and fails
HARD_LIMIT_S = 170.0
#: no further timed pass starts once the run is this old
SOFT_LIMIT_S = 120.0
#: an untraced run times at least this many passes, so that its medians
#: never rest on one pass
MIN_TIMED_PASSES = 2
#: the oracle-check child process, once started
CHECKER: subprocess.Popen | None = None
REQUIRED = ("__spark_entry__.py", "tf_idf_mapreduce_spark/session.py",
            "scripts/oracle_check.py", "bench.py")

def unit_of(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


@dataclass
class PassResult:
    no: int
    traced: bool
    wall: float = 0.0
    cold: float = 0.0
    warm: float = 0.0
    steps: dict[str, float] = field(default_factory=dict)


class Run:
    """One workload driven on one live session."""

    def __init__(self, workload: Workload, dirs: dict[str, str], traced: bool):
        self.workload = workload
        self.dirs = dirs
        self.data = dirs["data"]
        self.attempted = 0
        self.failures: list[dict] = []
        self.oracle_s = 0.0
        #: [label, query, pickle path] of each output collected for the check
        self.outputs: list[list[str]] = []
        self.rec = tracing.Recorder() if traced else None
        self.probe = None
        self.windows: list[tuple[int, float, float]] = []
        self.traced_queries: set[int] = set()

    # -- set-up ------------------------------------------------------------

    def start(self) -> None:
        sys.path.insert(0, ROOT)
        if self.rec:
            tracing.install(self.rec)
        import __spark_entry__ as entry
        from tf_idf_mapreduce_spark.operators.caches import MODEL_CACHED_QUERIES
        from tf_idf_mapreduce_spark.session import get_spark

        self.queries = entry.queries()
        self.clears = MODEL_CACHED_QUERIES
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": self.dirs["warehouse"],
        }
        if self.rec:
            conf.update({
                "spark.ui.retainedJobs": "1000000",
                "spark.ui.retainedStages": "1000000",
                "spark.sql.ui.retainedExecutions": "1000000",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.workload.name}", extra_conf=conf)
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.rec:
            self.probe = tracing.SparkProbe(self.spark, self.rec)

    def keep_output(self, label: str, query: str, pdf) -> None:
        """Store one collected output for the oracle check (untimed)."""
        t0 = time.perf_counter()
        path = os.path.join(self.dirs["outputs"], f"{len(self.outputs)}.pkl")
        pdf.to_pickle(path)
        self.outputs.append([label, query, path])
        self.oracle_s += time.perf_counter() - t0

    def start_check(self) -> subprocess.Popen:
        """Start comparing the kept outputs with their DuckDB oracles in a
        child process. It runs after the measurement, while the session
        shuts down."""
        global CHECKER
        manifest = os.path.join(self.dirs["outputs"], "manifest.json")
        with open(manifest, "w") as f:
            json.dump(self.outputs, f)
        CHECKER = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), self.data, manifest],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        return CHECKER

    def finish_check(self, proc: subprocess.Popen) -> None:
        """Wait for the oracle check; each mismatch is a failed execution."""
        try:
            out, err = proc.communicate(timeout=120)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.communicate()
            raise
        lines = out.strip().splitlines()
        if proc.returncode != 0 or not lines:
            raise RuntimeError(f"oracle check failed (exit {proc.returncode}):\n{err[-3000:]}")
        for label, problems in json.loads(lines[-1]).items():
            self.failures.append({"step": label, "oracle": problems})

    # -- passes ------------------------------------------------------------

    def run_pass(self, no: int, traced: bool = False, check: bool = False) -> PassResult:
        res = PassResult(no, traced)
        if traced:
            # deliver the listener events of earlier untraced queries first,
            # so that none of them is counted in this pass
            self.probe.settle()
        if self.rec:
            self.rec.enabled = traced
        p0 = time.perf_counter()
        with self._span("pass", no=no):
            for step in self.workload.steps():
                wall = self._run_step(step, traced, check)
                if wall is None:
                    continue
                res.steps[step.label] = wall
        res.wall = time.perf_counter() - p0
        res.cold = sum(w for k, w in res.steps.items() if k.endswith(":cold"))
        res.warm = sum(w for k, w in res.steps.items() if k.endswith(":warm"))
        if self.rec:
            self.rec.enabled = False
        return res

    def _span(self, name: str, **attrs):
        return self.rec.span(name, **attrs) if self.rec else nullcontext({})

    def _run_step(self, step: Step, traced: bool, check: bool) -> float | None:
        fn = self.queries[step.query]
        self.attempted += 1
        qid = None
        if traced:
            qid = self.rec.new_id()
            self.rec.query = qid
            self.traced_queries.add(qid)
            self.spark.addTag(self.probe.tag(qid))
        w0 = time.time()
        try:
            with self._span("query", step=step.label):
                t0 = time.perf_counter()
                if step.kind == "cold":
                    self.clears[step.query]()
                with self._span("build") as build:
                    df = fn(self.spark, self.data)
                with self._span("action"):
                    if check:
                        out = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
        except Exception as e:  # keep driving the workload; count the failure
            self.failures.append({"step": step.label, "error": repr(e)[:500]})
            return None
        finally:
            if traced:
                self.spark.removeTag(self.probe.tag(qid))
                self.probe.settle()
                self.windows.append((qid, w0, time.time()))
                self.rec.query = None
        if traced:
            ph = df._jdf.queryExecution().tracker().phases().get("analysis")
            build["analysis_ms"] = ph.get().durationMs() if ph.isDefined() else 0
        if check:
            self.keep_output(step.label, step.query, out)
        return wall

    # -- end of run --------------------------------------------------------

    def peak_rss_mb(self) -> dict[str, float]:
        """High-water resident memory of the driver JVM and of this Python
        process, in MB."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return {"jvm": hwm_kb / 1024.0, "python": py_kb / 1024.0}

    def tokenize_probe(self) -> tuple[float, int]:
        """Time ``tokenize()`` over the documents by itself (median of 3)."""
        from tf_idf_mapreduce_spark.functions.tokenize import tokenize
        from tf_idf_mapreduce_spark.sources.io import documents_as_corpus, load_table

        walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            tok = tokenize(documents_as_corpus(load_table(self.spark, self.data, "documents")))
            tok.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls), tok.count()

    def stop(self) -> None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        stop_gateway(gw)


def stop_gateway(gw, kill: bool = False) -> None:
    """Shut the py4j gateway down and wait for the driver JVM to exit."""
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    if kill:
        proc.kill()
    else:
        gw.shutdown()
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


def _watchdog(run_dir: str) -> None:
    print(f"perfbench: run exceeded {HARD_LIMIT_S:.0f} s; aborting", file=sys.stderr, flush=True)
    try:
        if CHECKER is not None:
            CHECKER.kill()
            CHECKER.wait(timeout=10)
        from pyspark import SparkContext

        if SparkContext._gateway is not None:
            stop_gateway(SparkContext._gateway, kill=True)
        shutil.rmtree(run_dir, ignore_errors=True)
    finally:
        os._exit(3)


def isolate(name: str, seed: int, traced: int, cpus: int) -> tuple[str, dict[str, str]]:
    """A fresh working directory with its own store, local dirs and warehouse."""
    run_dir = os.path.join(WORK, "runs", f"{name}-s{seed}-t{traced}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k)
            for k in ("data", "tmp", "local", "warehouse", "models", "outputs")}
    for d in dirs.values():
        os.makedirs(d)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_MODEL_DIR": dirs["models"],
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "JAVA_TOOL_OPTIONS": " ".join(
            filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts])
        ),
    })
    tempfile.tempdir = dirs["tmp"]
    os.chdir(run_dir)
    return run_dir, dirs


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def dir_mb(path: str) -> float:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total / 1024.0**2


def median_steps(passes: list[PassResult]) -> dict[str, dict]:
    labels: dict[str, list[float]] = {}
    for p in passes:
        for k, w in p.steps.items():
            labels.setdefault(k, []).append(w)
    return {k: {"median_s": statistics.median(v), "n": len(v)} for k, v in labels.items()}


def main() -> int:
    ap = argparse.ArgumentParser(description="Benchmark one engine workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SCALE_FACTOR)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: {ROOT} is not an engine checkout (missing {missing})",
              file=sys.stderr)
        return 2

    workload = WORKLOADS[args.workload]
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    load_start = os.getloadavg()[0]
    steal_start = steal_s()
    run_dir, dirs = isolate(workload.name, args.seed, args.trace, cpus)
    watchdog = threading.Timer(
        HARD_LIMIT_S - (time.perf_counter() - T_PROCESS), _watchdog, args=(run_dir,)
    )
    watchdog.daemon = True
    watchdog.start()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), dirs["data"],
         "--seed", str(args.seed), "--sf", str(args.sf)],
        check=True, timeout=120, stdout=subprocess.DEVNULL,
    )

    t_setup = time.perf_counter()
    run = Run(workload, dirs, bool(args.trace))
    run.start()
    first = run.run_pass(0, check=True)
    setup_s = time.perf_counter() - t_setup - run.oracle_s

    timed: list[PassResult] = []
    traced: list[PassResult] = []
    t_measure = time.perf_counter()
    no = 1
    while True:
        is_traced = bool(args.trace) and no % 2 == 0
        res = run.run_pass(no, traced=is_traced)
        (traced if is_traced else timed).append(res)
        no += 1
        now = time.perf_counter()
        late = now - T_PROCESS + res.wall > SOFT_LIMIT_S
        # a traced run alternates untraced and traced passes and, when time
        # allows, ends on an untraced one, so warm-up drift does not bias
        # the overhead ratio
        if args.trace and (not traced or (is_traced and not late)):
            continue
        if (now - t_measure >= args.seconds and len(timed) >= MIN_TIMED_PASSES) or late:
            break

    per_query = median_steps(timed)
    if not per_query:
        print(f"perfbench: no query of {workload.name} ran: {run.failures}", file=sys.stderr)
        return 1
    pass_s = statistics.median(p.wall for p in timed)
    geomean = math.exp(statistics.fmean(math.log(v["median_s"]) for v in per_query.values()))
    rss = run.peak_rss_mb()
    e2e = {
        "setup_s": setup_s,
        "pass_s": pass_s,
        "query_geomean_s": geomean,
        "peak_rss_mb": sum(rss.values()),
    }
    layers: dict[str, float] = {}
    spans: list[tracing.Span] = []
    if args.trace:
        layers = tracing.layer_metrics(run.rec, run.probe, run.traced_queries, run.windows,
                                     len(traced), cpus)
        layers["session.start_s"] = run.session_s
        layers["store.bytes_written_mb"] = dir_mb(dirs["models"])
        layers["tokenize.docs_s"], layers["tokenize.rows_out"] = run.tokenize_probe()
        layers["trace.overhead_ratio"] = statistics.median(p.wall for p in traced) / pass_s
        spans = tracing.close_run(run.rec, run.probe, t_measure)
    checker = run.start_check()
    master = run.spark.sparkContext.master
    parallelism = run.spark.sparkContext.defaultParallelism
    spark_version = run.spark.version
    run.stop()
    run.finish_check(checker)
    extra = {"failed_ratio": len(run.failures) / run.attempted}
    if workload.cached:
        extra["cold_pass_s"] = statistics.median(p.cold for p in timed)
        extra["warm_pass_s"] = statistics.median(p.warm for p in timed)
    host = {"nproc": len(os.sched_getaffinity(0)), "cpus": cpus,
            "loadavg_1m_start": load_start, "loadavg_1m_end": os.getloadavg()[0],
            "steal_s": steal_s() - steal_start}
    if args.trace:
        import bench

        layers["host.calib_s"] = bench.host_calibration_sec()
        host["calib_s"] = layers["host.calib_s"]

    detail = {
        "workload": workload.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": args.sf, "host": host,
        "spark": {"version": spark_version, "master": master,
                  "default_parallelism": parallelism, "store_root": dirs["models"]},
        "peak_rss_mb": rss,
        "setup": {"session_s": run.session_s, "first_pass_s": first.wall,
                  "setup_s": setup_s, "oracle_s": run.oracle_s},
        "end_to_end": e2e, "extra": extra, "per_layer": layers,
        "passes": [vars(p) for p in [first] + timed + traced],
        "per_query": per_query,
        "failures": run.failures, "attempted": run.attempted,
        "self_times_s": tracing.self_times(spans) if spans else {},
        "spans": [vars(s) for s in spans],
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results",
                       f"{workload.name}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json")
    with open(out, "w") as f:
        json.dump(detail, f, indent=1, default=str)
    os.chdir(WORK)
    shutil.rmtree(run_dir, ignore_errors=True)

    for f in run.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"# {workload.name} seed={args.seed} master={master} "
          f"parallelism={parallelism} timed_passes={len(timed)} traced_passes={len(traced)} "
          f"load1={load_start:.2f} detail={os.path.relpath(out, ROOT)}")
    shown = layers if args.trace else {**e2e, **extra}
    for name, value in shown.items():
        print(f"{name} = {value} {unit_of(name)}")
    metrics = layers if args.trace else e2e
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
