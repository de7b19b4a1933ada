"""Shared pieces of the benchmark: engine set-up, the request tracer,
JVM-side per-request statistics, and the host/result bookkeeping.

Everything here drives the engine through its public functions; the
tracer wraps layer entry points from the outside (``Tracer.install``)
and never edits the package.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import platform
import re
import threading
import time
from collections import defaultdict


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# set-up
# ---------------------------------------------------------------------------


def start_session(repo_root: str):
    """SparkSession the way the repo's own harness builds it: one local
    executor over every core, FAIR scheduling for concurrent panels.
    The repo root goes on PYTHONPATH first so the JVM's Python workers
    can unpickle UDFs defined in the package from any working dir."""
    parts = [repo_root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(parts))
    from transaq_clickhouse_exporter_spark.session import get_spark

    spark = get_spark(app="perfbench", cpus=nproc(), extra={
        "spark.scheduler.mode": "FAIR", "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit: it leaves when its
    stdin, the pipe from this process, closes."""
    proc = _jvm_proc()
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def spawn_python_workers(spark) -> None:
    """Start the Python worker pool: one scalar pandas UDF over a
    throwaway frame, one task per core, so every worker has forked and
    imported pandas and Arrow (workers are reused across UDF kinds)."""
    from pyspark.sql import functions as F

    noop = F.pandas_udf(lambda s: s * 1.0, "double")
    spark.range(4096).repartition(nproc()).select(noop(F.col("id").cast("double"))).collect()


class Phases:
    """Named wall-clock phases (seconds)."""

    def __init__(self):
        self.t: dict[str, float] = {}

    @contextlib.contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.t[name] = self.t.get(name, 0.0) + time.perf_counter() - t0


# ---------------------------------------------------------------------------
# host / process facts
# ---------------------------------------------------------------------------


def _vm_kb(pid: int, field: str) -> int:
    """A ``/proc/<pid>/status`` memory field (VmHWM, VmRSS) in KiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _jvm_proc():
    """The driver JVM's process (pyspark launches it as a direct child)."""
    from pyspark import SparkContext

    return getattr(SparkContext._gateway, "proc", None)


def peak_rss_mb() -> float:
    """VmHWM of the driver Python process plus its JVM, in MiB."""
    proc = _jvm_proc()
    kb = _vm_kb(os.getpid(), "VmHWM") + (_vm_kb(proc.pid, "VmHWM") if proc else 0)
    return kb / 1024.0


def retained_mb(spark) -> dict[str, float]:
    """Memory the driver holds after a full GC, in MiB: the JVM's used
    heap and non-heap (metaspace, code cache) and the Python process's
    resident set.  Unlike the JVM's peak RSS, which follows when its
    collector happened to grow the heap, this is the live set."""
    import gc

    # Python first: dropping the proxies of finished DataFrames releases
    # their JVM objects.  Each JVM GC lets Spark's ContextCleaner see
    # more unreachable broadcasts and shuffles, and it drops their blocks
    # asynchronously, so collect until the used heap stops shrinking.
    gc.collect()
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used: list[int] = []
    for _ in range(8):
        mx.gc()
        used.append(mx.getHeapMemoryUsage().getUsed())
        if len(used) >= 3 and abs(used[-1] - used[-2]) <= 0.01 * used[-2]:
            break
        time.sleep(0.25)
    return {"heap": used[-1] / 2**20,
            "non_heap": mx.getNonHeapMemoryUsage().getUsed() / 2**20,
            "python_rss": _vm_kb(os.getpid(), "VmRSS") / 1024.0}


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    ``cpu_times`` samples."""
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / max(1, sum(d))


def host_facts(spark) -> dict:
    return {
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty list."""
    v = sorted(values)
    k = max(0, min(len(v) - 1, int(round(q / 100.0 * len(v) + 0.5)) - 1))
    return float(v[k])


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans per request, kept in memory and written at the end.

    A request opens a record (``request``); layer spans opened in the
    same thread attach to it with their parent span, so a layer's self
    time is its duration minus its direct children's.  ``install`` wraps
    the layer entry points by module attribute for the traced window and
    ``uninstall`` restores them."""

    LAYER_FUNCS = (
        ("transaq_clickhouse_exporter_spark.queries.ch_compat", "run_ch_sql", "ch_compat.run_ch_sql"),
        ("transaq_clickhouse_exporter_spark.queries.ch_compat", "translate_ch_sql", "ch_compat.translate"),
        ("transaq_clickhouse_exporter_spark.storage", "read_table_range", "storage.read"),
    )

    def __init__(self):
        self.enabled = False
        self.records: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count()
        self._saved: list = []
        self._lock = threading.Lock()

    def install(self) -> None:
        import importlib

        for mod_name, attr, layer in self.LAYER_FUNCS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, layer))
        self.enabled = True

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        self.enabled = False

    def _wrap(self, fn, layer):
        def wrapped(*a, **k):
            with self.span(layer):
                return fn(*a, **k)

        wrapped.__wrapped__ = fn
        return wrapped

    @contextlib.contextmanager
    def request(self, rec: dict):
        """Attach spans opened in this thread to ``rec`` until exit."""
        if not self.enabled:
            yield
            return
        rec["spans"] = []
        self._local.rec, self._local.stack = rec, []
        try:
            yield
        finally:
            self._local.rec = None
            with self._lock:
                self.records.append(rec)

    @contextlib.contextmanager
    def span(self, layer: str):
        rec = getattr(self._local, "rec", None) if self.enabled else None
        if rec is None:
            yield
            return
        sid = next(self._ids)
        stack = self._local.stack
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            rec["spans"].append({"id": sid, "parent": parent, "layer": layer,
                                 "start": t0, "end": time.perf_counter()})
            stack.pop()

    @staticmethod
    def self_ms(rec: dict) -> dict[str, float]:
        """Self time per layer of one record, in ms."""
        spans = rec.get("spans", [])
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["layer"]] += (s["end"] - s["start"] - child[s["id"]]) * 1000.0
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for r in self.records:
                f.write(json.dumps(r, default=str) + "\n")


# ---------------------------------------------------------------------------
# closed-loop request runner
# ---------------------------------------------------------------------------


class Runner:
    """Closed loop of client threads over passes of named requests.

    ``build(name)`` returns the request's DataFrame; the runner fetches
    it with ``toPandas`` inside the timed region, then (after the pass,
    outside it) hands the result to ``check(rec, pdf)``, which marks
    ``rec["ok"]``/``rec["error"]``.  Each request runs in its own Spark
    job group (``<name>#<rid>``), and in scheduler ``pool`` if given."""

    def __init__(self, spark, tracer: Tracer, build, check, pool: str | None = None):
        self.spark, self.tracer, self.build, self.check = spark, tracer, build, check
        self.pool = pool
        self.records: list[dict] = []

    def run_one(self, rec: dict):
        sc, tr = self.spark.sparkContext, self.tracer
        group = f"{rec['name']}#{rec['rid']}"
        sc.setJobGroup(group, rec["name"], False)
        if self.pool:
            sc.setLocalProperty("spark.scheduler.pool", self.pool)
        pdf = df = None
        t0 = time.perf_counter()
        try:
            with tr.request(rec):
                with tr.span("build"):
                    df = self.build(rec["name"])
                with tr.span("fetch"):
                    pdf = df.toPandas()
        except Exception as e:  # a failed request is counted, never fatal
            rec["ok"], rec["error"] = False, f"{type(e).__name__}: {str(e)[:300]}"
        rec["latency_ms"] = (time.perf_counter() - t0) * 1000.0
        if tr.enabled and pdf is not None:
            rec["fetch.rows"] = len(pdf)
            rec.update(plan_stats(df))
            rec.update(job_stats(self.spark, group))
        return rec, pdf

    def run_pass(self, names, phase: str, clients: int) -> tuple[float, list[dict]]:
        """One pass over ``names`` (in that order) by ``clients``
        threads; returns (wall seconds, records)."""
        from concurrent.futures import ThreadPoolExecutor

        base = len(self.records)
        recs = [{"rid": base + i + 1, "name": n, "phase": phase, "ok": True}
                for i, n in enumerate(names)]
        self.records.extend(recs)
        t0 = time.perf_counter()
        with ThreadPoolExecutor(clients) as ex:
            results = [f.result() for f in [ex.submit(self.run_one, r) for r in recs]]
        wall = time.perf_counter() - t0
        for rec, pdf in results:  # correctness gate, outside the timed pass
            if rec["ok"]:
                self.check(rec, pdf)
        return wall, recs


# ---------------------------------------------------------------------------
# JVM-side statistics of one finished request
# ---------------------------------------------------------------------------

_SHUFFLE_EXCHANGE = re.compile(
    r"(?<![A-Za-z])Exchange (?:hashpartitioning|rangepartitioning|"
    r"roundrobinpartitioning|RoundRobinPartitioning|SinglePartition)")
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
             "FlatMapGroupsInArrow", "MapInPandas", "MapInArrow", "AggregateInPandas",
             "WindowInPandas", "ArrowWindowPython", "FlatMapCoGroupsInPandas")


def plan_stats(df) -> dict:
    """Catalyst phase times and the executed plan's exchange count and
    Python-evaluation time of a collected DataFrame."""
    qe = df._jdf.queryExecution()
    out = {}
    phases = qe.tracker().phases()
    for k in ("analysis", "optimization", "planning"):
        o = phases.get(k)
        out[f"plan.{k}_ms"] = float(o.get().durationMs()) if o.isDefined() else 0.0
    ep = qe.executedPlan()
    final = ep.toString().split("== Initial Plan ==")[0]
    out["exec.exchanges"] = len(_SHUFFLE_EXCHANGE.findall(final))
    out["exec.python_eval_ms"] = _python_ms(ep)
    return out


def _python_ms(node) -> float:
    total, todo = 0.0, [node]
    while todo:
        n = todo.pop()
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(n.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(n.plan())
            continue
        if any(name.startswith(p) for p in _PY_NODES):
            m = n.metrics()
            o = m.get("pythonTotalTime")
            if o.isDefined():
                total += float(o.get().value())
        ch = n.children()
        todo.extend(ch.apply(i) for i in range(ch.size()))
    return total


def job_stats(spark, group: str) -> dict:
    """Jobs, stages that ran, tasks, shuffle bytes written, executor busy
    time, stage wait (submission to first task launch) and failed tasks
    of one job group."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    empty_status = jvm.java.util.ArrayList()
    no_q = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(("exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_bytes",
                         "exec.task_busy_ms", "exec.stage_wait_ms", "exec.failed_tasks"), 0)
    for jid in st.getJobIdsForGroup(group):
        info = st.getJobInfo(jid)
        if info is None:
            continue
        out["exec.jobs"] += 1
        for sid in info.stageIds:
            si = st.getStageInfo(sid)
            if si is None:
                continue
            sd = store.stageAttempt(sid, si.currentAttemptId, False, empty_status, False, no_q)._1()
            sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
            if not sub.isDefined():
                continue  # skipped: its shuffle output was reused
            out["exec.stages"] += 1
            out["exec.tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
            out["exec.failed_tasks"] += sd.numFailedTasks()
            out["exec.shuffle_bytes"] += sd.shuffleWriteBytes()
            out["exec.task_busy_ms"] += sd.executorRunTime()
            if first.isDefined():
                out["exec.stage_wait_ms"] += first.get().getTime() - sub.get().getTime()
    return out


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled so far, estimated total compile ms so far) from
    Spark's process-wide codegen histograms.  The total is count × the
    histogram's mean: Codahale histograms keep no exact sum."""
    cm = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    h = cm.METRIC_COMPILATION_TIME()
    return int(h.getCount()), float(h.getCount() * h.getSnapshot().getMean())


def shims_registered(spark) -> int:
    """Number of CH scalar shims registered on this session so far."""
    from transaq_clickhouse_exporter_spark.queries import ch_compat

    cur = spark.conf.get(ch_compat._SHIMS_MARKER, None)
    if not cur:
        return 0
    if ":" not in cur:
        return len(ch_compat._SCALAR_SHIMS)
    return len([n for n in cur.split(":", 1)[1].split(",") if n])
