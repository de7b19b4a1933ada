"""Benchmark entry point.  Run from the repository root::

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Workloads: ``dashboard``, ``analytics`` (query_load.py) and
``serve_mixed`` (serve_load.py).  The last line of standard output is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (and the traced run's per-request records are
written under ``.perfbench_work/trace/``).  Lines before it name every
failed operation and describe the host.  The exit code is non-zero when
the engine package is missing or the run could not complete.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from collections import defaultdict  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

#: Scale factor of the generated tables the query workloads read.
SF = 0.01
WORK = ".perfbench_work"

END_TO_END = {
    "setup_s": "s", "cold_pass_s": "s", "query_p50_ms": "ms", "query_p75_ms": "ms",
    "queries_per_s": "1/s", "retained_mb": "MiB",
}
PER_LAYER = {
    "setup.session_s": "s", "setup.register_views_s": "s", "setup.derived_views_s": "s",
    "setup.cache_fill_s": "s", "setup.pyworker_s": "s", "setup.stream_start_s": "s",
    "ch_compat.translate_ms": "ms", "ch_compat.run_ch_sql_ms": "ms",
    "ch_compat.shims_registered": "count",
    "build.ms": "ms",
    "plan.analysis_ms": "ms", "plan.optimization_ms": "ms", "plan.planning_ms": "ms",
    "codegen.compile_ms": "ms", "codegen.classes": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.exchanges": "count", "exec.shuffle_bytes": "bytes", "exec.task_busy_ms": "ms",
    "exec.stage_wait_ms": "ms", "exec.python_eval_ms": "ms", "exec.failed_tasks": "count",
    "fetch.ms": "ms", "fetch.rows": "count",
    "stream.batches": "count", "stream.trigger_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.latest_offset_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.jobs_per_batch": "count", "stream.backlog_files": "count",
    "storage.write_ms": "ms", "storage.files_written": "count", "storage.read_ms": "ms",
    "storage.table_files": "count",
    "gen.late_ms": "ms", "gen.rows_landed": "count",
    "ingest.rows_per_s": "1/s", "ingest.freshness_p50_ms": "ms",
    "ingest.freshness_p90_ms": "ms",
    "mem.peak_rss_mb": "MiB", "fail_ratio": "ratio", "trace.records": "count",
    "trace.queries_per_s": "1/s",
}
#: Per-request layer fields of a traced record (span self times in ms,
#: then the JVM-side counts); every record carries all of them.
SPAN_FIELDS = {
    "build": "build.ms", "fetch": "fetch.ms", "ch_compat.run_ch_sql": "ch_compat.run_ch_sql_ms",
    "ch_compat.translate": "ch_compat.translate_ms", "storage.read": "storage.read_ms",
}
RECORD_FIELDS = tuple(SPAN_FIELDS.values()) + (
    "fetch.rows", "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.exchanges", "exec.shuffle_bytes",
    "exec.task_busy_ms", "exec.stage_wait_ms", "exec.python_eval_ms", "exec.failed_tasks",
)
WORKLOADS = ("dashboard", "analytics", "serve_mixed")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def layer_means(records: list[dict]) -> dict[str, float]:
    """Mean per request of every record field."""
    if not records:
        return dict.fromkeys(RECORD_FIELDS, 0.0)
    tot: dict[str, float] = defaultdict(float)
    for r in records:
        for f in RECORD_FIELDS:
            tot[f] += float(r.get(f) or 0.0)
    return {f: tot[f] / len(records) for f in RECORD_FIELDS}


def finish_records(tracer: harness.Tracer) -> list[dict]:
    """Fold span self times into each traced record's layer fields."""
    for r in tracer.records:
        selfs = tracer.self_ms(r)
        for layer, field in SPAN_FIELDS.items():
            r[field] = selfs.get(layer, 0.0)
        for f in RECORD_FIELDS:
            r.setdefault(f, 0)
    return tracer.records


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, help=argparse.SUPPRESS)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "transaq_clickhouse_exporter_spark", "__init__.py")):
        _fail("run from the repository root: transaq_clickhouse_exporter_spark/ not found")
    if os.environ.get("SPARK_GRAFT_EXTRA_CONF"):
        _fail("SPARK_GRAFT_EXTRA_CONF is set; unset it so the run measures the committed confs")
    sys.path.insert(0, root)
    # keep Spark's block/shuffle files and every temp file in the checkout
    for var, sub in (("SPARK_LOCAL_DIRS", "spark-local"), ("TMPDIR", "tmp")):
        os.environ[var] = os.path.abspath(os.path.join(WORK, sub))
        os.makedirs(os.environ[var], exist_ok=True)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    load0, cpu0 = os.getloadavg(), harness.cpu_times()

    import datagen

    t = time.perf_counter()
    sf_dir = os.path.abspath(datagen.ensure_tables(os.path.join(WORK, "data"), a.sf))
    datagen_s = time.perf_counter() - t
    with open(os.path.join(HERE, "digests.json")) as f:
        expected = json.load(f).get(f"sf{a.sf:g}", {})

    if a.workload == "serve_mixed":
        import serve_load

        res = serve_load.run(root, os.path.abspath(os.path.join(WORK, "serve")), a.seed,
                             a.seconds, bool(a.trace))
    else:
        import query_load

        def setup(cached, python_workers: bool):
            from concurrent.futures import ThreadPoolExecutor

            ph = harness.Phases()
            with ph("setup.session_s"):
                spark = harness.start_session(root)
                from transaq_clickhouse_exporter_spark.queries import parity
                from transaq_clickhouse_exporter_spark.testdata import register_views
            with ph("setup.register_views_s"):
                register_views(spark, sf_dir)
            with ph("setup.derived_views_s"):
                parity.register_derived_views(spark, sf_dir)
            with ph("setup.cache_fill_s"), ThreadPoolExecutor(harness.nproc()) as ex:
                list(ex.map(lambda v: spark.table(v).count(), cached))
            if python_workers:
                with ph("setup.pyworker_s"):
                    harness.spawn_python_workers(spark)
            ph.t["ready"] = time.perf_counter()
            return spark, ph.t

        res = query_load.run(a.workload, setup, expected, a.seed, a.seconds, bool(a.trace))
    phases = res["phases"]
    spark = res["spark"]
    phases_ready = phases.pop("ready")
    setup_s = phases_ready - T_START - datagen_s

    steady = res["steady"]
    lat = [r["latency_ms"] for r in steady if r["ok"]]
    records = res["records"]
    failures = [r for r in records if not r["ok"]] + res.get("failures", [])
    attempted = len(records) + res.get("extra_attempted", 0)
    if not lat:
        _fail("no request succeeded in the steady window")
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": res["cold_pass_s"],
        "query_p50_ms": harness.percentile(lat, 50),
        "query_p75_ms": harness.percentile(lat, 75),
        "queries_per_s": len(steady) / res["steady_s"],
    }
    mem = harness.retained_mb(spark)
    metrics["retained_mb"] = sum(mem.values())
    # wall-clock marks since process start: where a run's time goes
    marks = {"ready": phases_ready, **res["marks"], "retained": time.perf_counter()}
    facts = harness.host_facts(spark)
    facts["loadavg_before"], facts["loadavg_after"] = list(load0), facts.pop("loadavg")
    facts["steal_pct"] = round(harness.steal_pct(cpu0, harness.cpu_times()), 2)
    facts.update(workload=a.workload, seed=a.seed, sf=a.sf, passes=res.get("passes"),
                 steady_requests=len(steady), datagen_s=round(datagen_s, 3),
                 setup={k: round(v, 3) for k, v in phases.items()},
                 retained_mb={k: round(v, 1) for k, v in mem.items()},
                 marks_s={k: round(v - T_START, 1) for k, v in marks.items()})
    print("host " + json.dumps(facts, sort_keys=True))
    for r in failures:
        print(f"FAILED {r['name']} ({r.get('phase', '')}): {r.get('error', '')}")

    if a.trace:
        recs = finish_records(res["tracer"])
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update({k: v for k, v in phases.items() if k in PER_LAYER})
        layer.update(layer_means([r for r in recs if r["phase"] == "steady"]))
        layer.update(res.get("layer", {}))
        cg = res.get("codegen")
        if cg:
            layer["codegen.classes"], layer["codegen.compile_ms"] = cg["classes"], cg["compile_ms"]
        layer["ch_compat.shims_registered"] = harness.shims_registered(spark)
        layer["mem.peak_rss_mb"] = harness.peak_rss_mb()
        layer["fail_ratio"] = len(failures) / max(1, attempted)
        layer["trace.records"] = len(recs)
        # every request was traced: set against the untraced runs'
        # queries_per_s, this is the tracing overhead (report.py)
        layer["trace.queries_per_s"] = metrics["queries_per_s"]
        path = os.path.join(WORK, "trace", f"{a.workload}-seed{a.seed}.jsonl")
        res["tracer"].write(path)
        print(f"trace {len(recs)} records -> {path}")
        out_metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out_metrics = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    harness.stop_session(spark)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": out_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
