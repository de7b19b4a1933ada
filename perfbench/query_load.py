"""The two query workloads: ``dashboard`` and ``analytics``.

Both run a closed loop of client threads over a fixed set of catalog
entries (``parity.catalog()``).  A request rebuilds the entry's
DataFrame from its spec and fetches it with ``toPandas``, the way a
Grafana refresh re-sends every panel.  A run is:

1. set-up (session, views, derived views, cache fill, and Python
   workers where the entries use them);
2. the cold pass: one pass straight after set-up by ``nproc`` clients,
   in the fixed order of the entry list, as a first render sends its
   panels (``cold_pass_s``);
3. the steady window: ``k = max(1, round(seconds / PASS_S[workload]))``
   passes by STEADY_CLIENTS clients, each in its own seeded order (the
   HEAVY_FIRST entries first).  Latency percentiles and throughput come
   from this window only.  The cold pass is its warm-up: every steady
   request has run once before.

With tracing on, every request of the run is traced, so the traced
run's steady window times the same requests as an untraced run's: its
``queries_per_s`` against the untraced runs' is the tracing overhead.
Every result is checked against the committed DuckDB-oracle digest for
its entry, outside the timed passes.
"""

from __future__ import annotations

import random
import time

import harness
from digest import digest_pandas

#: The query plane of the reference: the 19 panel builders plus every
#: entry whose builder goes through ``queries.ch_compat.run_ch_sql``.
DASHBOARD = (
    "db01_volume_by_interval_buy", "db02_volume_by_interval_sell", "db03_netto_buy_top10",
    "db04_netto_union_buy_top10", "db05_netto_union_sell_top10", "db06_icebergs",
    "db07_volume_diff_by_interval", "db08_volume_diff_day_shifted",
    "db09_imoex_diff_by_interval", "db10_imoex_volume_by_interval_buy",
    "db11_imoex_volume_by_interval_sell", "db12_etf_volume_by_interval_buy",
    "db13_imoex_volume_by_time", "db14_lots_by_time_sell", "db15_count_trades_by_time_buy",
    "db16_distinct_sec_codes", "db17_etf_template_var", "db18_dst_spring_buckets",
    "db19_dst_fall_buckets",
    "ev15_window_funnel_sql", "ev16_topk_weighted_sql", "ev17_topk_grouped_sql",
    "ev18_scalar_with_sql", "ev19_with_totals_sql", "ev20_text_hash_profile_sql",
    "ev21_combinator_profile_sql", "ev22_with_fill_sql", "ev23_per_group_topn_sql",
    "ev24_columns_apply_sql", "ev25_fill_interpolate_sql", "ev26_interval_profile_sql",
    "ev27_quantified_sql", "ev28_correlated_quantified_sql", "ev29_sequence_next_node_sql",
    "ev30_exponential_moving_average_sql", "ev31_max_intersections_sql",
    "ev32_lttb_downsample_sql", "ev33_sequence_time_guards_sql",
    "op08_asof_sql_bridge", "op09_asof_left_bridge", "op10_asof_forward_sql",
    "op11_asof_using_sql", "op12_asof_parallel_sql", "op13_asof_chained_sql",
)

#: The other side of the query plane: catalog entries that run pandas-UDF
#: Python workers (``exec.python_eval_ms`` > 0 in a traced run), plus
#: shuffle, window and join entries with no dialect translation.  A
#: cross-section, not all ~88 entries: see README.md.
ANALYTICS = (
    "an06_ema", "ann02_lsh_topk", "ann03_ivf_topk", "ev13_heavy_hitters",
    "in05_candle_builder_exact",
    "an03_minute_returns", "op04_asof_join", "ev09_quantile_sketch",
)

#: Cached views each workload's entries read; set-up fills only these.
CACHED = {
    "dashboard": ("trades", "securities", "etf_codes", "ev", "trades_dup", "quotes_dup",
                  "ticks", "sess_windows"),
    "analytics": ("trades", "ev", "quotes_dup", "ticks"),
}
ENTRIES = {"dashboard": DASHBOARD, "analytics": ANALYTICS}
#: The entries whose warm request takes longest (about 1-2 s on a
#: 4-core host).  Every seeded pass sends them first: a pass then ends on
#: short requests, so its wall does not hinge on where the shuffle put
#: a long one (longest-first, as ``bench.py``'s HEAVY_FIRST).
HEAVY_FIRST = {
    "dashboard": (
        "ev31_max_intersections_sql", "ev27_quantified_sql", "op11_asof_using_sql",
        "op12_asof_parallel_sql", "db04_netto_union_buy_top10", "db05_netto_union_sell_top10",
        "db09_imoex_diff_by_interval", "db02_volume_by_interval_sell", "op10_asof_forward_sql",
        "op08_asof_sql_bridge", "op13_asof_chained_sql", "op09_asof_left_bridge"),
    "analytics": ("ann03_ivf_topk", "ann02_lsh_topk"),
}
#: Workloads whose entries evaluate Python UDFs: only their set-up
#: starts the Python worker pool (no dashboard entry runs a Python
#: evaluation node; a traced run shows ``exec.python_eval_ms`` = 0).
PYTHON_WORKERS = {"analytics"}
#: Planned wall seconds of one warm steady pass on a 4-core host: the
#: steady window is round(seconds / PASS_S) passes, a count fixed by the
#: run length alone so that every run times the same requests.
PASS_S = {"dashboard": 16.0, "analytics": 5.5}
#: Client threads of the steady window.  One: with ``nproc`` clients a
#: request's latency hinged on which requests the seeded order ran
#: beside it, and the runs' p50 spread 0.2 (README.md).
STEADY_CLIENTS = 1


def check_digest(expected: dict):
    """Compare a result with its entry's committed oracle digest."""

    def check(rec: dict, pdf) -> None:
        want = expected.get(rec["name"])
        if want is None or "sha" not in want:
            rec["ok"], rec["error"] = False, "no oracle digest for this entry"
            return
        got = digest_pandas(pdf)
        if got != want:
            rec["ok"] = False
            rec["error"] = f"wrong result: {got['rows']} rows vs oracle {want['rows']}"

    return check


def run(workload: str, spark_setup, expected: dict, seed: int, seconds: int,
        trace: bool) -> dict:
    """Run one query workload; returns the fields ``run.py`` reports."""
    rng = random.Random(seed)
    names = list(ENTRIES[workload])
    tracer = harness.Tracer()
    spark, phases = spark_setup(CACHED[workload], workload in PYTHON_WORKERS)
    from transaq_clickhouse_exporter_spark.queries import parity

    catalog = parity.catalog()
    runner = harness.Runner(spark, tracer, lambda n: catalog[n].build(spark),
                            check_digest(expected))
    clients = harness.nproc()

    heavy = set(HEAVY_FIRST[workload])

    def order():
        o = names[:]
        rng.shuffle(o)
        o.sort(key=lambda n: n not in heavy)  # stable: seeded order within each group
        return o

    if trace:
        tracer.install()
    cg0 = harness.codegen_counters(spark)
    cold_s, _ = runner.run_pass(names, "cold", clients)
    cg1 = harness.codegen_counters(spark)
    marks = {"cold": time.perf_counter()}
    k = max(1, round(seconds / PASS_S[workload]))

    steady_s, steady = 0.0, []
    for _ in range(k):
        wall, recs = runner.run_pass(order(), "steady", STEADY_CLIENTS)
        steady_s += wall
        steady += recs
    tracer.uninstall()
    return {
        "spark": spark,
        "records": runner.records,
        "phases": phases,
        "steady": steady,
        "steady_s": steady_s,
        "cold_pass_s": cold_s,
        "passes": k,
        "codegen": {"classes": cg1[0] - cg0[0], "compile_ms": cg1[1] - cg0[1]},
        "tracer": tracer,
        "marks": marks | {"steady": time.perf_counter()},
    }
