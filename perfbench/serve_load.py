"""The ``serve_mixed`` workload: streaming ingest with panel reads beside it.

A generator process lands JSONL event files in the ``serve`` layout
(``events/<trades|quotes|sec_info|candles>/``) on a fixed schedule, an
open loop that never waits for the engine: every tick (0.1 s) one
trades file with Zipf-skewed keys over 60 securities, one quotes file,
and once a second a ``sec_info`` and a candles file.  A few percent of
trades files are landed twice under another name (at-least-once
retries) and a few percent of trades carry out-of-order event times.

``jobs.streaming_job`` ingests with ``EngineConfig(trigger_seconds=1)``
through ``storage.write_table`` (wrapped by a timing ``sink_factory``).
The offered rate steps through three steps, each tagged in the ledger:

- ``read``: LOW_RATE trades/s while one reader thread runs the
  ClickHouse-dialect panel statements in ``STATEMENTS`` through
  ``run_ch_sql`` over ``storage.read_table_range`` dedup-on-read views,
  re-registered per request the way the ``query`` CLI does, in its
  own FAIR scheduler pool (the request latencies);
- ``quiet``: LOW_RATE for QUIET_SECONDS with no reader, below
  saturation (ingest freshness);
- ``top``: TOP_RATE for TOP_SECONDS with no reader, above what the
  engine commits per second (ingest throughput).

Ingested rows are counted from the generator's ledger and the stored
table, never from the engine's ``numInputRows``.  After the schedule the
stream drains; the stored tables, deduplicated, must equal the ledger's
distinct rows (exactly-once), and every statement, run once more, must
return what pandas computes from those rows.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta, timezone

import harness

#: Offered trades per second and step lengths (see the module
#: docstring; README.md has the sweep LOW_RATE was chosen from).
#: Quotes arrive at QUOTE_SHARE of the trade rate.
LOW_RATE, TOP_RATE, QUIET_SECONDS, TOP_SECONDS = 500, 20000, 2.0, 1.5
#: The cold pass runs every statement once (``nproc`` clients, as a
#: first render sends its panels); the measured window then makes
#: round(seconds / READER_PASS_S) passes of READER_CLIENTS threads, each
#: over every statement READER_REPEAT times, so every run times the
#: same mix.  One reader: more of them only queue behind each other
#: and the stream on the cores, and their latencies follow the host's
#: load more than the program (README.md).
READER_PASS_S, READER_REPEAT, READER_CLIENTS = 12.0, 2, 1
#: Safety cap on generator ticks, should the switch never come.
MAX_TICKS = 3000
QUOTE_SHARE = 0.15
TICK = 0.1
N_SECS = 60
MARKET_T0 = datetime(2024, 12, 20, 10, 0, 0, tzinfo=timezone.utc)
FMT = "%d.%m.%Y %H:%M:%S"
#: Rows landed before the stream starts, so the tables exist at set-up.
PRIMER_TICKS = 10

#: Panel statements in the reference's dialect (Grafana-style), read
#: through the ``default.transaq_*`` names the ``query`` CLI maps.
STATEMENTS = {
    "top_volume": (
        "SELECT sec_code, sum(quantity) AS vol FROM default.transaq_trades FINAL "
        "GROUP BY sec_code ORDER BY vol DESC, sec_code LIMIT 10"),
    "turnover_by_minute": (
        "SELECT toStartOfInterval(time, INTERVAL 1 minute) AS t, "
        "sum(price * quantity) AS turnover FROM default.transaq_trades "
        "WHERE buy_sell = 'B' GROUP BY t ORDER BY t"),
    "netto_top10": (
        "SELECT sec_code, sumIf(quantity, buy_sell = 'B') - sumIf(quantity, buy_sell = 'S') "
        "AS netto FROM default.transaq_trades GROUP BY sec_code "
        "ORDER BY netto DESC, sec_code LIMIT 10"),
    "quote_levels": (
        "SELECT sec_code, count() AS levels, min(price) AS low, max(price) AS high "
        "FROM default.transaq_quotes FINAL GROUP BY sec_code ORDER BY sec_code"),
    "trade_count": (
        "SELECT count() AS trades, uniqExact(sec_code) AS secs FROM default.transaq_trades"),
}
READ_TABLES = ("transaq_trades", "transaq_quotes")


# ---------------------------------------------------------------------------
# generator (runs in its own process)
# ---------------------------------------------------------------------------


def _sec(i: int) -> tuple[int, str, str]:
    board = "FUT" if i <= 4 else "TQTF" if i > 50 else "TQBR"
    return i, f"SEC{i:03d}", board


class Generator:
    def __init__(self, events_dir: str, ledger_path: str, seed: int, first_trade: int,
                 tag: str):
        self.dir, self.rng, self.tag = events_dir, random.Random(seed), tag
        self.ledger = open(ledger_path, "a")
        self.trade_no, self.files = first_trade, 0
        ranks = list(range(1, N_SECS + 1))
        self.rng.shuffle(ranks)
        self.weights = [1.0 / r ** 1.1 for r in ranks]
        self.recent: list[list[dict]] = []  # last trades files, for re-sends
        for k in ("trades", "quotes", "sec_info", "candles"):
            os.makedirs(os.path.join(events_dir, k, ".staging"), exist_ok=True)

    def close(self) -> None:
        self.ledger.close()

    def _land(self, kind: str, rows: list[dict], due: float) -> None:
        self.files += 1
        name = f"{kind}-{self.tag}{self.files:06d}.json"
        stage = os.path.join(self.dir, kind, ".staging", name)
        with open(stage, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        path = os.path.join(self.dir, kind, name)
        os.rename(stage, path)  # atomic: the file source never sees a partial file
        self.ledger.write(json.dumps({"path": path, "kind": kind, "rows": len(rows),
                                      "step": self.step, "due": due,
                                      "landed": time.time()}) + "\n")
        self.ledger.flush()

    def tick(self, i: int, trades_per_s: int, due: float, step: str) -> None:
        rng, self.step = self.rng, step
        sim = MARKET_T0 + timedelta(seconds=i * TICK)
        rows = []
        for _ in range(int(trades_per_s * TICK)):
            self.trade_no += 1
            secid, code, board = _sec(rng.choices(range(1, N_SECS + 1), self.weights)[0])
            t = sim - timedelta(seconds=rng.randint(30, 300)) if rng.random() < 0.03 else sim
            rows.append({"time": t.strftime(FMT), "secid": secid, "sec_code": code,
                         "trade_no": self.trade_no, "board": board,
                         "price": float(100 + (self.trade_no * 7 + secid) % 900),
                         "quantity": self.trade_no % 50 + 1,
                         "buy_sell": "B" if self.trade_no % 2 else "S",
                         "open_interest": self.trade_no % 1000 if board == "FUT" else 0,
                         "period": "N"})
        self._land("trades", rows, due)
        self.recent = (self.recent + [rows])[-20:]
        if rng.random() < 0.03 and len(self.recent) > 1:
            self._land("trades", rng.choice(self.recent[:-1]), due)
        quotes = []
        for _ in range(max(1, int(trades_per_s * QUOTE_SHARE * TICK))):
            secid, code, board = _sec(rng.choices(range(1, N_SECS + 1), self.weights)[0])
            quotes.append({"batch_time": sim.strftime(FMT), "secid": secid, "board": board,
                           "sec_code": code, "price": float(rng.randint(100, 999)),
                           "source": "gen", "yield": 0, "buy": rng.randint(0, 500),
                           "sell": rng.randint(0, 500)})
        self._land("quotes", quotes, due)
        if i % int(round(1 / TICK)) == 0:
            secid, code, _ = _sec(1 + (i // 10) % N_SECS)
            self._land("sec_info", [{
                "secid": secid, "sec_name": f"Security {code}", "sec_code": code,
                "market": 1, "pname": "", "mat_date": "20.12.2025",
                "clearing_price": 1.0, "minprice": 0.5, "maxprice": 2.0, "buy_deposit": 0.0,
                "sell_deposit": 0.0, "bgo_c": 0.0, "bgo_nc": 0.0, "bgo_buy": 0.0,
                "accruedint": 0.0, "coupon_value": 0.0, "coupon_date": "20.06.2025",
                "coupon_period": 182, "facevalue": 1000.0, "put_call": "", "point_cost": 1.0,
                "opt_type": "", "lot_volume": 1, "isin": f"RU{secid:010d}",
                "regnumber": f"R{i}", "buybackprice": 0.0, "buybackdate": "01.01.2026",
                "currencyid": "RUB"}], due)
            self._land("candles", [{
                "date": sim.strftime(FMT), "sec_code": code, "period": 1, "open": 100.0,
                "close": 101.0, "high": 102.0, "low": 99.0, "volume": i}], due)


def generate(events_dir: str, ledger_path: str, seed: int, first_trade: int,
             first_tick: int, t0: float, switch: str, low_rate: int, top_rate: int,
             quiet_seconds: float, top_seconds: float) -> None:
    """Open loop: tick ``i`` is due at ``t0 + (i - first_tick) * TICK``;
    a late tick is landed at once, and later ticks keep their schedule.
    Step ``read`` at ``low_rate`` trades/s until the file ``switch``
    exists, then ``quiet`` at ``low_rate`` for ``quiet_seconds``, then
    ``top`` at ``top_rate`` for ``top_seconds``."""
    g = Generator(events_dir, ledger_path, seed, first_trade, "g")
    try:
        i, quiet_start = first_tick, None
        while i - first_tick < MAX_TICKS:
            due = t0 + (i - first_tick) * TICK
            if quiet_start is None and os.path.exists(switch):
                quiet_start = due
            since = float("-inf") if quiet_start is None else due - quiet_start + 1e-9
            if since >= quiet_seconds + top_seconds:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            if since < 0:
                g.tick(i, low_rate, due, "read")
            elif since < quiet_seconds:
                g.tick(i, low_rate, due, "quiet")
            else:
                g.tick(i, top_rate, due, "top")
            i += 1
    finally:
        g.close()


# ---------------------------------------------------------------------------
# engine side
# ---------------------------------------------------------------------------


class TimedSinks:
    """``sink_factory`` for ``jobs.streaming_job``: the storage sink,
    timed per batch."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def __call__(self, cfg, table):
        from transaq_clickhouse_exporter_spark import storage

        def sink(df, batch_id):
            t0 = time.time()
            storage.write_table(df, cfg.table_path(table), table)
            t1 = time.time()
            with self._lock:
                self.batches.append({"table": table, "batch": batch_id, "start": t0, "end": t1})

        return sink


def _read_ledger(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _file_batches(ckpt: str) -> dict[str, int]:
    """Landed file path → batch id that read it, from the file source's
    log in the checkpoint."""
    out: dict[str, int] = {}
    src = os.path.join(ckpt, "sources", "0")
    if not os.path.isdir(src):
        return out
    for name in os.listdir(src):
        if name.startswith("."):
            continue
        with open(os.path.join(src, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                p = urllib.parse.unquote(urllib.parse.urlparse(e["path"]).path)
                out[p] = int(e["batchId"])
    return out


def _register(spark, data_dir: str, tables=READ_TABLES) -> dict[str, str]:
    """Dedup-on-read views of the growing tables, as the query CLI
    registers them; returns the CH-name → view map."""
    from transaq_clickhouse_exporter_spark import storage

    tmap = {}
    for name in tables:
        storage.read_table_range(spark, os.path.join(data_dir, name), name) \
            .createOrReplaceTempView(name)
        tmap[f"default.{name}"] = name
    return tmap


def _statement(spark, data_dir: str):
    """Reader request: register the views its statement reads, then
    translate and plan the statement."""
    from transaq_clickhouse_exporter_spark.queries import ch_compat

    def build(name: str):
        sql = STATEMENTS[name]
        tmap = _register(spark, data_dir, [t for t in READ_TABLES if f"default.{t}" in sql])
        return ch_compat.run_ch_sql(spark, sql, table_map=tmap)

    return build


def _non_empty(rec: dict, pdf) -> None:
    if len(pdf) == 0:
        rec["ok"], rec["error"] = False, "empty result"


#: Stored table → (event kind, columns compared, time column).  The
#: columns hold the table's dedup key, so the ledger's distinct rows
#: over them are exactly what a deduplicated read must return.
EXACTLY_ONCE = {
    "transaq_trades": ("trades", ["secid", "board", "sec_code", "trade_no", "time",
                                  "buy_sell", "quantity", "price"], "time"),
    "transaq_quotes": ("quotes", ["sec_code", "board", "price", "source"], None),
    "transaq_securities_info": ("sec_info", ["sec_code", "market", "regnumber", "isin"], None),
    "transaq_candles": ("candles", ["date", "sec_code", "period", "volume"], "date"),
}
SPARK_TIME = "dd.MM.yyyy HH:mm:ss"  # FMT in Spark's pattern language


def _ledger_rows(ledger: list[dict], kind: str):
    """Every row the generator landed for ``kind`` (re-sends included)."""
    import pandas as pd

    rows = []
    for e in ledger:
        if e["kind"] == kind:
            with open(e["path"]) as f:
                rows += [json.loads(line) for line in f]
    return pd.DataFrame(rows)


def _check_table(spark, data_dir: str, rows: dict, table: str) -> dict | None:
    """Exactly-once: a stored table after dedup vs the ledger's distinct
    rows.  Returns the failure, if any."""
    from pyspark.sql import functions as F

    from transaq_clickhouse_exporter_spark import storage

    kind, cols, tcol = EXACTLY_ONCE[table]
    want = rows[kind].copy()
    df = storage.read_table_range(spark, os.path.join(data_dir, table), table)
    if tcol:
        df = df.withColumn(tcol, F.date_format(tcol, SPARK_TIME))
    got = df.select(*cols).toPandas()
    for c in cols:
        if c == "price":  # stored as FLOAT: compare at that precision
            got[c] = got[c].astype("float32")
            want[c] = want[c].astype("float32")
        got[c], want[c] = got[c].astype(str), want[c].astype(str)
    g = set(map(tuple, got[cols].itertuples(index=False, name=None)))
    w = set(map(tuple, want[cols].drop_duplicates().itertuples(index=False, name=None)))
    if len(got) != len(g) or g != w:
        return {"name": f"exactly_once.{table}", "phase": "verify",
                "error": f"stored {len(got)} rows ({len(g)} distinct) vs ledger {len(w)} "
                         f"distinct; missing {len(w - g)}, extra {len(g - w)}"}
    return None


def _expected_answers(rows: dict) -> dict[str, list[tuple]]:
    """The answer of every statement in STATEMENTS, computed in pandas
    from the ledger's distinct rows."""
    t = rows["trades"].drop_duplicates(subset=EXACTLY_ONCE["transaq_trades"][1])
    q = rows["quotes"].drop_duplicates(subset=EXACTLY_ONCE["transaq_quotes"][1])

    def top10(s):
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:10]

    buys = t[t.buy_sell == "B"]
    turnover = (buys.price * buys.quantity).groupby(buys.time.str[:16]).sum()
    netto = t.quantity.where(t.buy_sell == "B", -t.quantity).groupby(t.sec_code).sum()
    levels = q.groupby("sec_code")["price"].agg(["count", "min", "max"])
    return {
        "top_volume": top10(t.groupby("sec_code")["quantity"].sum()),
        "turnover_by_minute": [(m + ":00", v) for m, v in turnover.items()],
        "netto_top10": top10(netto),
        "quote_levels": [(k, *v) for k, v in zip(levels.index,
                                                levels.itertuples(index=False, name=None))],
        "trade_count": [(len(t), t.sec_code.nunique())],
    }


def _canonical(rows) -> list[tuple]:
    """Rows as sorted tuples of strings; a float holding an integer reads
    as that integer (every value the generator makes is integral)."""
    def cell(v):
        if hasattr(v, "item"):  # numpy scalar
            v = v.item()
        if isinstance(v, float) and v.is_integer():
            v = int(v)
        return str(v)

    return sorted(tuple(cell(v) for v in r) for r in rows)


def _check_statement(build, want: dict, name: str) -> dict | None:
    """Run a reader statement once over the drained tables, through the
    reader's own path, and compare it with the ledger's answer.  Returns
    the failure, if any."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    try:
        df = build(name)
        df = df.select(*[
            F.date_format(f.name, SPARK_TIME).alias(f.name)
            if isinstance(f.dataType, (T.TimestampType, T.TimestampNTZType))
            else F.col(f.name) for f in df.schema.fields])
        got = _canonical(df.collect())
    except Exception as e:
        return {"name": f"statement.{name}", "phase": "verify",
                "error": f"{type(e).__name__}: {str(e)[:300]}"}
    exp = _canonical(want[name])
    if got != exp:
        return {"name": f"statement.{name}", "phase": "verify",
                "error": f"wrong result: {len(got)} rows vs ledger {len(exp)}; "
                         f"differing rows {sorted(set(got) ^ set(exp))[:3]}"}
    return None


def run(repo_root: str, work: str, seed: int, seconds: int, trace: bool) -> dict:
    from transaq_clickhouse_exporter_spark.jobs import EngineConfig, streaming_job

    shutil.rmtree(work, ignore_errors=True)
    events, data, ckpt = (os.path.join(work, d) for d in ("events", "data", "ckpt"))
    ledger_path = os.path.join(work, "ledger.jsonl")
    os.makedirs(events)
    ph = harness.Phases()
    with ph("setup.session_s"):
        spark = harness.start_session(repo_root)
    tracer = harness.Tracer()

    # primer: a second of the low rate, landed before the stream starts
    g = Generator(events, ledger_path, seed, first_trade=0, tag="p")
    for i in range(PRIMER_TICKS):
        g.tick(i, LOW_RATE, time.time(), "primer")
    g.close()

    sinks = TimedSinks()
    with ph("setup.stream_start_s"):
        queries = streaming_job(spark, events, ckpt, EngineConfig(data_dir=data, trigger_seconds=1),
                                sink_factory=sinks)
        want = {"transaq_trades", "transaq_quotes"}
        while not want <= {b["table"] for b in sinks.batches}:
            for q in queries:
                if q.exception() is not None:
                    raise RuntimeError(f"stream {q.name} failed: {q.exception()}")
            time.sleep(0.02)
    reader = harness.Runner(spark, tracer, _statement(spark, data), _non_empty, pool="reader")
    clients, rng = harness.nproc(), random.Random(seed)
    with ph("setup.register_views_s"):
        _register(spark, data)
    ph.t["ready"] = time.perf_counter()

    if trace:
        tracer.install()
    cold_s = reader.run_pass(list(STATEMENTS), "cold", clients)[0]
    marks = {"cold": time.perf_counter()}

    # the read step, then (after the switch) the quiet and top steps
    passes = max(1, round(seconds / READER_PASS_S))
    switch = os.path.join(work, "switch")
    t0 = time.time() + 0.5
    gen = subprocess.Popen([sys.executable, os.path.abspath(__file__), json.dumps(
        [events, ledger_path, seed + 1, 10_000_000, PRIMER_TICKS, t0, switch,
         LOW_RATE, TOP_RATE, QUIET_SECONDS, TOP_SECONDS])])
    try:
        while time.time() < t0:
            time.sleep(0.005)
        w0 = time.perf_counter()
        for _ in range(passes):
            names = list(STATEMENTS) * READER_REPEAT
            rng.shuffle(names)
            reader.run_pass(names, "steady", READER_CLIENTS)
        window_s = time.perf_counter() - w0
        marks["read"] = time.perf_counter()
    finally:
        tracer.uninstall()
        open(switch, "w").close()
        try:
            gen_rc = gen.wait(timeout=QUIET_SECONDS + TOP_SECONDS + 60)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen_rc = gen.wait()

    marks["steps"] = time.perf_counter()
    failures = [] if gen_rc == 0 else [{"name": "generator", "phase": "load",
                                        "error": f"exit code {gen_rc}"}]
    for q in queries:
        try:
            q.processAllAvailable()
        except Exception as e:  # a dead pipeline is a failed batch
            failures.append({"name": f"stream.{q.name}", "phase": "ingest",
                             "error": f"{type(e).__name__}: {str(e)[:300]}"})
    progress = [p for q in queries for p in q.recentProgress]
    run_ids = [str(q.runId) for q in queries]
    for q in queries:
        q.stop()
    marks["drain"] = time.perf_counter()

    ledger = _read_ledger(ledger_path)
    rows = {kind: _ledger_rows(ledger, kind) for kind, _, _ in EXACTLY_ONCE.values()}
    answers = _expected_answers(rows)
    with ThreadPoolExecutor(harness.nproc()) as ex:
        checks = [ex.submit(_check_table, spark, data, rows, t) for t in EXACTLY_ONCE]
        checks += [ex.submit(_check_statement, reader.build, answers, n) for n in STATEMENTS]
        failures += [f for f in (c.result() for c in checks) if f]
    layer = _ingest_layer(spark, ledger, sinks.batches, progress, run_ids, ckpt, data)
    marks["verify"] = time.perf_counter()
    return {
        "spark": spark, "phases": ph.t, "records": reader.records,
        "steady": [r for r in reader.records if r["phase"] == "steady"],
        "steady_s": window_s, "cold_pass_s": cold_s, "passes": passes, "failures": failures,
        # batches, table checks, statement checks, the generator
        "extra_attempted": len(sinks.batches) + len(EXACTLY_ONCE) + len(STATEMENTS) + 1,
        "layer": layer, "tracer": tracer, "marks": marks,
    }


def _epoch(iso: str) -> float:
    """Seconds since the epoch of a progress report's UTC timestamp."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _ingest_layer(spark, ledger, batches, progress, run_ids, ckpt, data) -> dict:
    """Ingest figures from the ledger, the sink timings, the progress
    reports and the file source's checkpoint log; rows are never taken
    from the engine's own input counters."""
    ends = {(b["table"], b["batch"]): b["end"] for b in batches}
    kind_table = {"trades": "transaq_trades", "quotes": "transaq_quotes",
                  "sec_info": "transaq_securities_info", "candles": "transaq_candles"}
    file_batch = {}
    for kind, table in kind_table.items():
        for p, bid in _file_batches(os.path.join(ckpt, kind)).items():
            file_batch[p] = (table, bid)
    ran = [p for p in progress if p.numInputRows > 0]
    started = {(kind_table[p.name[len("tce_"):]], p.batchId): _epoch(p.timestamp) for p in ran}

    def step_start(step):
        return min((e["due"] for e in ledger if e["step"] == step), default=float("inf"))

    t0, quiet_start, top_start = step_start("read"), step_start("quiet"), step_start("top")
    top_end = top_start + TOP_SECONDS
    fresh, backlog = [], 0
    for e in ledger:
        if e["kind"] not in ("trades", "quotes"):
            continue
        end = ends.get(file_batch.get(os.path.abspath(e["path"])), float("inf"))
        if e["step"] == "quiet":
            fresh.append((end - e["landed"]) * 1000.0)
        if e["landed"] <= top_end < end:
            backlog += 1
    # the top step's rate: rows committed by the batches that read any
    # of its files, over the time from the first such batch's trigger to
    # the last one's commit
    top_batches = {file_batch.get(os.path.abspath(e["path"])) for e in ledger
                   if e["step"] == "top" and e["kind"] in ("trades", "quotes")}
    top_batches.discard(None)
    top_rows = sum(e["rows"] for e in ledger
                   if file_batch.get(os.path.abspath(e["path"])) in top_batches)
    top_s = (max(ends[b] for b in top_batches) - min(started[b] for b in top_batches)
             if top_batches else 0.0)
    sc = spark.sparkContext
    jobs = sum(len(sc.statusTracker().getJobIdsForGroup(r)) for r in run_ids)
    quiet = [p for p in ran if quiet_start <= _epoch(p.timestamp) < top_start]

    def mean_dur(key):
        v = [p.durationMs.get(key, 0) for p in quiet]
        return sum(v) / len(v) if v else 0.0

    files = 0
    for dirpath, _, names in os.walk(data):
        files += sum(n.endswith(".parquet") for n in names)
    trade_files = sum(n.endswith(".parquet") for _, _, ns in
                      os.walk(os.path.join(data, "transaq_trades")) for n in ns)
    late = [max(0.0, e["landed"] - e["due"]) * 1000.0 for e in ledger if e["due"] >= t0]
    return {
        "stream.batches": len(ran),
        "stream.trigger_ms": mean_dur("triggerExecution"),
        "stream.add_batch_ms": mean_dur("addBatch"),
        "stream.latest_offset_ms": mean_dur("latestOffset"),
        "stream.wal_commit_ms": mean_dur("walCommit"),
        "stream.jobs_per_batch": jobs / max(1, len(ran)),
        "stream.backlog_files": backlog,
        "storage.write_ms": sum(b["end"] - b["start"] for b in batches) * 1000.0 / max(1, len(batches)),
        "storage.files_written": files,
        "storage.table_files": trade_files,
        "gen.late_ms": sum(late) / len(late) if late else 0.0,
        "gen.rows_landed": sum(e["rows"] for e in ledger),
        "ingest.rows_per_s": top_rows / top_s if top_s > 0 else 0.0,
        "ingest.freshness_p50_ms": harness.percentile(fresh, 50) if fresh else 0.0,
        "ingest.freshness_p90_ms": harness.percentile(fresh, 90) if fresh else 0.0,
    }


if __name__ == "__main__":  # the generator process, started by run()
    generate(*json.loads(sys.argv[1]))
