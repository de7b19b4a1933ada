"""Derive the committed oracle digests (``digests.json``) from DuckDB.

Run once from the repository root when the catalog or the generated
tables change::

    python3 perfbench/derive_digests.py --sf 0.001 --sf 0.01

For every catalog entry with a DuckDB oracle (``parity.oracle_map()``)
it runs the oracle SQL over the generated tables and stores the
entry's row count and result digest (``digest.py``).  No benchmark run
recomputes these: some oracles take minutes at larger scales.  An
oracle that errors or exceeds ``--timeout`` seconds is recorded with
its reason instead of a digest, and the benchmark then counts that
entry's result as unchecked, never as correct.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from digest import digest  # noqa: E402


def derive(sf: float, work: str, timeout: float) -> dict:
    import duckdb

    from transaq_clickhouse_exporter_spark.queries import parity

    sf_dir = datagen.ensure_tables(work, sf)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in datagen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out: dict = {}
    for name, sql in parity.oracle_map().items():
        t0 = time.perf_counter()
        timer = threading.Timer(timeout, con.interrupt)
        timer.start()
        try:
            res = con.execute(sql)
            cols = [c[0] for c in res.description]
            out[name] = digest(cols, res.fetchall())
        except Exception as e:  # recorded, and the entry stays unchecked
            out[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
        finally:
            timer.cancel()
        print(f"sf{sf:g} {name} {time.perf_counter() - t0:.2f}s {out[name]}", flush=True)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, action="append", required=True)
    ap.add_argument("--timeout", type=float, default=600.0)
    ap.add_argument("--work", default=".perfbench_work/data")
    ap.add_argument("--out", default=os.path.join(HERE, "digests.json"))
    a = ap.parse_args()
    sys.path.insert(0, os.getcwd())
    data = {}
    if os.path.exists(a.out):
        with open(a.out) as f:
            data = json.load(f)
    for sf in a.sf:
        data[f"sf{sf:g}"] = derive(sf, a.work, a.timeout)
        with open(a.out, "w") as f:
            json.dump(data, f, indent=1, sort_keys=True)
            f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
