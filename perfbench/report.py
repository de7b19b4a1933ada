"""Print every benchmark metric by name, with its unit, and the
correctness verdict — and check the output format while doing so.
From the repository root::

    python3 perfbench/report.py                          # the real runs
    python3 perfbench/report.py --sf 0.001 --seconds 1 --repeat 1   # fast self-test

Runs every workload named in BENCHMARK.json ``--repeat`` times untraced
(seeds ``seed``, ``seed + 1``, ...) and once traced, prints the tracing
overhead (the traced run's ``queries_per_s`` against the median of the
untraced runs'), and checks that:

- the last line of standard output is the result object with exactly
  the keys ``correct``, ``attempted``, ``failed`` and ``metrics``, and
  the run was correct;
- the untraced run prints every ``end_to_end`` metric and the traced run
  every ``per_layer`` metric, each with its unit from BENCHMARK.json;
- the traced run wrote one record per request (whole passes of its
  workload's request set in every phase, no request id twice), each
  with every layer field.

Exits non-zero on the first failed check.  The self-test takes a few
minutes, most of it Spark session start-up.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import query_load  # noqa: E402
import run as bench  # noqa: E402
import serve_load  # noqa: E402

#: Requests in one pass of each phase of each workload: a traced run
#: records every request, so its records come in whole passes.
PASS_SIZE = {
    "dashboard": dict.fromkeys(("cold", "steady"), len(query_load.DASHBOARD)),
    "analytics": dict.fromkeys(("cold", "steady"), len(query_load.ANALYTICS)),
    "serve_mixed": {"cold": len(serve_load.STATEMENTS),
                    "steady": len(serve_load.STATEMENTS) * serve_load.READER_REPEAT},
}


def check(cond: bool, msg: str) -> None:
    if not cond:
        print(f"report FAILED: {msg}")
        sys.exit(1)


def run_once(a, workload: str, seed: int, trace: int) -> tuple[dict, list[str]]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(a.seconds), "--trace", str(trace),
           "--sf", str(a.sf)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    check(p.returncode == 0 and bool(lines),
          f"{workload} trace={trace} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-1]), lines


def check_records(tag: str, workload: str, seed: int, res: dict) -> None:
    path = os.path.join(bench.WORK, "trace", f"{workload}-seed{seed}.jsonl")
    with open(path) as f:
        recs = [json.loads(x) for x in f]
    check(bool(recs) and len(recs) == res["metrics"]["trace.records"]["value"],
          f"{tag}: {len(recs)} records in {path}")
    check(len({r["rid"] for r in recs}) == len(recs), f"{tag}: a request id repeats")
    phases = collections.Counter(r["phase"] for r in recs)
    check(set(phases) == set(PASS_SIZE[workload]), f"{tag}: phases {sorted(phases)}")
    for phase, n in phases.items():
        check(n % PASS_SIZE[workload][phase] == 0, f"{tag}: {n} {phase} records, not whole passes")
    for r in recs:
        missing = [k for k in bench.RECORD_FIELDS if k not in r]
        check(not missing, f"{tag}: record {r['rid']} lacks {missing}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--sf", type=float, default=bench.SF)
    ap.add_argument("--repeat", type=int, default=3, help="untraced runs per workload")
    a = ap.parse_args()
    check(a.repeat >= 1, "--repeat must be at least 1")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    a.seconds = a.seconds or spec["run_seconds"]
    units = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    for w in (x["name"] for x in spec["workloads"]):
        qps = []
        for seed, trace in [(a.seed + i, 0) for i in range(a.repeat)] + [(a.seed, 1)]:
            res, lines = run_once(a, w, seed, trace)
            tag = f"{w} seed={seed} trace={trace}"
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{tag}: keys {sorted(res)}")
            print(f"{tag}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']}")
            for line in lines:
                if line.startswith("FAILED"):
                    print("  " + line)
            for k, v in res["metrics"].items():
                print(f"  {k:28s} {v['value']:16.4f} {v['unit']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            check(got == units[trace], f"{tag}: metrics or units differ: "
                                       f"{sorted(set(got.items()) ^ set(units[trace].items()))}")
            check(res["correct"] is True and res["failed"] == 0, f"{tag}: incorrect run")
            check(isinstance(res["attempted"], int) and res["attempted"] >= 1, f"{tag}: attempted")
            if trace:
                check_records(tag, w, seed, res)
                off = statistics.median(qps)
                on = res["metrics"]["trace.queries_per_s"]["value"]
                print(f"{w}: tracing overhead {(off - on) / off * 100.0:.1f} % "
                      f"(queries_per_s {on:.3f} traced vs median {off:.3f} of "
                      f"{len(qps)} untraced)")
            else:
                qps.append(res["metrics"]["queries_per_s"]["value"])
            sys.stdout.flush()
    print("report ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
