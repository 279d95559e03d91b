#!/usr/bin/env python3
"""Run-to-run spread and record comparison for the graft benchmark.

    # run one workload on several seeds, report each metric's median and
    # quartile spread (IQR / median) against its bound in BENCHMARK.json
    python3 perfbench/records.py spread --workload etl_backfill --seeds 1 2 3 4 5

    # compare two run records (.bench_work/records/cores-N/*.json); refuses
    # records taken on different core counts
    python3 perfbench/records.py compare OLD.json NEW.json
"""
import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = json.loads(Path("BENCHMARK.json").read_text()) if Path("BENCHMARK.json").exists() else {}


def spread(args) -> int:
    seconds = args.seconds or BENCH.get("run_seconds", 10)
    bounds = {m["name"]: m.get("bound") for m in BENCH.get("end_to_end", [])}
    values, bad = {}, 0
    for seed in args.seeds:
        out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", str(args.trace)],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
        if out.returncode != 0 or res is None or not res["correct"]:
            bad += 1
            print(f"seed {seed}: exit {out.returncode}, result {res}")
            continue
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()))
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        if len(vs) >= 2 and med:
            q = statistics.quantiles(vs, n=4)
            share = (q[2] - q[0]) / med
            b = bounds.get(k)
            flag = "" if b is None else (" ok" if share < b / 3 else (" WITHIN BOUND" if share <= b else " OVER BOUND"))
            print(f"{k:40s} median {med:.4g}  iqr/median {share:.3f}  bound {b}{flag}")
    return 1 if bad else 0


def compare(args) -> int:
    a, b = (json.loads(Path(p).read_text()) for p in (args.old, args.new))
    if a["cores"] != b["cores"]:
        print(f"refusing: records taken on {a['cores']} and {b['cores']} cores", file=sys.stderr)
        return 2
    if (a["workload"], a["trace"]) != (b["workload"], b["trace"]):
        print("refusing: different workloads or trace modes", file=sys.stderr)
        return 2
    print(f"cpu probe {a['cpu_probe_s']:.3f}s -> {b['cpu_probe_s']:.3f}s (drift diagnostic only)")
    ma, mb = a["result"]["metrics"], b["result"]["metrics"]
    for k in ma:
        if k in mb and ma[k]["value"]:
            print(f"{k:40s} {ma[k]['value']:.4g} -> {mb[k]['value']:.4g} "
                  f"({mb[k]['value'] / ma[k]['value']:.3f}x) {ma[k]['unit']}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("spread")
    s.add_argument("--workload", required=True)
    s.add_argument("--seeds", type=int, nargs="+", required=True)
    s.add_argument("--seconds", type=int)
    s.add_argument("--trace", type=int, default=0)
    c = sub.add_parser("compare")
    c.add_argument("old")
    c.add_argument("new")
    args = ap.parse_args()
    return spread(args) if args.cmd == "spread" else compare(args)


if __name__ == "__main__":
    sys.exit(main())
