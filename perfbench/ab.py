#!/usr/bin/env python3
"""A/B compare two checkouts with the benchmark, in alternating pairs.

    python3 perfbench/ab.py --parent ../parent --change . --pairs 10 --out ab.json
    python3 perfbench/ab.py --report ab.json

Pair i runs both checkouts on seed ``--seed0 + i``; even pairs run the
parent first, odd pairs the change. Each (workload, metric) row gives each
side's median and quartiles, the fraction of pairs each side wins (ties
count for neither) and a verdict: ``gain`` (the change wins at least 9/10
of the pairs by more than the parent's own quartile spread),
``regression`` (the change's median is worse by more than the metric's
bound), ``unresolved`` (a side's spread is wider than the bound and not
every change run beats every parent run) or ``no change``. Bounds and
directions come from the change's BENCHMARK.json."""
import argparse
import json
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from pbench import stats  # noqa: E402


def bench_once(checkout, spec, workload, seed, seconds):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=1200)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{checkout}: {' '.join(cmd)} failed ({r.returncode}):\n{r.stderr[-2000:]}")
    result = json.loads(lines[-1])
    if not result["correct"]:
        print(f"warning: {checkout} {workload} seed {seed}: outputs not correct", file=sys.stderr)
    return {k: v["value"] for k, v in result["metrics"].items()}


def collect(parent, change, workloads, pairs, seconds, seed0):
    spec = json.loads(Path(change, "BENCHMARK.json").read_text())
    if spec != json.loads(Path(parent, "BENCHMARK.json").read_text()):
        print("warning: the two checkouts' BENCHMARK.json differ", file=sys.stderr)
    seconds = seconds or spec["run_seconds"]
    workloads = workloads or [w["name"] for w in spec["workloads"]]
    runs = {"spec": spec, "pairs": []}
    for i in range(pairs):
        for w in workloads:
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            pair = {"workload": w, "seed": seed0 + i}
            for side, path in order:
                pair[side] = bench_once(path, spec, w, seed0 + i, seconds)
            runs["pairs"].append(pair)
            print(f"pair {i + 1}/{pairs} {w} done", file=sys.stderr)
    return runs


def report(runs):
    metrics = runs["spec"]["end_to_end"]
    rows = []
    for w in dict.fromkeys(p["workload"] for p in runs["pairs"]):
        pairs = [p for p in runs["pairs"] if p["workload"] == w]
        for m in metrics:
            a = [p["parent"][m["name"]] for p in pairs]
            b = [p["change"][m["name"]] for p in pairs]
            pw, cw = stats.win_fractions(a, b, m["better"])
            rows.append((w, m["name"], stats.quartiles(a), stats.quartiles(b), pw, cw,
                         stats.verdict(a, b, m["better"], m["bound"])))
    print(f"{'workload':<18} {'metric':<12} {'parent median [q1, q3]':<30} "
          f"{'change median [q1, q3]':<30} {'p wins':>6} {'c wins':>6}  verdict")
    for w, name, (a1, a2, a3), (b1, b2, b3), pw, cw, v in rows:
        print(f"{w:<18} {name:<12} {a2:10.4f} [{a1:.4f}, {a3:.4f}]   "
              f"{b2:10.4f} [{b1:.4f}, {b3:.4f}]   {pw:6.2f} {cw:6.2f}  {v}")
    print(f"({len(runs['pairs'])} pairs in all)")


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workloads", help="comma-separated; default: all in BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--out", help="write the raw pairs here")
    ap.add_argument("--report", help="report a saved --out file instead of running")
    a = ap.parse_args(argv)
    if a.report:
        runs = json.loads(Path(a.report).read_text())
    else:
        if not (a.parent and a.change):
            ap.error("--parent and --change are required unless --report is given")
        runs = collect(a.parent, a.change, a.workloads.split(",") if a.workloads else None,
                       a.pairs, a.seconds, a.seed0)
        if a.out:
            Path(a.out).write_text(json.dumps(runs, indent=1))
    report(runs)


if __name__ == "__main__":
    main(sys.argv[1:])
