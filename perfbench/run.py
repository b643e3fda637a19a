#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one command.

    python3 perfbench/run.py --workload llm_shared_views --seed 1 --seconds 20 --trace 0

Builds the program and the harness from this checkout (once per source
state), runs the workload in one Spark session sized to the machine's
cores, checks every output, and prints each metric by name with its unit.
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-module metrics (``--trace 1``).
See perfbench/README.md."""
import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
from pbench import build, metrics, oracle, plan as plans  # noqa: E402

# A run must end within 180 s once the program is built; the build, the
# query catalog and the oracle digests (the first run in a checkout) do
# not count against this.
DEADLINE_S = 170
# the project's fixture tables (TESTDATA.md)
DEFAULT_DATA = str(Path.home() / "testdata" / "sf0.1")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(plans.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=DEFAULT_DATA, help="fixture tables directory (default: %(default)s)")
    return ap.parse_args(argv)


def write_properties(path, props):
    path.write_text("".join(f"{k}={v}\n" for k, v in props.items()))


def main(argv):
    args = parse_args(argv)
    build.check_sources()
    if not Path(args.data, "lineitem.parquet").exists():
        raise SystemExit(f"perfbench: fixture tables not found under {args.data}")
    build.STATE.mkdir(parents=True, exist_ok=True)
    log = build.STATE / "last-run.log"
    log.write_text("")
    stamp = build.ensure_built(log)
    catalog = build.catalog(stamp, log)
    # the oracle digest of every query a plan can check, computed once per
    # checkout and cached
    expect = oracle.expected([q for q in plans.queries(catalog) if q["oracle"]],
                             args.data, build.STATE / "oracle")
    t0 = time.time()
    work = build.STATE / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        return run(args, t0, stamp, catalog, expect, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, t0, stamp, catalog, expect, work, log):
    dag = args.workload == "dag_daily"
    cores = build.cpus()
    p = plans.make(args.workload, args.seed, args.seconds, args.trace, catalog)
    p.update({"data": args.data, "work": work, "out": work / "out.jsonl",
              "trace": args.trace, "cpus": cores})
    checks = p["checks"].split(",") if not dag else []
    if dag:
        plans.stage_dag(p, args.data, work / "stage")
    write_properties(work / "plan.properties", p)

    budget = max(30.0, DEADLINE_S - (time.time() - t0))
    code = build.run_harness(stamp, work, ["run", str(work / "plan.properties")], log, budget)
    if code != 0 or not (work / "out.jsonl").exists():
        raise SystemExit(f"perfbench: harness exited with {code}; see {log}")
    records = [json.loads(line) for line in (work / "out.jsonl").read_text().splitlines() if line]
    r = metrics.Run(records, dag)

    if dag:
        failed_checks = {}
        for c in r.get("check"):
            if not c["ok"]:
                failed_checks.setdefault(c["pass"], []).append(c["name"] + (f" ({c['err']})" if c["err"] else ""))
        failed_checks = {k: "; ".join(v) for k, v in failed_checks.items()}
        n_checked = len(r.get("check"))
    else:
        dumps = {d["name"]: d for d in r.get("dump")}
        verdicts = oracle.check(catalog, checks, dumps, expect, work / "check")
        failed_checks = {n: v for n, v in verdicts.items() if v is not None}
        n_checked = len(verdicts)
    e2e, attempted, failures, info = metrics.end_to_end(r, failed_checks)
    fatal = [f["err"] for f in r.get("fatal")]
    correct = not failures and not fatal and not failed_checks and attempted > 0

    out = sys.stdout
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {info['passes']} untraced"
          f" and {len(r.traced)} traced measured passes, {info['ops']} untraced ops, {cores} cores", file=out)
    if args.trace == 0:
        walls = ", ".join(f"{w:.2f}" for w in r.pass_wall(r.untraced))
        notes = {"run_s": f"median of {info['passes']} passes ({walls})",
                 "op_p50_s": f"median of {info['ops']} ops",
                 "op_tail_s": f"p{info['tail_percentile']} of {info['ops']} ops",
                 "setup_s": "session start, function registration and the warm pass",
                 "rss_peak_mb": "JVM VmHWM after the measured passes"}
        for k, v in e2e.items():
            print(f"  {k:<14} {v:12.4f} {metrics.E2E_UNITS[k]:<6} {notes[k]}", file=out)
        print(f"  {'error_rate':<14} {info['error_rate']:12.4f} {'ratio':<6} "
              f"{len(failures)} failed of {attempted} ops", file=out)
        reported = {k: {"value": v, "unit": metrics.E2E_UNITS[k]} for k, v in e2e.items()}
    else:
        units = metrics.per_layer_units()
        layer = metrics.per_layer(r, cores)
        for k, v in layer.items():
            print(f"  {k:<44} {v:14.4f} {units[k]}", file=out)
        reported = {k: {"value": layer[k], "unit": units[k]} for k in metrics.SHARED}
    print(f"  outputs checked: {n_checked}, failed: {len(failed_checks)}", file=out)
    for k, v in sorted(failed_checks.items(), key=str):
        print(f"  CHECK FAILED {k}: {v}", file=out)
    for f in failures[:20]:
        print(f"  FAILED {f}", file=out)
    for f in fatal:
        print(f"  FATAL {f}", file=out)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": len(failures),
                      "metrics": reported}), file=out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
