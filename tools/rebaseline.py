#!/usr/bin/env python3
"""One-time full re-baseline (round 15): regenerate
src/main/resources/graft/baseline_queries.tsv from the per-query MEDIAN
across the session's full-suite bench runs of the final round-15 code.

Usage: python3 tools/rebaseline.py --round N run*.json

Each input is a bench_full_c<cpus>.json (the Bench main's JSON line, named
after the core count of the run's local[n] master). A query's
baseline is the median of its samples across the runs that contain it
(queries added mid-session appear in fewer runs); every query needs >= 3
samples and every sample must be non-negative. Writes the tsv in sorted
query order with a provenance header.
"""
import argparse
import datetime
import json
import statistics
import sys

TSV = "src/main/resources/graft/baseline_queries.tsv"

# English number words so the provenance header states the ACTUAL run
# count (round-15 ADVICE: the header hard-coded "four" while the assert
# only demanded three — a 3-file re-anchor would have emitted a header
# claiming four-run provenance).
_WORDS = {3: "three", 4: "four", 5: "five", 6: "six", 7: "seven", 8: "eight"}

def main(argv):
    # round-16 ADVICE: the provenance note used to hardcode the round-15
    # date/round — a future re-anchor would have stamped stale provenance.
    # The anchor round is a required argument; the date defaults to today.
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--round", type=int, required=True, dest="round_no",
                    help="build round this re-anchor belongs to")
    ap.add_argument("--date", default=datetime.date.today().isoformat(),
                    help="anchor date (ISO, default: today)")
    ap.add_argument("paths", nargs="+", help="bench_full_c<cpus>.json files")
    args = ap.parse_args(argv)
    paths = args.paths
    assert len(paths) >= 3, "pass at least three bench_full_c<cpus>.json files"
    runs = [json.load(open(p))["queries"] for p in paths]
    names = sorted(set().union(*[set(r) for r in runs]))
    rows = []
    for n in names:
        xs = [r[n] for r in runs if n in r]
        assert len(xs) >= 3, f"{n}: only {len(xs)} samples"
        assert all(x >= 0 for x in xs), f"{n} failed in a baseline run: {xs}"
        rows.append((n, statistics.median(xs)))
    nruns = _WORDS.get(len(paths), str(len(paths)))
    with open(TSV, "w") as f:
        f.write(
            "# Per-query quiet-run baseline seconds (sf0.1, local[32], min-of-2) —\n"
            "# the machine-readable mirror of BASELINE.md's table, loaded by\n"
            "# graft.Bench to emit its \"over_budget\" self-check (>2x per query).\n"
            f"# RE-ANCHORED {args.date} (round {args.round_no}): full-table re-record as the\n"
            f"# per-query MEDIAN across {nruns} same-day full-suite runs of the final\n"
            f"# round-{args.round_no} code (tools/rebaseline.py; BASELINE.md round-{args.round_no} note has\n"
            "# the run provenance). The table is now FROZEN: no per-query upward\n"
            "# re-records — a budget breach is a regression to fix, not a row to\n"
            "# bump.\n")
        for n, m in rows:
            f.write(f"{n}\t{m:.2f}\n")
    print(f"wrote {len(rows)} baselines to {TSV}")

if __name__ == "__main__":
    main(sys.argv[1:])
