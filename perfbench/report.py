#!/usr/bin/env python3
"""Markdown report of traced runs: the per-layer table of each workload and
the tracing overhead (traced vs untraced end-to-end values of the same
workload and seed).

    python3 perfbench/report.py RESULTS_DIR > report.md

RESULTS_DIR holds run records (what run.py writes to `.bench_build/results/`);
for each workload the newest traced and untraced records are used.
"""
import glob
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from run import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest(records, workload, trace):
    rs = [r for r in records if workload in r["result"]["workloads"] and r["trace"] == trace
          and r["scale"] == "full"]
    # run records are named <workloads>-seed<N>-trace<T>-<timestamp>.json
    return max(rs, key=lambda r: r["_file"].rsplit("-", 1)[-1]) if rs else None


def main(results):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    records = []
    for f in sorted(glob.glob(os.path.join(results, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        if isinstance(r, dict) and "result" in r:
            r["_file"] = f
            records.append(r)
    # every workload, also those a traced run adds (run.TRACED_WITH)
    for w in WORKLOADS:
        traced, plain = newest(records, w, 1), newest(records, w, 0)
        if not traced:
            continue
        tw = traced["result"]["workloads"][w]
        info = tw["info"]
        print(f"## {w} (seed {traced['seed']}, commit {traced['fingerprint']['commit'][:12]})\n")
        print(f"Host steal while timed (median): {info.get('steal_frac', 0):.2%}; "
              f"quiet samples: {info.get('quiet_samples')}.\n")
        print("| end-to-end metric | untraced | traced | overhead |")
        print("|---|---|---|---|")
        for m in bench["end_to_end"]:
            t = tw["e2e"].get(m["name"], {}).get("value")
            u = (plain["result"]["workloads"][w]["e2e"].get(m["name"], {}).get("value")
                 if plain and plain["seed"] == traced["seed"] else None)
            if t is not None and u is not None:
                print(f"| {m['name']} ({m['unit']}) | {u:.6g} | {t:.6g} | {(t - u) / u:+.1%} |")
            elif t is not None:
                print(f"| {m['name']} ({m['unit']}) | n/a | {t:.6g} | n/a |")
        print("\n| layer metric | value | unit |")
        print("|---|---|---|")
        for m in bench["per_layer"]:
            if m["name"] in tw["layers"]:
                print(f"| {m['name']} | {tw['layers'][m['name']]['value']:.6g} | {m['unit']} |")
        med = tw["info"].get("query_median_s", {})
        if med:
            print(f"\n{len(med)} queries, median seconds each:\n")
            print("| query | s |")
            print("|---|---|")
            for q, v in sorted(med.items()):
                print(f"| {q} | {v:.4f} |")
        selfs = {k: v for k, v in tw["info"].items() if k.startswith("self.")}
        if selfs:
            print("\n| span (module.call) | self time (s, summed) |")
            print("|---|---|")
            for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
                print(f"| {k[5:]} | {v:.4f} |")
        print()


if __name__ == "__main__":
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    main(sys.argv[1])
