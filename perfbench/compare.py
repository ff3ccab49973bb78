#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. a parent commit and a change.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are directories of run records (what run.py writes to
`.bench_build/results/`) or single record files. Untraced runs are paired by
(workload, seed); the comparison is refused, exit code 2, when two paired
runs have fingerprints that differ in anything but the commit and the source
digest (cores, heap, GC, Spark and Java versions, session confs, corpus
seed/size/bytes). For each workload and end-to-end metric it prints each
side's median and quartiles, the change of the median, and whether it stays
within the bound BENCHMARK.json fixes.
"""
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    runs = {}
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if r.get("trace") == 0 and r.get("scale") == "full":
            for w in r["workloads"]:
                runs[(w, r["seed"])] = r
    return runs


def comparable(fp):
    return {k: v for k, v in fp.items() if k not in ("commit", "source_digest")}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(base_path, new_path):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    base, new = load(base_path), load(new_path)
    pairs = sorted(set(base) & set(new))
    if not pairs:
        print("no (workload, seed) pair was run on both sides", file=sys.stderr)
        return 2
    for key in pairs:
        a, b = comparable(base[key]["fingerprint"]), comparable(new[key]["fingerprint"])
        if a != b:
            diff = sorted(k for k in set(a) | set(b) if a.get(k) != b.get(k))
            print(f"refused: {key} fingerprints differ in {', '.join(diff)}", file=sys.stderr)
            return 2
    for w in sorted({w for w, _ in pairs}):
        seeds = [s for ww, s in pairs if ww == w]
        print(f"== {w} ({len(seeds)} paired seeds)")
        for m in bench["end_to_end"]:
            def vals(runs):
                return [runs[(w, s)]["result"]["workloads"][w]["e2e"][m["name"]]["value"]
                        for s in seeds]
            q1a, ma, q3a = quartiles(vals(base))
            q1b, mb, q3b = quartiles(vals(new))
            change = (mb - ma) / ma
            worse = change if m["better"] == "lower" else -change
            spread = (q3a - q1a) / ma
            verdict = ("unresolved (base spread above bound)" if spread > m["bound"]
                       else "WORSE than bound" if worse > m["bound"] else "within bound")
            print(f"  {m['name']:<18} base {ma:.6g} [{q1a:.6g}, {q3a:.6g}]  new {mb:.6g} "
                  f"[{q1b:.6g}, {q3b:.6g}] {m['unit']}  change {change:+.1%}  "
                  f"bound {m['bound']:.0%}: {verdict}")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(sys.argv[1], sys.argv[2]))
