#!/usr/bin/env python3
"""The repository's benchmark: graft's production validation path, its
crash-resume and the operator registry, measured end to end (untraced) or
layer by layer (traced). See perfbench/README.md.

    python3 perfbench/run.py --workload bulk_validate --seed 7 --seconds 15 --trace 0
    python3 perfbench/run.py --smoke            # all workloads at tiny sizes

Builds the program from source (perfbench/build.py), prepares the corpora
and their expected outputs in one JVM (perfbench.Prepare), measures in
another (perfbench.Harness) at local[nproc], checks every output (in traced
and smoke runs also graft.Main as a child process, for CLI parity), and
prints one JSON object as the last line:
{"correct", "attempted", "failed", "metrics"}. Exits 1 when a check fails and
2 when the repository's sources are missing.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("bulk_validate", "many_parts_resume", "operator_registry")
# A traced run of the workload on the left also runs those on the right, in
# the same measuring JVM, so that their per-layer metrics are measured by
# the workloads BENCHMARK.json lists.
TRACED_WITH = {"many_parts_resume": ["operator_registry"]}
DEADLINE_S = 175


def git_commit():
    try:
        return subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10,
                              check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def reset(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def spark_env(work):
    return dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))


def cli_parity(cp, archive, work, tmp, corpus, failed_docs, timeout):
    """graft.Main on the parity corpus must exit 1 with the replay's failed docs."""
    out = os.path.join(work, "cli-out")
    cmd = build.java_cmd(cp, tmp, archive) + [
        f"-Dspark.master=local[{build.nproc()}]", "graft.Main",
        "--rules", os.path.join(HERE, "rules.yaml"), "--docs", corpus, "--out", out]
    t0 = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout,
                       env=spark_env(work), cwd=work)
    shutil.rmtree(out, ignore_errors=True)
    m = re.findall(r"failed_docs=(\d+)", p.stderr)
    got = int(m[-1]) if m else None
    ok = p.returncode == 1 and got == failed_docs
    return ok, (f"graft.Main exit {p.returncode}, failed_docs={got}; in-process replay "
                f"failed_docs={failed_docs} ({time.time() - t0:.1f} s)")


def layer_metrics(per_layer, layers, prefix=""):
    """Per-layer metrics of a traced run. `layers` holds the layer values of
    the run's workloads, the named one first: each metric takes the first
    value found, and a layer no workload ran reports 0."""
    out = {}
    for m in per_layer:
        v = next((ls[m["name"]]["value"] for ls in layers if m["name"] in ls), 0.0)
        out[prefix + m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def main():
    root = build.ROOT
    bench = json.load(open(os.path.join(root, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--smoke", action="store_true",
                    help="all workloads at tiny sizes (the benchmark's own tests)")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if bool(a.workload) == a.smoke:
        ap.error("give exactly one of --workload or --smoke")
    t_start = time.time()
    if not build.has_repo_sources():
        print("error: src/main/scala is missing; run from a checkout of the repository",
              file=sys.stderr)
        return 2
    cp, src_digest, archive = build.build()
    build_s = time.time() - t_start
    deadline = t_start + DEADLINE_S + (build_s if build_s > 5 else 0)

    work = os.path.join(build.BUILD, "work")
    tmp = os.path.join(build.BUILD, "tmp")
    reset(work)
    reset(tmp)
    workloads = list(WORKLOADS) if a.smoke else (
        [a.workload] + (TRACED_WITH.get(a.workload, []) if a.trace else []))
    scale = "smoke" if a.smoke else "full"
    sys.stdout.flush()

    def jvm(main, result):
        cmd = build.harness_cmd(cp, tmp, archive, work, result, workloads, a.seed, a.seconds,
                                a.trace, scale, main=main)
        try:
            subprocess.run(cmd, check=True, env=spark_env(work), cwd=work,
                           timeout=max(30.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            print(f"error: {main} ran out of time", file=sys.stderr)
            return None
        except subprocess.CalledProcessError as e:
            print(f"error: {main} exited with {e.returncode}", file=sys.stderr)
            return None
        with open(result) as fh:
            return json.load(fh)

    # corpora and their expected outputs, when not cached, and the CLI-parity
    # replay, in a JVM of their own: the measuring JVM does the same work
    # every run
    prep = {"attempted": 0, "failed": 0, "errors": [], "parity": None}
    if any(w != "operator_registry" for w in workloads):
        prep = jvm("perfbench.Prepare", os.path.join(work, "prepare.json"))
        if prep is None:
            return 1
        for err in prep["errors"]:
            print(f"[perfbench] prepare: {err}", file=sys.stderr)
    res = jvm("perfbench.Harness", os.path.join(work, "result.json"))
    if res is None:
        return 1

    checks = []
    # traced and smoke runs of bulk_validate prepare a parity corpus and its
    # in-process verdict for graft.Main to reproduce
    parity = prep["parity"]
    if parity:
        ok, detail = cli_parity(cp, archive, work, tmp, parity["corpus"],
                                parity["failed_docs"], max(20.0, deadline - time.time()))
        print(f"[perfbench] CLI parity {'ok' if ok else 'FAILED'}: {detail}")
        checks.append(ok)

    attempted = len(checks) + prep["attempted"] + sum(
        w["attempted"] for w in res["workloads"].values())
    failed = checks.count(False) + prep["failed"] + sum(
        w["failed"] for w in res["workloads"].values())
    metrics = {}
    for name, w in res["workloads"].items():
        for err in w["errors"]:
            print(f"[perfbench] {name}: {err}", file=sys.stderr)
        prefix = f"{name}." if a.smoke else ""
        # one check per workload: every end-to-end metric is there and positive
        attempted += 1
        bad = [m["name"] for m in bench["end_to_end"]
               if not isinstance(w["e2e"].get(m["name"], {}).get("value"), (int, float))
               or w["e2e"][m["name"]]["value"] <= 0]
        if bad:
            print(f"[perfbench] {name}: end-to-end metrics missing or not positive: "
                  f"{', '.join(bad)}", file=sys.stderr)
            failed += 1
        for m in bench["end_to_end"]:
            v = w["e2e"].get(m["name"], {}).get("value")
            if a.trace == 0 or a.smoke:
                metrics[prefix + m["name"]] = {"value": v, "unit": m["unit"]}
        if a.trace == 1 and a.smoke:
            metrics.update(layer_metrics(bench["per_layer"], [w["layers"]], prefix))
    if a.trace == 1 and not a.smoke:
        metrics.update(layer_metrics(bench["per_layer"],
                                     [w["layers"] for w in res["workloads"].values()]))

    # the run's record, with the fingerprint compare.py checks
    record = {
        "workloads": workloads, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": scale, "build_s": build_s, "attempted": attempted, "failed": failed,
        "fingerprint": {"commit": git_commit(), "source_digest": src_digest,
                        "nproc": build.nproc(), "heap": build.HEAP, "gc": build.GC,
                        "jvm": res["fingerprint"],
                        "corpora": {n: {k: w["info"]["corpus"][k] for k in
                                        ("seed", "docs", "parts", "bytes")}
                                    for n, w in res["workloads"].items()
                                    if "corpus" in w["info"]}},
        "result": res}
    results_dir = os.path.join(build.BUILD, "results")
    os.makedirs(results_dir, exist_ok=True)
    name = f"{'+'.join(workloads)}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}"
    with open(os.path.join(results_dir, name + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
