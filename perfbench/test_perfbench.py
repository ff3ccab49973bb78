"""The benchmark's own tests (about three minutes, most of it the smoke run
and one bulk_validate run; the first run also builds):

    python3 -m unittest perfbench/test_perfbench.py
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import compare  # noqa: E402
import run as run_py  # noqa: E402


def run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


class SmokeTest(unittest.TestCase):

    def test_smoke_runs_every_workload_and_check(self):
        p = run(["--smoke", "--trace", "1", "--seconds", "1"])
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        last = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(sorted(last), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(last["correct"])
        self.assertEqual(last["failed"], 0)
        self.assertGreater(last["attempted"], 0)
        self.assertIn("CLI parity ok", p.stdout)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        for w in ("bulk_validate", "many_parts_resume", "operator_registry"):
            for m in bench["end_to_end"]:
                v = last["metrics"][f"{w}.{m['name']}"]
                self.assertGreater(v["value"], 0, f"{w}.{m['name']}")
                self.assertEqual(v["unit"], m["unit"])
            for m in bench["per_layer"]:
                self.assertIn(f"{w}.{m['name']}", last["metrics"])
        # each workload ran the layers it names
        self.assertGreater(last["metrics"]["bulk_validate.L4_commit.self_s"]["value"], 0)
        self.assertGreater(last["metrics"]["many_parts_resume.phase.resume_s"]["value"], 0)
        self.assertGreater(last["metrics"]["operator_registry.queries.q_s"]["value"], 0)


class RefusalTest(unittest.TestCase):

    def test_fails_without_the_repository_sources(self):
        bare = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
            shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                            ignore=shutil.ignore_patterns("data", "__pycache__"))
            p = run(["--workload", "bulk_validate", "--seed", "1"], cwd=bare, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"correct"', p.stdout)
        finally:
            shutil.rmtree(bare)

    def test_fails_when_a_rule_stops_firing(self):
        # the oracle, not the engine, defines the expected output: a rules
        # file whose enum no longer fires must fail at any seed (the same
        # docs still fail on the span invariant, so the read-back catches it)
        copy = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), copy)
            shutil.copytree(os.path.join(ROOT, "src"), os.path.join(copy, "src"))
            shutil.copytree(HERE, os.path.join(copy, "perfbench"),
                            ignore=shutil.ignore_patterns("data", "results", "__pycache__"))
            rules = os.path.join(copy, "perfbench", "rules.yaml")
            with open(rules) as fh:
                text = fh.read()
            with open(rules, "w") as fh:
                fh.write(text.replace("enum: [text, media]", "type: string"))
            # the same sources, so the copy reuses this checkout's build
            # (built first: a stale one would be cleaned up through the link)
            build.build()
            os.makedirs(os.path.join(copy, ".bench_build"))
            for d in os.listdir(os.path.join(ROOT, ".bench_build")):
                if d.startswith("classes-"):
                    os.symlink(os.path.join(ROOT, ".bench_build", d),
                               os.path.join(copy, ".bench_build", d))
            p = run(["--workload", "bulk_validate", "--seed", "3"], cwd=copy)
            self.assertEqual(p.returncode, 1, p.stderr[-3000:])
            last = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertFalse(last["correct"])
            self.assertGreater(last["failed"], 0)
            self.assertIn("read-back", p.stderr)
        finally:
            shutil.rmtree(copy)

    def test_compare_refuses_different_fingerprints(self):
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            def record(side, heap):
                os.makedirs(os.path.join(d, side))
                r = {"workloads": ["bulk_validate"], "seed": 1, "trace": 0, "scale": "full",
                     "fingerprint": {"commit": side, "heap": heap},
                     "result": {"workloads": {"bulk_validate": {"e2e": {}}}}}
                with open(os.path.join(d, side, "r.json"), "w") as fh:
                    json.dump(r, fh)
            record("a", "3g")
            record("b", "4g")
            self.assertEqual(compare.main(os.path.join(d, "a"), os.path.join(d, "b")), 2)
        finally:
            shutil.rmtree(d)


class LayerMetricsTest(unittest.TestCase):

    def test_traced_run_keeps_the_named_workloads_layers_first(self):
        per_layer = [{"name": n, "unit": "s"} for n in
                     ("setup.first_s", "phase.resume_s", "queries.q_s", "L0_scan.self_s")]
        named = {"setup.first_s": {"value": 2.0}, "phase.resume_s": {"value": 1.5}}
        added = {"setup.first_s": {"value": 3.0}, "queries.q_s": {"value": 0.3}}
        got = run_py.layer_metrics(per_layer, [named, added])
        self.assertEqual({k: v["value"] for k, v in got.items()},
                         {"setup.first_s": 2.0, "phase.resume_s": 1.5, "queries.q_s": 0.3,
                          "L0_scan.self_s": 0.0})

    def test_every_workload_runs_in_a_listed_workloads_runs(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            listed = [w["name"] for w in json.load(fh)["workloads"]]
        covered = set(listed) | {x for w in listed for x in run_py.TRACED_WITH.get(w, [])}
        self.assertEqual(covered, set(run_py.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
