"""Self-check of the benchmark. A traced run fails it when a per-layer
metric that BENCHMARK.json names is missing, when the phase split
(build, plan, exec) leaves more than OTHER_SHARE_MAX of op wall time
unexplained (`phase.other_ms`), or when the dashboard, which serves from
warm stores, derives a store artifact (`ArtifactStore.derived` > 0).

    python3 -m unittest perfbench/test_selfcheck.py

runs one traced run per workload (about two minutes each).
"""
import json
import pathlib
import subprocess
import sys
import unittest

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
PER_LAYER = [m["name"] for m in SPEC["per_layer"]]
OTHER_SHARE_MAX = 0.35


def problems(workload, metrics, names=PER_LAYER):
    """What a traced run's metrics break of the self-check rules."""
    out = [f"per-layer metric {n} is missing" for n in names if n not in metrics]
    share = metrics.get("phase.other_share", {}).get("value")
    if share is None or share > OTHER_SHARE_MAX:
        out.append(f"phase.other_ms is {share} of op wall time, "
                   f"above {OTHER_SHARE_MAX}")
    derived = metrics.get("ArtifactStore.derived", {}).get("value")
    if workload == "dashboard" and derived != 0:
        out.append(f"dashboard derived {derived} store artifacts, not 0")
    return out


class RulesTest(unittest.TestCase):
    def complete(self):
        return {n: {"value": 1.0, "unit": "x"} for n in PER_LAYER} | {
            "phase.other_share": {"value": 0.1, "unit": "ratio"},
            "ArtifactStore.derived": {"value": 0.0, "unit": "count"}}

    def test_complete_run_passes(self):
        self.assertEqual(problems("dashboard", self.complete()), [])

    def test_missing_metric_fails(self):
        m = self.complete()
        del m["spark.shuffle_read_mb"]
        self.assertEqual(len(problems("dashboard", m)), 1)

    def test_unexplained_phase_time_fails(self):
        m = self.complete()
        m["phase.other_share"]["value"] = OTHER_SHARE_MAX + 0.01
        self.assertEqual(len(problems("dashboard", m)), 1)

    def test_dashboard_deriving_fails(self):
        m = self.complete()
        m["ArtifactStore.derived"]["value"] = 1.0
        self.assertEqual(len(problems("dashboard", m)), 1)
        self.assertEqual(problems("rebuild", m), [])


class TracedRunTest(unittest.TestCase):
    def test_traced_runs(self):
        for w in [w["name"] for w in SPEC["workloads"]]:
            with self.subTest(workload=w):
                done = subprocess.run(
                    [sys.executable, str(BENCH / "run.py"), "--workload", w,
                     "--seed", "1", "--seconds", str(SPEC["run_seconds"]),
                     "--trace", "1"],
                    cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
                self.assertEqual(done.returncode, 0)
                result = json.loads(done.stdout.strip().splitlines()[-1])
                self.assertTrue(result["correct"])
                self.assertEqual(problems(w, result["metrics"]), [])


if __name__ == "__main__":
    unittest.main()
