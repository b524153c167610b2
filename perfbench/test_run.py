"""Tests of run.py's result-line check: python3 -m unittest perfbench/test_run.py"""

import json
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def line(metrics, **extra):
    result = {"correct": True, "attempted": 3, "failed": 0,
              "metrics": {n: {"value": 1.5, "unit": u} for n, u in metrics.items()}}
    result.update(extra)
    return json.dumps(result)


class CheckResultTest(unittest.TestCase):
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())

    def declared(self, key):
        return {m["name"]: m["unit"] for m in self.spec[key]}

    def test_accepts_exactly_the_declared_metrics(self):
        run.check_result(line(self.declared("end_to_end")), trace=False)
        run.check_result(line(self.declared("per_layer")), trace=True)

    def test_rejects_a_missing_renamed_or_extra_metric(self):
        e2e = self.declared("end_to_end")
        missing = dict(list(e2e.items())[1:])
        renamed = dict(e2e, latency_s="s")
        del renamed[next(iter(e2e))]
        extra = dict(e2e, another_s="s")
        for metrics in (missing, renamed, extra):
            with self.assertRaises(ValueError):
                run.check_result(line(metrics), trace=False)

    def test_rejects_a_wrong_unit(self):
        e2e = self.declared("end_to_end")
        name = next(iter(e2e))
        with self.assertRaises(ValueError):
            run.check_result(line(dict(e2e, **{name: "ms"})), trace=False)

    def test_rejects_other_keys_and_no_attempts(self):
        e2e = self.declared("end_to_end")
        with self.assertRaises(ValueError):
            run.check_result(line(e2e, extra=1), trace=False)
        with self.assertRaises(ValueError):
            run.check_result(line(e2e, attempted=0), trace=False)

    def test_workloads_match_benchmark_json(self):
        self.assertEqual(tuple(w["name"] for w in self.spec["workloads"]), run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
