"""Self-check of the traced run, on hand-made spans.

    python3 perfbench/test_layers.py
"""
import json
import sys
import tempfile
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import layers  # noqa: E402

JOB = {"type": "job", "phase": "action", "ok": True, "stages": 1,
       "tasks": 4, "failed_tasks": 0, "empty_tasks": 0, "task_ms": 40,
       "cpu_ms": 30.0, "task_gc_ms": 0, "delay_ms": 1, "input_bytes": 0,
       "input_rows": 0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
       "fetch_wait_ms": 0, "spill_bytes": 0, "output_bytes": 0,
       "output_rows": 0}
QUERY = {"type": "query", "id": "0:q1", "query": "q1", "pass": 0,
         "start": 1000, "end": 1100, "build_ms": 10.0, "action_ms": 90.0,
         "rows": 1, "error": "", "gc_ms": 0, "wchar": 0, "rchar": 0,
         "cached_bytes": 0, "files_created": 0, "renames": 0, "deletes": 0}
PASSES = [{"pass": 0, "traced": True, "seconds": 0.1, "wchar": 0},
          {"pass": 1, "traced": False, "seconds": 0.1, "wchar": 0}]


def check(query, jobs):
    spans = [query] + [dict(JOB, parent=query["id"], job=i, start=s, end=e)
                       for i, (s, e) in enumerate(jobs)]
    with tempfile.TemporaryDirectory() as d:
        path = Path(d) / "spans.jsonl"
        path.write_text("".join(json.dumps(s) + "\n" for s in spans))
        return layers.summarize(path, PASSES, 4)


class SelfCheck(unittest.TestCase):
    def test_jobs_inside_the_window_pass(self):
        metrics, _, problems = check(QUERY, [(1010, 1040), (1030, 1060),
                                             (1080, 1090)])
        self.assertEqual(problems, [])
        self.assertEqual(metrics["scheduler.job_ms"]["value"], 60)
        self.assertEqual(metrics["scheduler.gap_ms"]["value"], 40)

    def test_job_spilling_out_of_its_window_fails(self):
        _, _, problems = check(QUERY, [(1010, 1040), (1080, 1130)])
        self.assertEqual(len(problems), 2)
        self.assertIn("outside the query window", problems[0])
        self.assertIn("!= wall 100 ms", problems[1])

    def test_job_starting_before_its_window_fails(self):
        _, _, problems = check(QUERY, [(990, 1040)])
        self.assertTrue(any("outside" in p for p in problems))

    def test_window_disagreeing_with_the_timed_call_fails(self):
        _, _, problems = check(dict(QUERY, action_ms=60.0), [(1010, 1040)])
        self.assertEqual(len(problems), 1)
        self.assertIn("build + action", problems[0])

    def test_job_without_a_query_parent_fails(self):
        with tempfile.TemporaryDirectory() as d:
            path = Path(d) / "spans.jsonl"
            path.write_text(json.dumps(QUERY) + "\n" + json.dumps(
                dict(JOB, parent="9:gone", job=7, start=1010, end=1020)))
            _, _, problems = layers.summarize(path, PASSES, 4)
        self.assertTrue(any("without a query parent" in p for p in problems))


if __name__ == "__main__":
    unittest.main()
