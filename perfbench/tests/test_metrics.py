"""Spec of run.py's metric arithmetic on a hand-made harness result.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402

MS = 1_000_000  # ns per ms


def span(i, parent, kind, name, start_ms, end_ms, traced=True, **attrs):
    return dict(id=i, parent=parent, kind=kind, name=name, start_ns=start_ms * MS,
                end_ns=end_ms * MS, traced=traced, error=None, **attrs)


def result():
    """A traced catalog run of one entry: a cold pass and four warm passes
    traced, untraced, untraced, traced, each 10 ms faster than the one
    before. The build call of every traced pass launches one job."""
    spans = [span(0, -1, "workload", "catalog_heavy", 0, 600, traced=False)]
    for p, (start, traced) in enumerate([(0, True), (200, True), (300, False),
                                         (400, False), (500, True)]):
        pid, oid = 1 + 4 * p, 2 + 4 * p
        spans += [
            span(pid, 0, "pass", "cold" if p == 0 else "warm", start, start + 100, traced),
            span(oid, pid, "op", "q_a", start, start + 100 - 10 * p, traced,
                 storage_bytes=10 * p),
            span(oid + 1, oid, "call", "catalog.build", start, start + 60, traced,
                 codegen_classes=5, codegen_compile_ms=7.0, codegen_exact=True,
                 memo_builds=1 if p == 0 else 0, memo_hits=0 if p == 0 else 1),
            span(oid + 2, oid, "call", "catalog.exec", start + 60, start + 90 - 10 * p,
                 traced),
        ]
    jobs = [dict(id=j, span=3 + 4 * p, start_ms=start + 10, end_ms=start + 50, ok=True)
            for j, (p, start) in enumerate([(0, 0), (1, 200), (4, 500)])]
    return {"workload": "catalog_heavy", "cores": 4, "setup_s": 1.5,
            "peak_rss_kb": 2048, "checks": {"q_a": {"rows": 3, "checksum": "9"}},
            "spans": spans, "jobs": jobs,
            "span_tasks": {"3": {"tasks": 4, "run_ms": 80, "stages": 1},
                           "7": {"tasks": 2, "run_ms": 40, "stages": 1},
                           "19": {"tasks": 2, "run_ms": 40, "stages": 1}},
            "queries": [{"end_ms": end, "analysis_ms": 1, "optimization_ms": 2,
                         "planning_ms": 3} for end in (205, 505)]}


class MetricsSpec(unittest.TestCase):
    def test_union_clips_and_merges_overlaps(self):
        self.assertEqual(run.union_ms([(0, 10), (5, 20), (30, 40)], 0, 35), 25)
        self.assertEqual(run.union_ms([], 0, 10), 0)

    def test_end_to_end_uses_untraced_warm_passes(self):
        res = result()
        passes, ops = run.passes_of(res)
        m = run.end_to_end(res, passes, ops, None, "")
        self.assertAlmostEqual(m["cold_s"][0], 0.1)
        self.assertAlmostEqual(m["warm_s"][0], 0.075)
        self.assertEqual(m["warm_s"][2], 2)
        self.assertAlmostEqual(m["peak_rss_mb"][0], 2.0)
        self.assertNotIn("rows_per_s", m)

    def test_per_layer_attributes_jobs_to_operations(self):
        res = result()
        passes, ops = run.passes_of(res)
        m, spans = run.per_layer(res, passes, ops, {})
        self.assertEqual(m["scheduler.jobs"][0], 1)
        self.assertEqual(m["executor.run_ms"][0], 40)
        self.assertEqual(m["executor.run_ms_cold"][0], 80)
        self.assertAlmostEqual(m["driver.self_ms"][0], ((90 - 40) + (60 - 40)) / 2)
        self.assertAlmostEqual(m["executor.busy_frac"][0], 40 / (40 * 4))
        self.assertEqual(m["catalyst.queries"][0], 1)
        self.assertEqual(m["catalyst.queries_cold"][0], 0)
        self.assertEqual((m["memo.builds_cold"][0], m["memo.hits"][0]), (1, 1))
        self.assertEqual(m["trace.unattributed_jobs"][0], 0)
        self.assertEqual(m["storage.live_bytes_max"][0], 40)
        build = next(s for s in spans if s["id"] == 7)
        self.assertAlmostEqual(build["self_ms"], 60 - 40)

    def test_overhead_cancels_drift_linear_in_the_pass(self):
        res = result()
        passes, ops = run.passes_of(res)
        m, _ = run.per_layer(res, passes, ops, {})
        # traced 90 + 60 ms against untraced 80 + 70 ms
        self.assertAlmostEqual(m["trace.overhead_frac"][0], 0.0)
        self.assertEqual(m["trace.overhead_frac"][2], 4)

    def test_failed_check_fails_every_operation_of_the_entry(self):
        res = result()
        res["checks"]["q_a"]["checksum"] = "wrong"
        passes, ops = run.passes_of(res)
        attempted, failed, problems = run.failures(res, passes, ops)
        self.assertEqual((attempted, failed), (5, 5))
        self.assertIn("q_a", problems[0])


if __name__ == "__main__":
    unittest.main()
