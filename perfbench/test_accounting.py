"""Tests of the span self-time and attribution arithmetic.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import accounting as acc


def span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def job(i, span_id, start, end, execution=-1):
    return {"id": i, "span": span_id, "execution": execution,
            "start": start, "end": end}


def stage(i, job_id, **kw):
    base = dict(id=i, job=job_id, tasks=0, failed=0, run_ms=0, cpu_ns=0,
                shuffle_write=0, shuffle_read=0, spill=0,
                in_bytes=0, in_rows=0, out_bytes=0, out_rows=0)
    base.update(kw)
    return base


class CoveredTest(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(acc.covered([(0, 4), (2, 6), (8, 9)], 0, 10), 7)

    def test_clipped_to_window(self):
        self.assertEqual(acc.covered([(-5, 2), (9, 20)], 0, 10), 3)

    def test_nothing_inside(self):
        self.assertEqual(acc.covered([(11, 12)], 0, 10), 0)
        self.assertEqual(acc.covered([], 0, 10), 0)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_is_duration_minus_children(self):
        spans = [span(0, -1, "pass:0", 0, 100),
                 span(1, 0, "op:a", 10, 40),
                 span(2, 1, "build", 10, 15),
                 span(3, 1, "materialize", 15, 38),
                 span(4, 0, "op:b", 50, 90)]
        st = acc.self_times(spans)
        self.assertEqual(st[0], 100 - 30 - 40)
        self.assertEqual(st[1], 30 - 5 - 23)
        self.assertEqual(st[2], 5)
        self.assertEqual(st[4], 40)

    def test_overlapping_children_counted_once(self):
        spans = [span(0, -1, "p", 0, 10), span(1, 0, "a", 0, 6),
                 span(2, 0, "b", 4, 8)]
        self.assertEqual(acc.self_times(spans)[0], 2)


class AttributionTest(unittest.TestCase):
    def setUp(self):
        self.trace = {
            "spans": [span(0, -1, "pass:0", 0, 100),
                      span(1, 0, "op:cold", 0, 60),
                      span(2, 0, "op:rerun", 60, 100)],
            "jobs": [job(0, 1, 5, 10, execution=7),
                     # submitted without the property (another thread):
                     # placed by its start time
                     job(1, -1, 70, 80),
                     job(2, 2, 81, 90, execution=8)],
            "executions": [{"id": 7, "root": 7, "start": 4, "end": 12},
                           {"id": 8, "root": 8, "start": 80, "end": 95},
                           {"id": 9, "root": 9, "start": 20, "end": 21}],
        }

    def test_jobs_follow_the_property_else_the_clock(self):
        tree = acc.Tree(self.trace)
        self.assertEqual(tree.job_span, {0: 1, 1: 2, 2: 2})

    def test_executions_follow_their_jobs_else_the_clock(self):
        tree = acc.Tree(self.trace)
        self.assertEqual(tree.exec_span, {7: 1, 8: 2, 9: 1})

    def test_ancestor(self):
        tree = acc.Tree(self.trace)
        self.assertEqual(tree.ancestor(1, "pass:"), 0)
        self.assertEqual(tree.ancestor(1, "op:"), 1)
        self.assertIsNone(tree.ancestor(99, "pass:"))


class StageOfTest(unittest.TestCase):
    def test_writes_decide(self):
        self.assertEqual(acc._stage_of(["similarity_pairs"]), "score")
        self.assertEqual(acc._stage_of(["view_7b_nonull"]), "views")

    def test_latest_stage_wins(self):
        self.assertEqual(
            acc._stage_of(["bronze_embeddings", "silver_fact", "similarity_pairs"]),
            "datamart")

    def test_unknown(self):
        self.assertIsNone(acc._stage_of(["embeddings.parquet"]))


def medallion_samples():
    """One traced pass whose cold phase writes bronze and scores pairs,
    and one untraced pass, with hand-checkable totals. After its three
    operations the traced pass digests the output: benchmark work under
    the bare pass span, which no per-layer metric may count."""
    spans = [span(0, -1, "pass:0", 0, 1100),
             span(1, 0, "op:cold", 0, 600),
             span(2, 0, "op:rerun", 600, 700),
             span(3, 0, "op:delta", 700, 1000)]
    jobs = [job(0, 1, 10, 110, execution=1),    # bronze write
            job(1, 1, 120, 420, execution=2),   # pairs write
            job(2, 3, 710, 900, execution=3),   # delta pairs write
            job(3, 0, 1010, 1090, execution=4), # digest, outside any op
            job(4, -1, 1020, 1030)]             # placed by the clock: outside too
    stages = [stage(0, 0, tasks=4, run_ms=300, out_rows=2000, out_bytes=500),
              stage(1, 1, tasks=8, failed=1, run_ms=1000, out_rows=180,
                    in_bytes=64, in_rows=10, shuffle_write=5),
              stage(2, 2, tasks=2, run_ms=100, out_rows=20),
              stage(3, 3, tasks=4, run_ms=70, in_rows=99, in_bytes=99,
                    shuffle_read=9),
              stage(4, 4, tasks=1, failed=1, run_ms=5)]
    def ex(i, start, end, writes, scans, rows=0):
        return {"id": i, "root": i, "start": start, "end": end,
                "writes": writes, "scans": scans, "nested_loop_rows": rows}
    executions = [
        ex(1, 5, 115,
           [{"path": "file:/w/bronze_embeddings", "files": 1, "rows": 2000, "bytes": 500}],
           [{"paths": ["file:/fx/embeddings.parquet"], "files": 1}]),
        ex(2, 115, 425,
           [{"path": "file:/w/similarity_pairs", "files": 3, "rows": 180, "bytes": 90}],
           [{"paths": ["file:/w/bronze_embeddings"], "files": 1}], rows=200),
        ex(3, 705, 905,
           [{"path": "file:/w/similarity_pairs/", "files": 1, "rows": 20, "bytes": 9}],
           [{"paths": ["file:/w/bronze_embeddings"], "files": 2}], rows=200),
        ex(4, 1005, 1095, [],
           [{"paths": ["file:/w/silver_fact"], "files": 6}])]
    actions = [
        {"func": "save", "start": 116, "analysis_ms": 4, "optimization_ms": 1,
         "planning_ms": 2},
        {"func": "save", "start": 706, "analysis_ms": 0, "optimization_ms": 1,
         "planning_ms": 4},
        # the digest's action, in the pass but outside any operation
        {"func": "collect", "start": 1006, "analysis_ms": 7, "optimization_ms": 7,
         "planning_ms": 7},
        # outside any traced pass: not counted
        {"func": "count", "start": 5000, "analysis_ms": 9, "optimization_ms": 9,
         "planning_ms": 9}]

    def it(pass_no, traced, cold, rerun, delta):
        return {"pass": pass_no, "traced": traced,
                "wall_s": cold + rerun + delta + 0.1,
                "cold": {"seconds": cold, "gc_s": 0.05},
                "rerun": {"seconds": rerun, "gc_s": 0.01},
                "delta": {"seconds": delta, "gc_s": 0.02},
                "warehouse_bytes": 3 * 1024 * 1024}
    return {
        "setup": {"staging_s": 0.5},
        "session_s": 5.5, "peak_heap_mb": 700.0, "attempted": 6,
        "failures": [],
        # a first untraced pass, then the traced one, then a warm untraced one
        "passes": [it(0, False, 0.9, 0.2, 0.4), it(1, True, 0.6, 0.1, 0.3),
                   it(2, False, 0.5, 0.1, 0.2)],
        "trace": {"spans": spans, "jobs": jobs, "stages": stages,
                  "executions": executions, "actions": actions,
                  "streams": [], "cache": {"peak_bytes": 0, "blocks": 0}},
    }


class MetricsTest(unittest.TestCase):
    def test_end_to_end_uses_untraced_passes(self):
        m = acc.end_to_end(medallion_samples())
        self.assertEqual(m["setup_s"], (6.0, "s"))
        self.assertAlmostEqual(m["pass_s"][0], (1.5 + 0.8) / 2)
        self.assertEqual(m["peak_heap_mb"], (700.0, "MB"))

    def test_per_layer_medallion(self):
        m = acc.per_layer(medallion_samples(), failed=0)
        self.assertAlmostEqual(m["cold_s"][0], 0.6)
        self.assertAlmostEqual(m["cold.bronze_s"][0], 0.110)
        self.assertAlmostEqual(m["cold.score_s"][0], 0.310)
        self.assertEqual(m["cold.jobs"][0], 2)
        self.assertEqual(m["cold.rows_written"][0], 2180)
        self.assertEqual(m["cold.pairs_scored"][0], 200)
        self.assertEqual(m["cold.pairs_kept"][0], 180)
        self.assertAlmostEqual(m["cold.score_useful_ratio"][0], 0.9)
        self.assertAlmostEqual(m["delta.score_useful_ratio"][0], 0.1)
        self.assertEqual(m["rerun.jobs"][0], 0)
        self.assertAlmostEqual(m["warehouse_mb"][0], 3.0)
        self.assertAlmostEqual(m["gc_s"][0], 0.08)
        # traced pass 1.0 s of operations, the warm untraced one 0.8 s
        self.assertAlmostEqual(m["trace.overhead_s"][0], 0.2)

    def test_work_outside_operations_is_excluded(self):
        m = acc.per_layer(medallion_samples(), failed=0)
        # only the three jobs inside op spans, not the digest's two
        self.assertEqual(m["jobs"][0], 3)
        self.assertEqual(m["tasks"][0], 14)
        self.assertEqual(m["tasks.failed"][0], 1)
        self.assertAlmostEqual(m["task_s"][0], 1.4)
        self.assertEqual(m["scan.rows"][0], 10)
        self.assertEqual(m["shuffle.read_bytes"][0], 0)
        self.assertEqual(m["write.files"][0], 5)
        self.assertEqual(m["scan.files"][0], 4)
        self.assertAlmostEqual(m["catalyst.analysis_s"][0], 0.004)
        self.assertAlmostEqual(m["catalyst.planning_s"][0], 0.006)
        # ops span 0..1000 ms; their jobs cover 100 + 300 + 190 ms of it
        self.assertAlmostEqual(m["driver_gap_s"][0], 0.41)
        # the pass outlasts its operations by the 100 ms digest
        self.assertAlmostEqual(m["harness.self_s"][0], 0.1)


if __name__ == "__main__":
    unittest.main()
