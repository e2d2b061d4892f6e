"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import benchstats as bs


def span(id, name, start, end, parent=-1, attrs=None):
    return {"type": "span", "run": "r", "id": id, "name": name, "parent": parent,
            "start_ms": start, "end_ms": end, "attrs": attrs or {}}


def job(id, start, end, stages, group="", desc=""):
    return {"type": "job", "run": "r", "id": id, "group": group, "desc": desc,
            "start_ms": start, "end_ms": end, "stages": stages, "ok": True}


def stage(id, start, end, task_ms, shuffle=0, spill=0):
    s = sorted(task_ms)
    return {"type": "stage", "id": id, "attempt": 0, "start_ms": start, "end_ms": end,
            "tasks": len(s), "task_ms_sum": sum(s), "task_ms_max": s[-1],
            "task_ms_median": s[len(s) // 2], "shuffle_bytes": shuffle, "spill_bytes": spill}


class SelfTime(unittest.TestCase):
    def test_leaf_is_its_duration(self):
        self.assertEqual(bs.self_ms(span(0, "a", 100, 350), []), 250)

    def test_children_are_subtracted(self):
        parent = span(0, "p", 0, 1000)
        kids = [span(1, "a", 100, 300, 0), span(2, "b", 500, 900, 0)]
        self.assertEqual(bs.self_ms(parent, kids), 1000 - 200 - 400)

    def test_overlapping_children_count_once(self):
        parent = span(0, "p", 0, 1000)
        kids = [span(1, "a", 100, 600, 0), span(2, "b", 400, 800, 0)]
        self.assertEqual(bs.self_ms(parent, kids), 1000 - 700)

    def test_child_outside_the_parent_is_clipped(self):
        parent = span(0, "p", 100, 200)
        kids = [span(1, "a", 50, 150, 0), span(2, "b", 180, 400, 0)]
        self.assertEqual(bs.self_ms(parent, kids), 100 - 50 - 20)

    def test_nested_self_times_sum_to_the_root(self):
        # root 0..1000 > mid 100..900 > leaf 200..400
        spans = [span(0, "rollup.pass", 0, 1000), span(1, "mid", 100, 900, 0),
                 span(2, "leaf", 200, 400, 1)]
        kids = {0: [spans[1]], 1: [spans[2]], 2: []}
        total = sum(bs.self_ms(s, kids[s["id"]]) for s in spans)
        self.assertEqual(total, 1000)
        self.assertEqual(bs.self_ms(spans[1], kids[1]), 600)


class Percentile(unittest.TestCase):
    def test_median(self):
        self.assertEqual(bs.median([3, 1, 2]), 2)

    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(bs.percentile(list(range(1, 100)), 90))  # 9 samples above
        self.assertEqual(bs.percentile(list(range(1, 101)), 90), 90)  # 10 above

    def test_ties_at_the_percentile_are_not_beyond_it(self):
        xs = [1.0] * 95 + [2.0] * 9
        self.assertIsNone(bs.percentile(xs, 50))
        self.assertEqual(bs.percentile([1.0] * 50 + [2.0] * 10, 50), 1.0)

    def test_empty(self):
        self.assertIsNone(bs.percentile([], 50))

    def test_spread_is_iqr_over_median(self):
        xs = [10.0] * 10
        self.assertEqual(bs.spread(xs), 0.0)
        q1, _, q3 = __import__("statistics").quantiles([1, 2, 3, 4, 5], n=4)
        self.assertAlmostEqual(bs.spread([1, 2, 3, 4, 5]), (q3 - q1) / 3)


class FailedFrac(unittest.TestCase):
    def test_share_of_attempted(self):
        self.assertEqual(bs.failed_frac(40, 0), 0.0)
        self.assertEqual(bs.failed_frac(40, 10), 0.25)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            bs.failed_frac(0, 0)
        with self.assertRaises(ValueError):
            bs.failed_frac(5, 6)


class LayerMetrics(unittest.TestCase):
    def test_rollup_spans_and_jobs(self):
        g = "perfbench-r-{}".format
        recs = [
            span(0, "rollup.pass", 0, 4000),
            span(1, "SeriesDerive", 0, 2000, 0, {"rows_out": 7}),
            span(2, "GapFill_hourly", 2000, 3000, 0),
            span(3, "Tiers.coarse", 3000, 3900, 0),
            job(0, 10, 1990, [0, 1], g(1)), stage(0, 10, 900, [400, 400, 400, 1200]),
            stage(1, 900, 1990, [1000, 1000, 1000, 1000], shuffle=2_000_000),
            job(1, 2000, 3000, [1, 2], g(2)), stage(2, 2000, 3000, [500] * 4, spill=1_000_000),
            job(2, 3000, 3900, [3], g(3)), stage(3, 3000, 3900, [200] * 2),
            job(3, 50, 60, [9], "", "untraced check job"),
        ]
        m = bs.layer_metrics(recs, 4, [5.0], [4.0], 0.02)
        self.assertEqual(m["SeriesDerive.self_s"], 2.0)
        self.assertEqual(m["SeriesDerive.task_s"], 6.4)
        self.assertAlmostEqual(m["SeriesDerive.core_util"], 6.4 / (2.0 * 4))
        self.assertEqual(m["SeriesDerive.task_skew"], 1.0)  # the longest stage is even
        self.assertEqual(m["SeriesDerive.shuffle_mb"], 2.0)
        self.assertEqual(m["SeriesDerive.rows_out"], 7)
        self.assertEqual(m["SeriesDerive.jobs"], 1)
        # stage 1 was claimed by job 0, so it is not counted again for job 1
        self.assertEqual(m["GapFill_hourly.task_s"], 2.0)
        self.assertEqual(m["GapFill_hourly.spill_mb"], 1.0)
        self.assertEqual(m["Tiers.coarse.jobs"], 1)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.25)
        self.assertEqual(m["trace.box.steal_frac"], 0.02)
        self.assertEqual(m["MixedEffects.self_s"], 0.0)  # not on this workload
        self.assertEqual(set(m), {n for n, _, _ in bs.PER_LAYER})

    def test_overhead_cancels_linear_drift_over_an_abba_block(self):
        # passes speed up by 0.5 s each; tracing adds 10 % to the traced two
        untraced = [4.0, 2.5]
        traced = [3.5 * 1.1, 3.0 * 1.1]
        m = bs.layer_metrics([], 4, traced, untraced, 0.0)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)

    def test_study_phases_from_job_labels(self):
        g = "perfbench-r-1"
        recs = [
            span(0, "study.pass", 0, 10000), span(1, "study", 0, 9000, 0),
            job(0, 100, 400, [0], g, "study"), stage(0, 100, 400, [100] * 4),
            job(1, 1000, 1500, [1], g, "ctas:coverage"), stage(1, 1000, 1500, [300] * 4),
            job(2, 2000, 2500, [2], g, "ctas:kernels"), stage(2, 2000, 2500, [100, 100, 100, 900]),
            job(3, 2600, 2700, [3], "", ""), stage(3, 2600, 2700, [50]),
            job(4, 8000, 8500, [4], g, "ctas:outputs"), stage(4, 8000, 8500, [10]),
        ]
        m = bs.layer_metrics(recs, 4, [], [], 0.0)
        self.assertEqual(m["SchemaCheck.self_s"], 1.0)
        self.assertEqual(m["SchemaCheck.jobs"], 1)
        self.assertEqual(m["ctas.coverage.wall_s"], 1.0)
        self.assertEqual(m["ctas.kernels.wall_s"], 6.0)
        self.assertEqual(m["ctas.kernels.task_skew"], 9.0)
        self.assertEqual(m["ctas.outputs.wall_s"], 1.0)
        self.assertEqual(m["ctas.unlabeled.jobs"], 1)
        self.assertEqual(m["ctas.unlabeled.wall_s"], 0.1)
        self.assertEqual(m["trace.overhead_frac"], 0.0)  # no untraced pass to compare

    def test_ingest_counts(self):
        recs = [span(0, "ingest.pass", 0, 100, attrs={"manifest_files": 30})]
        nid = 1
        for k in range(1, 8):  # append k rebuilds k day partitions, one of them new
            recs.append(span(nid, "TierBuilder.buildHourly", 0, 1, 0,
                             {"partitions_built": k, "partitions_new": 1}))
            recs.append(span(nid + 1, "TierBuilder.read", 1, 2, 0,
                             {"files_read": 8, "rows_scanned": 100, "rows_returned": 4}))
            nid += 2
        m = bs.layer_metrics(recs, 4, [], [], 0.0)
        self.assertEqual(m["TierBuilder.buildHourly.partitions_built"], 28)
        self.assertEqual(m["TierBuilder.buildHourly.partitions_new"], 7)
        self.assertEqual(m["TierBuilder.buildHourly.useful_build_frac"], 0.25)
        self.assertEqual(m["TierBuilder.read.files_read"], 8)
        self.assertEqual(m["TierBuilder.read.rows_scanned_per_row_returned"], 25)
        self.assertEqual(m["SnapshotStore.manifest_files"], 30)


if __name__ == "__main__":
    unittest.main()
