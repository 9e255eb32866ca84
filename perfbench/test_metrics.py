"""Tests of the benchmark's own arithmetic on hand-made inputs:
``python -m pytest perfbench``."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
from tracing import Tracer  # noqa: E402


class TestTailPercentile:
    def test_ten_samples_beyond(self):
        # 20 samples 1..20: rank 9 (value 10) has exactly ten above it
        assert metrics.tail_percentile(range(1, 21)) == (50.0, 10.0)

    def test_more_samples_move_the_percentile_up(self):
        p, v = metrics.tail_percentile(range(1, 101))
        assert (p, v) == (90.0, 90.0)
        assert sum(1 for x in range(1, 101) if x > v) == 10

    def test_unsorted_input(self):
        vals = list(range(1, 21))[::-1]
        assert metrics.tail_percentile(vals) == (50.0, 10.0)

    def test_too_few_samples(self):
        assert metrics.tail_percentile(range(10)) is None
        assert metrics.tail_percentile(range(11)) == (100 / 11, 0.0)


class TestBloomFpRate:
    def test_from_round_stats(self):
        # 100 candidates, 30 bloom hits → 70 certainly new; 75 fresh
        # means 5 of the 30 hits were false positives
        assert metrics.bloom_fp_rate(100, 30, 75) == pytest.approx(5 / 75)

    def test_no_false_positives(self):
        assert metrics.bloom_fp_rate(100, 30, 70) == 0.0

    def test_no_fresh(self):
        assert metrics.bloom_fp_rate(10, 10, 0) == 0.0


class TestAttribution:
    def test_job_goes_to_the_call_holding_its_submission(self):
        calls = [("a", 0.0, 10.0), ("b", 10.5, 20.0)]
        events = [(1, 0.5), (2, 9.9), (3, 10.2), (4, 15.0), (5, 25.0)]
        assert metrics.attribute(events, calls) == {"a": [1, 2], "b": [4]}

    def test_innermost_call_wins(self):
        calls = [("outer", 0.0, 10.0), ("inner", 2.0, 4.0)]
        got = metrics.attribute([(1, 1.0), (2, 3.0), (3, 5.0)], calls)
        assert got == {"outer": [1, 3], "inner": [2]}

    def test_tracer_hangs_jobs_and_stages_under_calls(self):
        t = Tracer(True)
        t.spans = [{"id": 0, "parent": None, "name": "run_round",
                    "kind": "call", "start": 100.0, "end": 104.0}]
        jobs = [{"jobId": 7, "submitted": 100.5, "completed": 101.0,
                 "description": "round 1: wave select+count",
                 "stageIds": [3, 4]},
                {"jobId": 8, "submitted": 99.0, "completed": 100.2,
                 "description": "", "stageIds": [5]}]
        stage = {"attempt": 0, "submitted": 100.6, "completed": 100.9,
                 "tasks": 4, "run_s": 1.5, "cpu_s": 1.0, "shuffle_bytes": 10}
        # stage 4 skipped, job 8 outside every call
        t.attach_spark(jobs, {3: stage}, {3, 4, 5})
        call = t.calls()[0]
        assert [j["name"] for j in t.children(0, "job")] == ["job 7"]
        assert [s["name"] for s in t.stages_of(call)] == ["stage 3"]

    def test_reused_stage_stays_with_the_job_that_ran_it(self):
        t = Tracer(True)
        t.spans = [{"id": 0, "parent": None, "name": "c", "kind": "call",
                    "start": 0.0, "end": 10.0}]
        jobs = [{"jobId": 1, "submitted": 1.0, "completed": 3.0,
                 "description": "", "stageIds": [10]},
                {"jobId": 2, "submitted": 4.0, "completed": 5.0,
                 "description": "", "stageIds": [10, 11]}]
        st = {"attempt": 0, "tasks": 1, "run_s": 1.0, "cpu_s": 1.0,
              "shuffle_bytes": 0}
        stages = {10: {**st, "submitted": 1.1, "completed": 2.9},
                  11: {**st, "submitted": 4.1, "completed": 4.9}}
        t.attach_spark(jobs, stages, {10, 11})
        got = {j["name"]: [s["name"] for s in t.children(j["id"], "stage")]
               for j in t.children(0, "job")}
        assert got == {"job 1": ["stage 10"], "job 2": ["stage 11"]}


    def test_stage_dropped_by_the_store_fails(self):
        t = Tracer(True)
        t.spans = [{"id": 0, "parent": None, "name": "c", "kind": "call",
                    "start": 0.0, "end": 10.0}]
        jobs = [{"jobId": 1, "submitted": 1.0, "completed": 3.0,
                 "description": "", "stageIds": [10, 11]}]
        with pytest.raises(RuntimeError, match="dropped 1 stages"):
            t.attach_spark(jobs, {}, {11})

    def test_missing_ids(self):
        assert metrics.missing_ids([0, 1, 2]) == []
        assert metrics.missing_ids([3, 1, 2]) == [0]
        assert metrics.missing_ids([0, 4]) == [1, 2, 3]
        assert metrics.missing_ids([]) == []


class TestDriverGap:
    def test_gap_is_wall_minus_union_of_stages(self):
        stages = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0)]
        # stages cover [1,4] and [6,7] = 4 s of a 10 s call
        assert metrics.driver_gap((0.0, 10.0), stages) == pytest.approx(6.0)

    def test_stages_clipped_to_the_call(self):
        assert metrics.driver_gap((2.0, 5.0), [(0.0, 3.0), (4.0, 9.0)]) \
            == pytest.approx(1.0)

    def test_no_stages(self):
        assert metrics.driver_gap((0.0, 2.5), []) == 2.5


class TestSelfTime:
    def test_children_cover_part_of_the_parent(self):
        spans = [
            {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
            {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
            {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},
            {"id": 3, "parent": 1, "start": 2.0, "end": 3.0},
        ]
        got = metrics.self_times(spans)
        assert got[0] == pytest.approx(5.0)   # children cover [1, 6]
        assert got[1] == pytest.approx(2.0)   # grandchild not counted at 0
        assert got[2] == pytest.approx(3.0)
        assert got[3] == pytest.approx(1.0)

    def test_child_running_past_its_parent(self):
        spans = [{"id": 0, "parent": None, "start": 0.0, "end": 2.0},
                 {"id": 1, "parent": 0, "start": 1.5, "end": 3.0}]
        assert metrics.self_times(spans)[0] == pytest.approx(1.5)


class TestSkew:
    def test_max_over_median(self):
        assert metrics.skew([1.0, 1.0, 4.0]) == 4.0
        assert metrics.skew([]) == 0.0


class TestSustainedPeak:
    def test_one_sample_spike_does_not_count(self):
        assert metrics.sustained_peak([10, 12, 40, 12, 11]) == 12

    def test_level_held_over_two_samples(self):
        assert metrics.sustained_peak([10, 30, 31, 12]) == 30

    def test_few_samples(self):
        assert metrics.sustained_peak([7]) == 7
        assert metrics.sustained_peak([]) == 0
