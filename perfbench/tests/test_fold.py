"""The benchmark's folding math, checked without Spark.

    python3 -m pytest perfbench/tests -q
"""

import math

import numpy as np
import pytest

from perfbench import fold
from perfbench.tracing import tree_rss


def test_union_length_merges_overlaps_and_gaps():
    assert fold.union_length([]) == 0.0
    assert fold.union_length([(0, 2), (1, 3)]) == 3
    assert fold.union_length([(5, 6), (0, 1), (0.5, 0.75)]) == 2
    assert fold.union_length([(0, 4), (1, 2), (3, 4)]) == 4
    # touching spans join, empty and reversed spans count nothing
    assert fold.union_length([(0, 1), (1, 2), (3, 3), (5, 4)]) == 2


def test_driver_gap_is_window_minus_clipped_task_union():
    # tasks cover [1, 3] and [2, 5] of the window [0, 4]: union 3 inside it
    assert fold.driver_gap((0, 4), [(1, 3), (2, 5)]) == pytest.approx(1.0)
    assert fold.driver_gap((0, 4), []) == 4
    # a task entirely outside the window leaves all of it as gap
    assert fold.driver_gap((0, 4), [(10, 12)]) == 4


def test_round_start_counts_phases_through_commit():
    phases = {"schedule": 1.0, "fetch": 2.0, "commit": 0.5, "bloom_update": 0.25}
    assert fold.round_start(100.0, phases) == pytest.approx(96.5)
    # a round that scheduled nothing commits after its only phase
    assert fold.round_start(10.0, {"schedule": 1.5}) == pytest.approx(8.5)


def test_phase_windows_lay_phases_end_to_end():
    w = fold.phase_windows(10.0, {"schedule": 1.0, "fetch": 2.0, "commit": 0.5})
    assert w == [("schedule", 10.0, 11.0), ("fetch", 11.0, 13.0), ("commit", 13.0, 13.5)]


def test_assign_jobs_by_submission_time():
    windows = [("schedule", 0.0, 1.0), ("fetch", 1.0, 3.0), ("schedule", 5.0, 6.0)]
    jobs = {1: 0.5, 2: 1.0, 3: 2.99, 4: 4.0, 5: 5.5, 6: -1.0}
    # half-open windows: a job submitted on a boundary belongs to the later
    # phase; jobs between rounds belong to none
    assert fold.assign_jobs(jobs, windows) == {1: 0, 2: 1, 3: 1, 5: 2}


def test_bloom_fill_and_est_fpr():
    words = np.array([0b1011, 0, 1 << 63], dtype=np.uint64)
    popcount = int(np.unpackbits(words.view(np.uint8)).sum())
    fill = fold.bloom_fill(popcount, 192)
    assert fill == pytest.approx(4 / 192)
    assert fold.est_fpr(fill, 7) == pytest.approx((4 / 192) ** 7)
    assert fold.est_fpr(0.5, 1) == 0.5
    assert fold.est_fpr(0.0, 3) == 0.0


def test_resume_s_subtracts_resumed_rounds():
    assert fold.resume_s(2.0, 15.0, [6.0, 5.5]) == pytest.approx(5.5)
    # resuming a finished crawl runs no round: construction plus wall
    assert fold.resume_s(1.0, 0.4, []) == pytest.approx(1.4)


def _job(job_id, submit_ms, stages):
    return {"Event": "SparkListenerJobStart", "Job ID": job_id,
            "Submission Time": submit_ms, "Stage IDs": stages}


def _task(stage, launch_ms, finish_ms, run_ms, shuffle=0, spilled=0, py=0):
    accums = [{"Name": "data sent to Python workers", "Update": py},
              {"Name": "number of output rows", "Update": 999}]
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch_ms, "Finish Time": finish_ms,
                          "Accumulables": accums},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                             "Memory Bytes Spilled": spilled, "Disk Bytes Spilled": 0}}


def test_fold_event_log_attributes_jobs_and_tasks_to_phases():
    windows = fold.phase_windows(100.0, {"schedule": 1.0, "fetch": 2.0, "commit": 1.0})
    events = [
        _job(0, 99_000, [0]),          # before the round: ignored
        _task(0, 99_000, 99_500, 500),
        _job(1, 100_100, [1, 2]),      # schedule
        _task(1, 100_200, 100_600, 400, shuffle=10),
        _task(2, 100_400, 100_900, 500, spilled=7),
        _job(2, 101_000, [3]),         # fetch
        _task(3, 101_000, 102_000, 1000, py=64),
        _job(3, 103_500, [4]),         # commit: not a reported phase
        _task(4, 103_500, 103_600, 100),
    ]
    acc, missing = fold.fold_event_log(events, windows)
    assert acc["schedule"]["jobs"] == 1
    assert acc["schedule"]["task_s"] == pytest.approx(0.9)
    assert acc["schedule"]["shuffle_bytes"] == 10
    assert acc["schedule"]["spill_bytes"] == 7
    # window [100, 101]; tasks cover [100.2, 100.9]
    assert acc["schedule"]["driver_gap_s"] == pytest.approx(0.3)
    assert acc["fetch"]["jobs"] == 1
    assert acc["fetch"]["python_bytes"] == 64
    assert acc["fetch"]["driver_gap_s"] == pytest.approx(1.0)
    assert set(missing) == {"link_discovery", "seen_filter", "stage_deltas"}
    assert all(v == 0 for v in acc["stage_deltas"].values())


def test_tree_rss_splits_python_workers_below_the_jvm():
    mb = 1 << 20
    table = {
        10: (1, "python3", 100 * mb, 0),     # benchmark driver
        11: (10, "java", 1000 * mb, 0),      # Spark JVM
        12: (11, "python3", 50 * mb, 0),     # pyspark daemon
        13: (12, "python3", 40 * mb, 0),     # forked worker
        14: (10, "python3", 5 * mb, 0),      # a helper of the driver, not a worker
        15: (11, "java", 1000 * mb, 0),      # the JVM spawning a worker, before exec
        20: (1, "java", 777 * mb, 0),        # unrelated process
    }
    driver, workers = tree_rss(10, table)
    assert driver == 1105 * mb
    assert workers == 90 * mb


def test_median_of_even_count_is_mean_of_middle_pair():
    assert fold.median([4, 1, 3, 2]) == 2.5
    assert not math.isnan(fold.median([7]))
