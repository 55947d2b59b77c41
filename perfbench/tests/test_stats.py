import numpy as np
import pytest

from perfbench.stats import backlog_max, file_latencies, percentile, phase_p50_ms


@pytest.mark.parametrize("xs", [[3.0], [1.0, 2.0], [5.0, 1.0, 4.0], [2.0, 9.0, 4.0, 7.0, 1.0]])
@pytest.mark.parametrize("q", [0, 10, 50, 90, 100])
def test_percentile_matches_numpy_linear(xs, q):
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_small_samples_by_hand():
    assert percentile([4.0], 90) == 4.0
    assert percentile([1.0, 3.0], 50) == 2.0
    assert percentile([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0], 90) == pytest.approx(9.1)


def test_percentile_rejects_empty_and_out_of_range():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_phase_p50_parses_duration_ms_and_tolerates_missing_phases():
    progress = [
        {"durationMs": {"triggerExecution": 2300, "addBatch": 1800, "queryPlanning": 300,
                        "walCommit": 30, "latestOffset": 30, "getBatch": 8, "commitOffsets": 40}},
        {"durationMs": {"triggerExecution": 2500, "addBatch": 2000, "walCommit": 20,
                        "latestOffset": 40, "getBatch": 6, "commitOffsets": 30}},
        {"durationMs": {"triggerExecution": 2100, "addBatch": 1700, "queryPlanning": 200,
                        "walCommit": 25, "latestOffset": 35, "getBatch": 7, "commitOffsets": 35}},
    ]
    p = phase_p50_ms(progress)
    assert p["triggerExecution"] == 2300
    assert p["addBatch"] == 1800
    assert p["queryPlanning"] == 250  # median of the two records that report it
    assert p["getBatch"] == 7
    assert phase_p50_ms([{"durationMs": {}}])["addBatch"] == 0.0


def test_latency_join_file_epoch_commit():
    due = {"25030100": 10.0, "25030101": 11.0, "25030102": 12.0}
    file_epochs = {"25030100": {0}, "25030101": {1}, "25030102": {1}}
    commits = {0: 12.5, 1: 14.0}
    assert file_latencies(due, file_epochs, commits) == {
        "25030100": 2.5, "25030101": 3.0, "25030102": 2.0}


def test_latency_join_leaves_out_unjoinable_files():
    due = {"a": 1.0, "b": 2.0, "c": 3.0}
    # b landed in two epochs (impossible for a whole-file read), c has no
    # commit file
    lat = file_latencies(due, {"a": {0}, "b": {0, 1}, "c": {2}}, {0: 4.0, 1: 5.0})
    assert lat == {"a": 3.0}


def test_backlog_max_counts_due_but_uncommitted_files():
    due = {"a": 0.0, "b": 1.0, "c": 2.0, "d": 3.0}
    committed = {"a": 2.5, "b": 2.5, "c": 4.5, "d": 4.5}
    # at t=2.5 a, b, c were due and none committed yet
    assert backlog_max(due, committed) == 3
