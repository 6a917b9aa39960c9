"""Checks of the benchmark's own arithmetic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import random
from types import SimpleNamespace

import pytest

from stats import (Span, digest, percentile, precision_recall,
                   read_amplification, rows_per_input_row, self_times, tail_percentile)
from tracing import finish_exec, group_metrics, job_busy_s
from workloads import reference_entity_map


@pytest.mark.parametrize("n, want", [
    (0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want
    if want is not None:
        assert round(n * (100 - want) / 100, 6) >= 10


def test_percentile_is_a_sample():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 90) == 5.0
    assert percentile(xs, 1) == 1.0


def test_self_time_subtracts_covered_child_time_once():
    spans = [
        Span("op", 0.0, 10.0, None),
        Span("a", 1.0, 3.0, 0),
        Span("b", 2.0, 5.0, 0),   # overlaps a: [1, 5] is covered once
        Span("c", 8.0, 12.0, 0),  # clipped to the parent's end
        Span("a.write", 1.5, 2.5, 1),
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(2.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[3] == pytest.approx(4.0)
    assert got[4] == pytest.approx(1.0)


def test_digest_is_order_independent_and_keeps_duplicates():
    rng = random.Random(7)
    hashes = [rng.randrange(-(1 << 63), 1 << 63) for _ in range(500)]
    shuffled = hashes[:]
    rng.shuffle(shuffled)
    assert digest(hashes) == digest(shuffled)
    assert digest(hashes)[0] == 500
    # a duplicated row changes the digest (an xor would cancel it out)
    assert digest(hashes + [hashes[0], hashes[0]])[1] != digest(hashes)[1]
    assert digest([1, -1]) == (2, "0000000000000000")


def test_read_amplification_ratios():
    assert read_amplification(2_000, 1_000) == 2.0
    assert read_amplification(0, 1_000) == 0.0
    assert rows_per_input_row(8_000, 2_000) == 4.0
    with pytest.raises(ValueError):
        read_amplification(10, 0)
    with pytest.raises(ValueError):
        rows_per_input_row(10, 0)


def test_precision_recall():
    assert precision_recall(100, 80, 76) == (0.76, 0.95)
    assert precision_recall(0, 10, 0) == (0.0, 0.0)


def test_reference_entity_map_is_transitive_with_min_id():
    row = lambda alias, eid: SimpleNamespace(alias=alias, entity_id=eid)  # noqa: E731
    rows = [row("pump", "E3"), row("pump", "E1"), row("pump unit", "E1"),
            row("pump unit", "E7"), row("valve", "E2")]
    assert reference_entity_map(rows) == {"E1": "E1", "E3": "E1", "E7": "E1", "E2": "E2"}


def test_group_metrics_counts_a_shared_stage_once():
    stage = {"spark_tasks": 4.0, "exec_run_s": 2.0, "exec_cpu_s": 1.0, "gc_s": 0.0,
             "shuffle_bytes": 10.0, "spill_bytes": 0.0, "input_bytes": 5.0,
             "output_bytes": 0.0, "_task_max_s": 1.5, "_task_median_s": 0.5}
    jobs = [{"id": 1, "group": "a", "stages": [10, 11]},
            {"id": 2, "group": "b", "stages": [11]}]
    out = group_metrics(jobs, {10: stage, 11: stage}, lambda j: j["group"])
    assert out["a"]["spark_jobs"] == 1 and out["a"]["exec_run_s"] == 4.0
    assert out["b"]["spark_jobs"] == 1 and out["b"]["exec_run_s"] == 0.0
    assert finish_exec(out["a"])["task_skew"] == pytest.approx(3.0)
    assert finish_exec(out["b"])["task_skew"] == 1.0


def test_job_busy_time_is_a_clipped_union():
    jobs = [{"start_ms": 0, "end_ms": 2_000}, {"start_ms": 1_000, "end_ms": 3_000},
            {"start_ms": 9_000, "end_ms": 20_000}, {"start_ms": 5_000, "end_ms": None}]
    assert job_busy_s(jobs, 500, 10_000) == pytest.approx(3.5)
