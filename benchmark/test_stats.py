"""Self-tests for the benchmark's metric math.

Run from the repository root: ``python3 -m pytest benchmark/test_stats.py -q``
"""

from __future__ import annotations

import math
import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
import tracing  # noqa: E402


def test_geomean_weights_every_value_equally():
    assert stats.geomean([1.0, 100.0]) == pytest.approx(10.0)
    assert stats.geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)
    # Halving one short query moves the geomean as much as halving a long one.
    base = stats.geomean([0.1, 10.0])
    assert stats.geomean([0.05, 10.0]) == pytest.approx(stats.geomean([0.1, 5.0]))
    assert stats.geomean([0.05, 10.0]) < base


def test_geomean_rejects_empty_and_non_positive():
    with pytest.raises(ValueError):
        stats.geomean([])
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_ratio_geomean_ignores_operations_without_duckdb_timing():
    spark = {"a": 2.0, "b": 8.0, "ingest": 100.0}
    duck = {"a": 1.0, "b": 1.0}
    assert stats.ratio_geomean(spark, duck) == pytest.approx(4.0)
    # Slowing an operation DuckDB does not run leaves the ratio alone.
    assert stats.ratio_geomean({**spark, "ingest": 1e6}, duck) == pytest.approx(4.0)
    # Halving a short operation moves it as much as halving a long one.
    assert stats.ratio_geomean({"a": 1.0, "b": 8.0}, duck) == pytest.approx(
        stats.ratio_geomean({"a": 2.0, "b": 4.0}, duck))
    with pytest.raises(ValueError):
        stats.ratio_geomean({"ingest": 1.0}, duck)


def test_percentile_interpolates_between_ranks():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == pytest.approx(50.5)
    assert stats.percentile(xs, 75) == pytest.approx(75.25)
    assert stats.percentile(xs, 100) == 100.0
    assert stats.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert stats.percentile([7.0], 75) == 7.0
    ys = [0.3, 1.7, 0.9, 2.2, 1.1]
    assert stats.percentile(ys, 75) == pytest.approx(statistics.quantiles(ys, n=4, method="inclusive")[2])


def test_samples_beyond_and_tail_rule():
    assert stats.samples_beyond(40, 75) == 10
    assert stats.samples_beyond(38, 75) == 10
    assert stats.samples_beyond(37, 75) == 9
    assert stats.samples_beyond(8, 75) == 2
    # p75 needs 38 samples to keep ten beyond it; p50 needs 20.
    assert stats.tail_percentile(38) == 75
    assert stats.tail_percentile(37) == 70
    assert stats.tail_percentile(20) == 50
    assert stats.tail_percentile(19) is None
    assert stats.tail_percentile(1000) == 95


def test_steal_fraction_from_proc_stat(tmp_path):
    line = "cpu  {user} 0 {system} {idle} 0 0 0 {steal} 0 0\n"
    p = tmp_path / "stat"
    p.write_text(line.format(user=100, system=50, idle=800, steal=50))
    start = stats.read_cpu_ticks(str(p))
    assert start == (50, 1000)
    p.write_text(line.format(user=200, system=100, idle=1500, steal=200))
    end = stats.read_cpu_ticks(str(p))
    # 150 of the 1000 ticks that passed were stolen.
    assert stats.steal_fraction(start, end) == pytest.approx(0.15)
    assert stats.steal_fraction(end, end) == 0.0


def test_guest_time_is_not_counted_twice(tmp_path):
    p = tmp_path / "stat"
    p.write_text("cpu  10 0 10 80 0 0 0 0 999 999\n")
    assert stats.read_cpu_ticks(str(p)) == (0, 100)


def test_parse_metric_units():
    assert tracing.parse_metric("16,506") == 16506
    assert tracing.parse_metric("539 ms") == pytest.approx(0.539)
    assert tracing.parse_metric("2.2 s") == pytest.approx(2.2)
    assert tracing.parse_metric("241.2 KiB") == pytest.approx(241.2 * 1024)
    multi = "total (min, med, max (stageId: taskId))\n3.4 s (1 ms, 2 ms, 3 s (stage 1.0: task 2))"
    assert tracing.parse_metric(multi) == pytest.approx(3.4)


def test_covered_ms_merges_overlaps_and_clips():
    assert tracing.covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert tracing.covered_ms([(0, 10)], 5, 8) == 3
    assert tracing.covered_ms([], 0, 10) == 0
    assert tracing.covered_ms([(50, 60)], 0, 10) == 0


def test_tracer_self_time_excludes_children():
    tr = tracing.Tracer()
    tr.enter()
    tr.enter()
    inner = tr.exit("child")
    outer = tr.exit("parent")
    assert tr.self_s["child"] == pytest.approx(inner)
    assert tr.self_s["parent"] == pytest.approx(outer - inner)
    assert math.isclose(tr.self_s["parent"] + tr.self_s["child"], outer)


def test_relation_cache_hit_is_identity():
    tr = tracing.Tracer()
    a, b = object(), object()
    tr.note_relation(("s", "/d", "t", False), a)
    tr.note_relation(("s", "/d", "t", False), a)
    tr.note_relation(("s", "/d", "t", False), b)
    assert tr.cache_hits == 1


def test_metric_tables_match_benchmark_json():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_unit_counters_attribute_jobs_stages_and_nodes():
    actions = [("p1:q_minhash_lsh_pairs", "q_minhash_lsh_pairs", 1000.0, 2000.0),
               ("p1:q_other", "q_other", 3000.0, 3500.0)]
    jobs = [
        {"jobId": 0, "jobGroup": "p1:q_minhash_lsh_pairs", "stageIds": [0, 1],
         "submissionTime": 1100, "completionTime": 1500},
        {"jobId": 1, "jobGroup": "p1:q_minhash_lsh_pairs", "stageIds": [2],
         "submissionTime": 1400, "completionTime": 1900},
        {"jobId": 2, "jobGroup": "p1:q_other", "stageIds": [3],
         "submissionTime": 3100, "completionTime": 3300},
        {"jobId": 3, "jobGroup": "p0:q_other", "stageIds": [4],
         "submissionTime": 10, "completionTime": 20},
    ]

    def stage(status, run_ms, rows):
        return {"status": status, "numCompleteTasks": 4, "submissionTime": 100,
                "firstTaskLaunchedTime": 150, "inputRecords": rows, "inputBytes": 10 * rows,
                "shuffleWriteBytes": 7, "shuffleReadBytes": 5, "diskBytesSpilled": 0,
                "executorRunTime": run_ms}

    stages = {0: stage("COMPLETE", 400, 100), 1: stage("SKIPPED", 999, 999),
              2: stage("COMPLETE", 600, 0), 3: stage("COMPLETE", 200, 50),
              4: stage("COMPLETE", 999, 999)}
    executions = [
        {"jobs": [0, 1], "nodes": [
            ("HashAggregate", {"number of output rows": 30.0}),
            ("SortMergeJoin", {"number of output rows": 300.0}),
            ("ArrowEvalPython", {"time to run Python workers": 0.5,
                                 "time to start Python workers": 0.25,
                                 "data sent to Python workers": 4096.0}),
        ]},
        {"jobs": [3], "nodes": [("ArrowEvalPython", {"time to run Python workers": 9.0})]},
    ]
    out = tracing.unit_counters(actions, jobs, stages, executions, cores=4)
    assert out["exec.jobs"] == 3
    assert out["exec.stages"] == 3  # the skipped stage and the other unit's do not count
    assert out["exec.tasks"] == 12
    assert out["exec.scan_rows"] == 150
    assert out["exec.scan_bytes"] == 1500
    assert out["exec.scheduler_delay_s"] == pytest.approx(0.15)
    # 1000 ms action covered 1100-1900, 500 ms action covered 3100-3300.
    assert out["exec.driver_gap_s"] == pytest.approx(0.2 + 0.3)
    assert out["exec.core_util"] == pytest.approx(1200 / (1500 * 4))
    assert out["exec.python_udf_s"] == pytest.approx(0.75)
    assert out["operators.dedup.candidate_yield"] == pytest.approx(0.1)
