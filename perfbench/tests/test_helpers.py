"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

import json
import os

import pytest

import traffic as T
from run import E2E, layer_unit
from spans import (
    GROUP_PREFIX,
    JOBLESS,
    LAYERS,
    QUERY_ID_PROP,
    SPARK_METRICS,
    Span,
    Tracer,
    attribute,
    jobs_from_events,
    layer_metrics,
)
from stats import covered, driver_gap, subtract, tail, union

BENCHMARK = os.path.join(os.path.dirname(os.path.dirname(T.__file__)), "BENCHMARK.json")


# -- the tail rule ----------------------------------------------------------


def test_tail_leaves_exactly_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples
    value, pct = tail(xs)
    assert value == 30 and pct == 75.0
    assert sum(1 for x in xs if x > value) == 10


def test_tail_is_order_independent_and_uses_sample_count():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 5  # 25 samples
    value, pct = tail(xs)
    assert pct == pytest.approx(60.0)
    assert sum(1 for x in sorted(xs)[15:]) == 10
    assert value == sorted(xs)[14]


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        tail(range(10))
    assert tail(range(11)) == (0.0, pytest.approx(100 / 11))


# -- interval arithmetic ----------------------------------------------------


def test_union_merges_overlaps_and_touching_intervals():
    assert union([(5, 7), (0, 2), (1, 3), (3, 4), (9, 9)]) == [(0, 4), (5, 7)]
    assert covered([(0, 2), (1, 3), (10, 11)]) == 4


def test_subtract_cuts_holes():
    assert subtract([(0, 10)], [(2, 3), (5, 7), (9, 12)]) == [(0, 2), (3, 5), (7, 9)]
    assert subtract([(0, 10)], []) == [(0, 10)]


def test_driver_gap_is_wall_minus_job_union():
    # two overlapping jobs cover 2..6, one job sticks out past the span
    assert driver_gap((0, 10), [(2, 5), (4, 6), (9, 15)]) == 10 - 4 - 1
    assert driver_gap((0, 10), []) == 10


# -- event log -> spans ---------------------------------------------------------


def job_events(jid, t0, t1, props, stage, tasks):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": [stage], "Properties": props},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage, "Submission Time": t0, "Completion Time": t1}},
    ]
    for _ in range(tasks):
        evs.append(
            {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
             "Task Info": {"Accumulables": [
                 {"ID": 1, "Name": "duration", "Update": "6", "Value": "6"},
                 {"ID": 2, "Name": "number of output rows", "Update": "100"},
                 {"ID": 3, "Name": "duration", "Value": "9"},  # no update: skipped
             ]},
             "Task Metrics": {"Executor Run Time": 10, "Executor CPU Time": 5_000_000,
                              "JVM GC Time": 1, "Memory Bytes Spilled": 0,
                              "Disk Bytes Spilled": 3,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                              "Input Metrics": {"Records Read": 100, "Bytes Read": 1}}}
        )
    evs.append({"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1})
    return evs


def traced(spans):
    tr = Tracer(enabled=True)
    for sid, (layer, parent, t0, t1) in enumerate(spans):
        tr.spans.append(Span(sid, layer, layer, parent, t0, t1))
    return tr


def test_jobs_from_events_sums_task_metrics():
    jobs, stages = jobs_from_events(job_events(0, 100, 200, {}, 3, tasks=4))
    j = jobs[0]
    assert (j.t0, j.t1, j.tasks) == (100, 200, 4)
    assert (j.run_ms, j.cpu_ms, j.gc_ms) == (40, 20, 4)
    assert (j.shuffle_bytes, j.spill_bytes) == (28, 12)
    assert stages[3].records_read == 400 and stages[3].t1 - stages[3].t0 == 100
    assert stages[3].codegen_ms == 24


def test_attribution_by_group_and_by_streaming_query_id():
    # span 0: the measured phase; span 1: a compaction; span 2: a stream drain
    tr = traced([("harness", None, 0, 1000), ("plans.compact", 0, 100, 300),
                 ("streaming", 0, 400, 900)])
    evs = (
        job_events(0, 120, 280, {"spark.jobGroup.id": f"{GROUP_PREFIX}1"}, 0, 2)
        # micro-batch jobs: no job group reaches them, only the query id
        + job_events(1, 450, 500, {QUERY_ID_PROP: "q-1"}, 1, 1)
        + job_events(2, 600, 700, {QUERY_ID_PROP: "q-1",
                                   "spark.jobGroup.id": "someone-else"}, 2, 1)
        + job_events(3, 950, 960, {}, 3, 1)  # launched by nobody we know
    )
    jobs, _ = jobs_from_events(evs)
    job_span, missed = attribute(jobs, tr, {"q-1": 410.0})
    assert job_span == {0: 1, 1: 2, 2: 2}
    assert missed == [3]


def test_query_started_outside_every_span_is_not_attributed():
    tr = traced([("streaming", None, 400, 900)])
    jobs, _ = jobs_from_events(job_events(0, 450, 500, {QUERY_ID_PROP: "q"}, 0, 1))
    assert attribute(jobs, tr, {"q": 100.0}) == ({}, [0])


def test_layer_self_time_and_driver_gap():
    tr = traced([("harness", None, 0, 1000), ("plans.incremental", 0, 100, 600),
                 ("sources", 1, 100, 300), ("plans.compact", 1, 300, 590)])
    evs = (
        job_events(0, 150, 250, {}, 0, 1)
        + job_events(1, 310, 500, {}, 1, 2)
    )
    jobs, _ = jobs_from_events(evs)
    agg = layer_metrics(tr, jobs, {0: 2, 1: 3}, {0, 1, 2, 3})
    assert agg["harness"]["self_ms"] == 500
    assert agg["plans.incremental"]["self_ms"] == 10
    assert agg["sources"]["driver_gap_ms"] == 200 - 100
    assert agg["plans.compact"]["driver_gap_ms"] == 290 - 190
    assert agg["plans.compact"]["tasks"] == 2
    # self times of all spans add up to the root's wall
    assert sum(a["self_ms"] for a in agg.values()) == 1000


# -- the traffic generator ------------------------------------------------------

SPEC = T.TrafficSpec(seed=5, days=2, lines_per_day=960, files_per_day=48)


def test_generator_is_deterministic_per_seed():
    a_days, a_truth = T.generate(SPEC)
    b_days, b_truth = T.generate(SPEC)
    assert a_days == b_days and a_truth.tallies() == b_truth.tallies()
    c_days, c_truth = T.generate(T.TrafficSpec(**{**SPEC.__dict__, "seed": 6}))
    assert c_days != a_days and c_truth.tallies() != a_truth.tallies()
    # a day's lines do not depend on which other days are generated
    one_days, one_truth = T.generate(SPEC, {1})
    assert list(one_days) == [1] and one_days[1] == a_days[1]
    assert one_truth.records == [r for r in a_truth.records if r.day == 1]


def test_tallies_account_for_every_line():
    days, truth = T.generate(SPEC)
    for d, lines in days.items():
        assert len(lines) == truth.raw_lines(d)
        assert truth.rows(d) + truth.dead_letters(d) + len(truth.blank[d]) == len(lines)
        # the package generator's ~1% garbage and ~1% blank lines survive
        assert 0.005 < truth.dead_letters(d) / len(lines) < 0.02
        assert 0.005 < len(truth.blank[d]) / len(lines) < 0.02
    tallies = truth.tallies()
    assert sum(n for n, _ in tallies["by_event_day_op"].values()) == len(truth.records)


def test_files_cover_short_windows_and_late_lines_are_from_the_day_before():
    _, truth = T.generate(SPEC)
    window = T.DAY_S // SPEC.files_per_day
    per_file = SPEC.lines_per_day // SPEC.files_per_day
    late = 0
    for r in truth.records:
        start = T.day_start(r.day) + (r.pos // per_file) * window
        if start <= r.ts < start + window:
            continue
        late += 1
        assert r.day > 0 and T.day_start(r.day - 1) <= r.ts < T.day_start(r.day)
    day1 = sum(1 for r in truth.records if r.day == 1)
    assert 0 < late < 0.08 * day1


def test_hourly_files_are_unions_of_batch_files():
    days, truth = T.generate(SPEC)
    batch = T.chunks(days[1], SPEC.files_per_day)
    hourly = T.chunks(days[1], 24)
    k = SPEC.files_per_day // 24
    assert hourly[3] == [line for f in batch[3 * k : 4 * k] for line in f]
    recs = truth.chunk_records(1, 24, 3)
    assert len(recs) + truth.chunk_dead(1, 24, 3) <= len(hourly[3])


def test_rewritten_lines_keep_the_package_line_format():
    days, truth = T.generate(SPEC)
    line = days[0][0]
    r = truth.records[0]
    assert r.pos == 0 and f"[{T.naive(r.ts).strftime('%d/%b/%Y:%H:%M:%S')} +0000]" in line
    assert f" {r.op} " in line


# -- BENCHMARK.json matches what the harness emits ------------------------------


def test_benchmark_json_declares_the_emitted_metrics():
    with open(BENCHMARK) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for name, unit in per_layer.items():
        assert unit == layer_unit(name), name
    for layer in LAYERS:
        assert f"{layer}.driver_gap_ms" in per_layer
        for m in SPARK_METRICS:
            assert (f"{layer}.{m}" in per_layer) == (layer not in JOBLESS or m == "driver_gap_ms")
