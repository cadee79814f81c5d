"""Tests of the benchmark runner's own arithmetic (no Spark session).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402
from stats import Ledger, percentile, summarize, tail_percentile  # noqa: E402


def _span(i, start, end, parent=None):
    return tracing.Span(i, f"s{i}", start, end, parent, "run")


# -- spans --------------------------------------------------------------------


def test_self_time_subtracts_merged_clipped_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),  # overlaps span 1: [1, 5] covered once
        _span(3, 8.0, 12.0, parent=0),  # clipped to the parent's end: [8, 10]
        _span(4, 2.5, 3.5, parent=2),  # grandchild: not subtracted from 0
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_of_open_span_is_skipped():
    st = tracing.self_times([_span(0, 0.0, None), _span(1, 0.0, 1.0, parent=0)])
    assert st == {1: pytest.approx(1.0)}


def test_tracer_nests_and_totals(tmp_path):
    t = tracing.Tracer(True, "r1")
    with t.span("outer"):
        with t.span("inner"):
            pass
        with t.span("inner"):
            pass
    outer, i1, i2 = t.spans
    assert outer.parent is None and i1.parent == outer.id and i2.parent == outer.id
    tot = t.totals()
    assert tot["inner"]["calls"] == 2
    assert tot["outer"]["self_s"] == pytest.approx(
        (outer.end - outer.start) - (i1.end - i1.start) - (i2.end - i2.start)
    )
    path = tmp_path / "spans.jsonl"
    t.dump(str(path))
    rows = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in rows] == ["outer", "inner", "inner"]
    assert {r["run_id"] for r in rows} == {"r1"}


def test_disabled_tracer_records_nothing():
    t = tracing.Tracer(False, "r")
    with t.span("x") as s:
        assert s is None
    assert t.spans == [] and t.totals() == {}


# -- percentiles and sample counts --------------------------------------------


def test_percentile_matches_statistics_quantiles():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert percentile(xs, 25) == pytest.approx(q1)
    assert percentile(xs, 50) == pytest.approx(med)
    assert percentile(xs, 75) == pytest.approx(q3)
    assert percentile(xs, 0) == 1.0 and percentile(xs, 100) == 9.0
    with pytest.raises(ValueError):
        percentile([], 50)


@pytest.mark.parametrize(
    "n, q", [(1000, 99.0), (999, 95.0), (200, 95.0), (199, 90.0), (100, 90.0), (40, 75.0), (39, None)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q


def test_summarize_reports_count_median_and_tail():
    xs = [float(i) for i in range(1, 201)]
    s = summarize(xs)
    assert s["n"] == 200
    assert s["p50"] == pytest.approx(100.5)
    assert s["p95"] == pytest.approx(percentile(xs, 95))
    assert "p99" not in s
    assert summarize([2.0, 4.0]) == {"n": 2, "p50": 3.0}
    assert summarize([]) == {"n": 0}


# -- failure accounting -------------------------------------------------------


def test_ledger_counts_raises_and_mismatches_against_attempts():
    led = Ledger()
    assert led.run("q1", lambda: 42) == 42
    assert led.run("q2", lambda: 1 / 0) is None
    led.check("q1", [])
    led.check("q3", ["row count: spark=3 oracle=4"])  # counted by its runner
    led.attempt()
    assert led.attempted == 3
    assert led.failed == 2
    assert led.failure_ratio == pytest.approx(2 / 3)
    assert led.failures[0][0] == "q2" and "ZeroDivisionError" in led.failures[0][1]


def test_ledger_counts_an_operation_once():
    led = Ledger()
    led.attempt()
    led.check("drain", ["1 duplicate ids in bronze"])
    led.check("drain", ["3 missing"])
    assert led.failed == 1 and led.failure_ratio == 1.0


def _harness():
    import importlib.util

    path = os.path.join(os.path.dirname(BENCH), "tests", "oracle_harness.py")
    spec = importlib.util.spec_from_file_location("perfbench_test_harness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_injected_result_mismatch_fails_the_query():
    h = _harness()
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    good = workloads._Frame(want.iloc[::-1].reset_index(drop=True))
    bad = workloads._Frame(pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.75]}))
    led = Ledger()
    led.attempt()
    led.attempt()
    assert led.check("ok", h.compare(good, want))
    assert not led.check("bad", h.compare(bad, want))
    assert led.failed == 1 and led.failures[0][0] == "bad"
    assert "2.75" in led.failures[0][1]


def test_rows_to_pandas_matches_to_pandas_dtypes():
    from pyspark.sql import Row
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("a", LongType(), True),
            StructField("b", LongType(), True),
            StructField("s", StringType(), True),
            StructField("d", DoubleType(), True),
        ]
    )
    rows = [Row(a=1, b=None, s="x", d=0.5), Row(a=2, b=7, s=None, d=None)]
    pdf = workloads.rows_to_pandas(rows, schema)
    assert list(pdf.columns) == ["a", "b", "s", "d"]
    assert pdf["a"].dtype.kind == "i"
    assert pdf["b"].dtype.kind == "f" and pdf["b"].isna().tolist() == [True, False]
    assert pdf["d"].isna().tolist() == [False, True]
    assert workloads.rows_to_pandas([], schema).shape == (0, 4)


# -- streaming arithmetic -----------------------------------------------------


def test_live_freshness_uses_first_line_of_each_event_and_due_time():
    # lines 100.. are live; due times relative to t0=1000
    schedule = [(0.0, 7), (0.1, 8), (0.2, 7), (1.0, 9)]  # event 7 re-delivered
    batches = [(100, 999.0), (102, 1000.5), (104, 1001.5)]  # (end offset, commit)
    fresh = workloads.live_freshness([d for d, _ in schedule], [i for _, i in schedule], 100, 1000.0, batches)
    # 7 and 8 committed in the batch ending at 102; the re-delivered 7 is
    # skipped; 9 in the batch ending at 104
    assert fresh == pytest.approx([0.5, 0.4, 0.5])


def test_live_freshness_skips_lines_never_committed():
    fresh = workloads.live_freshness([0.0, 0.5], [1, 2], 10, 0.0, [(11, 2.0)])
    assert fresh == pytest.approx([2.0])


def test_backlog_counts_due_lines_beyond_the_committed_offset():
    due = [0.0, 0.1, 0.2, 0.3]
    # drain of 50 lines, then live lines due from t0=10
    batches = [(20, 5.0), (50, 9.0), (51, 10.15), (54, 11.0)]
    assert workloads.backlog_max(due, 50, 10.0, batches) == 30


def test_stream_layer_medians_and_state():
    prog = [
        {"numInputRows": 10, "durationMs": {"triggerExecution": 100, "addBatch": 80, "walCommit": 5},
         "stateOperators": [{"numRowsTotal": 10, "memoryUsedBytes": 1000, "commitTimeMs": 7}]},
        {"numInputRows": 5, "durationMs": {"triggerExecution": 300, "addBatch": 200, "walCommit": 9},
         "stateOperators": [{"numRowsTotal": 15, "memoryUsedBytes": 1500, "commitTimeMs": 9}]},
        {"numInputRows": 0, "durationMs": {"triggerExecution": 2, "latestOffset": 2}},
    ]
    L = {}
    workloads.stream_layer(prog, L)
    assert L["stream.batches"] == 2  # the idle poll is not a batch
    assert L["stream.trigger_ms_p50"] == 200
    assert L["stream.add_batch_ms_p50"] == 140
    assert L["stream.state_rows_total"] == 15
    assert L["stream.state_memory_bytes"] == 1500
    assert L["stream.state_commit_ms"] == 8


def test_event_log_sums_task_end_metrics(tmp_path):
    d = tmp_path / "eventlog_v2_app"
    d.mkdir()
    ends = [
        {"Event": "SparkListenerTaskEnd", "Task Metrics": {
            "Executor Run Time": 1500, "Memory Bytes Spilled": 3, "Disk Bytes Spilled": 4,
            "Shuffle Read Metrics": {"Remote Bytes Read": 10, "Local Bytes Read": 5},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1},
    ]
    (d / "events_1_app").write_text("\n".join(json.dumps(e) for e in ends) + "\n")
    ev = tracing.parse_event_log(str(tmp_path))
    assert ev == {"executor_run_s": 2.0, "shuffle_read_bytes": 15, "shuffle_write_bytes": 7,
                  "spill_bytes": 7}


# -- generated inputs ---------------------------------------------------------


def test_tables_are_deterministic_per_seed():
    a = datagen.tables(5, scale=0.01)
    b = datagen.tables(5, scale=0.01)
    c = datagen.tables(6, scale=0.01)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["events"].equals(c["events"])
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}


def test_live_schedule_shape():
    rows = datagen.live_schedule(3, rate=1000.0, seconds=2.0, id_base=500)
    assert rows == datagen.live_schedule(3, rate=1000.0, seconds=2.0, id_base=500)
    ids = [r[1] for r in rows]
    assert len(set(ids)) == 2000 and min(ids) == 500
    assert len(ids) - len(set(ids)) == 100  # 5% re-delivered
    assert [r[0] for r in rows] == sorted(r[0] for r in rows)
    late = [r for r in rows if r[0] - r[2] > 0.4]
    assert late and all(r[0] - r[2] <= 4.0 for r in late)  # inside the watermark


def test_capture_lines_redeliver_the_same_payload():
    import numpy as np

    rng = np.random.default_rng(1)
    ev = datagen.events_table(rng, 400)
    lines = datagen.capture_lines(ev, rng, dup_share=0.05)
    assert len(lines) == 420 and len(set(lines)) == 400
    assert all(line.endswith("\n") for line in lines)
    ids = [json.loads(line)["event_id"] for line in lines]
    assert set(ids) == set(range(400))
