"""The event-log -> layer-table parser, on a tiny recorded log.

tiny_eventlog.jsonl is a trimmed Spark 4.1 event log of a local[2] session:
  * job group "pipeline.p4_edges": a pandas UDF over 2000 rows + a sum
    (jobs 0 and 1, one SQL execution with an ArrowEvalPython node);
  * no job group: a groupBy count with a shuffle (jobs 2 and 3).
The times below are the driver clock marks taken around those calls.
"""

import os

import pytest

from perfbench import trace

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")
START, A_END, B_END, END = 1792175361.997772, 1792175367.482739, 1792175368.2805128, 1792175368.4806404


def _pass(spans, batches=(), ladder=()):
    return {"start": START, "end": END, "spans": list(spans), "ladder": list(ladder),
            "batches": list(batches), "extras": {}}


@pytest.fixture(scope="module")
def log():
    return trace.read_event_log(LOG)


def test_reads_jobs_tasks_and_python_nodes(log):
    assert sorted(log["jobs"]) == [0, 1, 2, 3]
    assert [log["jobs"][j]["group"] for j in range(4)] == ["pipeline.p4_edges"] * 2 + [None] * 2
    assert all(j["end"] >= j["submit"] for j in log["jobs"].values())
    assert len(log["tasks"]) == 10 and all(t["job"] is not None for t in log["tasks"])
    assert log["py_nodes"][0] and not log["py_nodes"][1]


def test_time_attribution_and_span_metrics(log):
    out = trace.pass_layers(log, _pass([
        ("pipeline.p4_edges", START, A_END), ("pipeline.p2_canon_reps", A_END, B_END),
    ]))
    assert out["pipeline.p4_edges.jobs"] == 2 and out["pipeline.p4_edges.tasks"] == 5
    assert out["pipeline.p2_canon_reps.jobs"] == 2 and out["pipeline.p2_canon_reps.tasks"] == 5
    assert out["unattributed.jobs"] == 0
    # the UDF ships bytes to Python workers; the groupBy shuffles
    assert out["pipeline.p4_edges.python_bytes"] > 0
    assert out["pipeline.p2_canon_reps.python_bytes"] == 0
    assert out["pipeline.p2_canon_reps.shuffle_bytes"] > 0
    assert out["pipeline.p4_edges.pairs_scored"] == 2000
    assert out["pipeline.p4_edges.task_skew"] >= 1.0
    # spans plus unattributed tile the pass
    walls = sum(out[f"{s}.wall_s"] for s in trace.SPANS)
    assert walls == pytest.approx(END - START)
    assert out["unattributed.wall_s"] == pytest.approx(END - B_END)
    for s in trace.SPANS:
        assert 0.0 <= out[f"{s}.driver_s"] <= out[f"{s}.wall_s"] + 1e-9
    assert out["pipeline.p4_edges.executor_run_s"] > out["pipeline.p2_canon_reps.executor_run_s"]


def test_job_group_wins_over_time(log):
    # p2's interval covers every job, but jobs 0-1 carry p4's job group
    out = trace.pass_layers(log, _pass([
        ("pipeline.p2_canon_reps", START, B_END), ("pipeline.p4_edges", B_END, END),
    ]))
    assert out["pipeline.p4_edges.jobs"] == 2
    assert out["pipeline.p2_canon_reps.jobs"] == 2


def test_jobs_outside_spans_are_unattributed(log):
    out = trace.pass_layers(log, _pass([]))
    assert out["unattributed.jobs"] == 4
    assert out["unattributed.wall_s"] == pytest.approx(END - START)


def test_stream_batch_is_split_into_ladder_sink_and_batch():
    b = {"start": 10.0, "ms": {"triggerExecution": 5000, "commitOffsets": 200}}
    leaves = trace.leaf_intervals(_pass([], batches=[b], ladder=[(10.5, 13.0)]))
    assert leaves == [
        ("incremental.batch", 10.0, 10.5),
        ("ladder.search_ladder", 10.5, 13.0),
        ("incremental.sink", 13.0, 14.8),
        ("incremental.batch", 14.8, 15.0),
    ]


def test_ladder_rows_read_is_per_batch(log):
    b = {"start": START, "ms": {"triggerExecution": (END - START) * 1000}}
    out = trace.pass_layers(log, _pass([], batches=[b, dict(b, start=END)], ladder=[(START, END)]))
    total = sum(t["records_read"] for t in log["tasks"])
    assert out["ladder.search_ladder.rows_read"] == total / 2


def test_layer_table_has_every_metric_as_median(log):
    p1 = _pass([("pipeline.p4_edges", START, A_END)])
    p2 = _pass([("pipeline.p4_edges", START, B_END)])
    p3 = _pass([("pipeline.p4_edges", START, END)])
    table = trace.layer_table(log, [p1, p2, p3])
    assert set(table) == set(trace.LAYER_UNITS) and len(table) == 127
    assert table["pipeline.p4_edges.wall_s"] == pytest.approx(B_END - START)
    assert "tracing overhead" in trace.format_table(table, 0.1)
