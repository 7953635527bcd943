"""Span self-time arithmetic and the event-log parser."""

import os

import pytest

from perfbench import tracing as tr

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog_small.jsonl")


def _span(i, name, parent, start, end, py4j=0):
    return tr.Span(id=i, name=name, parent=parent, op="p0:0:x", start=start, end=end, py4j=py4j)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "op.x", None, 0.0, 10.0),
        _span(1, "codec.construct", 0, 1.0, 3.0),
        _span(2, "spark.action", 0, 2.0, 5.0),  # overlaps its sibling
        _span(3, "spark.action", 0, 7.0, 8.0),
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)


def test_self_time_clips_children_and_counts_only_direct_ones():
    spans = [
        _span(0, "op.x", None, 0.0, 4.0),
        _span(1, "sources.upsert", 0, 1.0, 6.0),  # ends after its parent
        _span(2, "spark.action", 1, 2.0, 3.0),  # a grandchild
    ]
    st = tr.self_times(spans)
    assert st[0] == pytest.approx(1.0)
    assert st[1] == pytest.approx(4.0)
    assert st[2] == pytest.approx(1.0)


def test_layer_totals_sum_self_time_and_self_py4j_by_name():
    spans = [
        _span(0, "op.x", None, 0.0, 10.0, py4j=100),
        _span(1, "codec.construct", 0, 0.0, 2.0, py4j=60),
        _span(2, "codec.construct", 0, 3.0, 4.0, py4j=30),
    ]
    secs, cmds = tr.layer_totals(spans)
    assert secs["codec.construct"] == pytest.approx(3.0)
    assert secs["op.x"] == pytest.approx(7.0)
    assert cmds == {"op.x": 10, "codec.construct": 90}


def test_disabled_tracer_records_nothing():
    t = tr.Tracer(enabled=False)
    with t.span("codec.construct") as s:
        assert s is None
    assert t.spans == []


def test_tracer_nests_spans_and_tags_the_op():
    t = tr.Tracer(enabled=True)
    t.op = "p0:1:decode"
    with t.span("op.decode"):
        t.py4j_cmds += 2
        with t.span("codec.construct"):
            t.py4j_cmds += 5
    outer, inner = t.spans
    assert inner.parent == outer.id and inner.op == outer.op == "p0:1:decode"
    assert (outer.py4j, inner.py4j) == (7, 5)


def test_event_log_counters_per_job_group():
    events = tr.read_event_log(FIXTURE)
    udf = tr.spark_counters(events, "g1:")
    # a pandas UDF feeding an aggregation: two jobs (the second reuses the
    # first's shuffle, so one of its two stages is skipped), one Exchange
    assert (udf["jobs"], udf["stages"], udf["tasks"], udf["exchanges"]) == (2, 2, 3, 1)
    assert udf["python_rows"] == 1000
    assert udf["python_bytes_sent"] > 0 and udf["python_total_s"] > 0
    assert udf["shuffle_write_bytes"] > 0 and udf["task_run_s"] > 0
    plain = tr.spark_counters(events, "g2:")
    assert (plain["jobs"], plain["stages"], plain["exchanges"]) == (2, 2, 1)
    assert plain["python_rows"] == plain["python_total_s"] == 0
    assert tr.spark_counters(events, "nope")["jobs"] == 0
