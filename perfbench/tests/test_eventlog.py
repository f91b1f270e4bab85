"""The event-log parser on a small log recorded from Spark 4.1: a pandas
UDF job over 8 rows ("p0/udf"), a shuffle aggregate ("p0/agg") and one
job without a description."""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def phases():
    return eventlog.phase_metrics(eventlog.read_events(LOG))


def test_tasks_are_charged_to_their_job_description(phases):
    assert set(phases) == {"p0/udf", "p0/agg", ""}
    assert phases["p0/udf"]["spark.tasks"] == 3  # 2 map tasks + 1 result task
    assert phases["p0/agg"]["spark.tasks"] == 4
    assert phases[""]["spark.tasks"] == 1
    assert all(m["spark.failed_tasks"] == 0 for m in phases.values())


def test_python_metrics_come_only_from_python_nodes(phases):
    udf = phases["p0/udf"]
    # "number of output rows" exists on every node; only the Python one counts
    assert udf["python.rows"] == 8
    assert udf["python.data_sent_mb"] == pytest.approx(368 / 1e6)
    assert udf["python.data_received_mb"] == pytest.approx(352 / 1e6)
    assert udf["python.total_s"] == pytest.approx(4.9)
    for key in eventlog.PYTHON_METRICS.values():
        assert phases["p0/agg"][key] == 0


def test_shuffle_bytes_balance(phases):
    agg = phases["p0/agg"]
    assert agg["spark.shuffle_write_mb"] > 0
    assert agg["spark.shuffle_read_mb"] == pytest.approx(agg["spark.shuffle_write_mb"])


def test_rolling_log_parts_are_read_in_order(tmp_path):
    for n in (10, 2, 1):
        (tmp_path / f"events_{n}_local-1").write_text("")
    (tmp_path / "appstatus_local-1").write_text("")
    names = [os.path.basename(f) for f in eventlog.event_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]
