"""The event-log parser against a small recorded session
(``record_eventlog.py``): one 20-query exact k-NN request and one count,
each under an op span."""

import json
import os

import pytest

import eventlog

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@pytest.fixture(scope="module")
def recorded():
    with open(os.path.join(DATA, "spans.json")) as f:
        spans = json.load(f)
    log = eventlog.EventLog(eventlog.read_events(os.path.join(DATA, "eventlog.jsonl")))
    ops = {s["id"]: s["name"][3:] for s in spans if s["name"].startswith("op.")}
    return spans, log, eventlog.layer_report(spans, log, ops)


def _by_kind(report, kind):
    (r,) = [r for r in report.values() if r["kind"] == kind]
    return r


def test_every_traced_job_carries_its_span_and_op(recorded):
    spans, log, _ = recorded
    op_of = {str(s["id"]): s["op"] for s in spans}
    first = min(s["start"] for s in spans)
    late = [j for j in log.jobs.values() if j.start >= first]
    assert late and all(j.desc in op_of for j in late)
    assert all(j.group == f"op{op_of[j.desc]}" for j in late)


def test_query_op_runs_the_partial_kernel_in_python(recorded):
    _, _, report = recorded
    q = _by_kind(report, "query")
    assert q["knn.route.partial"] == 1
    assert "knn.route.grid" not in q
    assert q["calls"]["knn.collect_query_matrix"] == 1
    # eager jobs are counted against the call that started them
    assert q["jobs_by_span"]["knn.collect_query_matrix"] >= 1
    assert q["jobs_by_span"]["store.result"] >= 1
    assert sum(q["jobs_by_span"].values()) == q["spark.jobs"]
    assert q["spark.jobs"] >= 2 and q["spark.tasks"] >= q["spark.stages"] >= 1
    # the partial kernel is a MapInPandas node: Python metrics are attributed
    assert q["python.run_s"] > 0
    assert q["python.bytes_sent"] > 0 and q["python.bytes_received"] > 0
    assert q["python.map_in_pandas_rows"] >= 20 * 3
    assert q["python.rows_received"] >= q["python.map_in_pandas_rows"]


def test_count_op_has_no_python_work(recorded):
    _, _, report = recorded
    c = _by_kind(report, "count")
    assert c["spark.jobs"] >= 1
    assert c.get("python.run_s", 0.0) == 0.0
    assert c["self_s"] == {}


def test_buckets_partition_the_covered_wall_time(recorded):
    _, _, report = recorded
    for r in report.values():
        b = r["buckets"]
        covered = b["driver_s"] + b["job_s"] + b["task_s"]
        assert min(b["driver_s"], b["job_s"], b["task_s"]) >= 0
        assert covered <= r["wall_s"] + 1e-9
        assert b["coverage"] == pytest.approx(covered / r["wall_s"])
        assert r["spark.driver_outside_jobs_s"] == pytest.approx(r["wall_s"] - b["job_s"] - b["task_s"])
    assert _by_kind(report, "query")["buckets"]["coverage"] > 0.9


def test_self_time_excludes_children(recorded):
    spans, _, report = recorded
    q = _by_kind(report, "query")
    qdf = next(s for s in spans if s["name"] == "store.query_df")
    assert q["self_s"]["store.query_df"] < qdf["end"] - qdf["start"]
    total_children = sum(q["self_s"].values())
    assert total_children <= q["wall_s"] + 1e-9


def test_interval_arithmetic():
    assert eventlog.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert eventlog.length([(0, 1), (0.5, 2), (5, 5)]) == 2
    assert eventlog.clip([(0, 10), (12, 13)], 2, 12.5) == [(2, 10), (12, 12.5)]
    assert eventlog.intersect([(0, 2), (3, 6)], [(1, 4)]) == [(1, 2), (3, 4)]
    assert eventlog.layer_of("backends.ivf.build") == "backends.ivf"
    assert eventlog.layer_of("cluster.semdedup.result") == "cluster"
