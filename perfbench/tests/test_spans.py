import pytest

from pb.spans import Span, attribute, self_times


def S(i, name, a, b, parent=None):
    return Span(i, name, a, b, parent=parent)


def test_self_time_subtracts_children_once():
    spans = [
        S("r", "op", 0.0, 10.0),
        S("a", "x", 1.0, 4.0, "r"),
        S("b", "y", 3.0, 6.0, "r"),      # overlaps a: union is [1, 6]
        S("c", "z", 8.0, 12.0, "r"),     # clipped to the parent: [8, 10]
        S("d", "w", 1.5, 2.0, "a"),
    ]
    st = self_times(spans)
    assert st["r"] == pytest.approx(10 - 5 - 2)
    assert st["a"] == pytest.approx(3 - 0.5)
    assert st["b"] == pytest.approx(3)
    assert st["d"] == pytest.approx(0.5)


def _ts(sec):
    import datetime as dt
    t = dt.datetime.fromtimestamp(sec, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}GMT"


def test_attribution_partitions_stage_time():
    t0 = 1_700_000_000.0
    spans = [S("op", "find", t0, t0 + 10), S("L", "operators.match", t0 + 1, t0 + 5, "op")]
    jobs = [
        {"jobId": 1, "stageIds": [1, 2], "submissionTime": _ts(t0 + 1.5)},   # grouped
        {"jobId": 2, "stageIds": [2, 3], "submissionTime": _ts(t0 + 2.0)},   # pool thread
        {"jobId": 3, "stageIds": [4], "submissionTime": _ts(t0 + 7.0)},      # op-level
        {"jobId": 4, "stageIds": [5], "submissionTime": _ts(t0 + 50.0)},     # outside
    ]
    stages = [{"stageId": i, "executorRunTime": 10 * i, "executorCpuTime": 1e6 * i,
               "numCompleteTasks": 2, "numFailedTasks": 0, "shuffleReadBytes": i,
               "shuffleWriteBytes": 0} for i in (1, 2, 3, 4, 5)]
    res = attribute(spans, jobs, stages, {"L": [1], "op": []})
    assert res["span_of_job"] == {1: "L", 2: "L", 3: "op"}
    assert res["window_jobs"] == 2
    # stage 2 is listed by jobs 1 and 2: it belongs to job 1 only
    assert res["per_span"]["L"]["executor_run_ms"] == 10 + 20 + 30
    assert res["per_span"]["op"]["executor_run_ms"] == 40
    assert res["unattributed"]["executor_run_ms"] == 50
    assert res["unattributed"]["jobs"] == 1
    parts = sum(v["executor_run_ms"] for v in res["per_span"].values())
    assert parts + res["unattributed"]["executor_run_ms"] == res["total"]["executor_run_ms"]


def test_balance_compares_with_the_rest_total():
    from pb.harness import LAYERS
    from pb.report import PSEUDO, balance

    class B:
        workload = "docstore_1m"

    metrics = {}
    for layer in LAYERS:
        calls = 2 if layer == "queryset" else 0
        metrics[f"{layer}.calls"] = {"value": calls}
        metrics[f"{layer}.executor_run_ms"] = {"value": 30.0 if calls else 0.0}
        metrics[f"{layer}.tasks"] = {"value": 4.0 if calls else 0.0}
    for p in PSEUDO:
        metrics[f"{p}.executor_run_ms"] = {"value": 10.0}
        metrics[f"{p}.tasks"] = {"value": 1.0}
    whole = {"rest_total": {"executor_run_ms": 90.0, "tasks": 11.0}}
    assert balance(B(), whole, metrics)["ok"]
    # a stage the attributed list missed shows as a gap in time or tasks
    assert not balance(B(), {"rest_total": {"executor_run_ms": 95.0, "tasks": 11.0}}, metrics)["ok"]
    assert not balance(B(), {"rest_total": {"executor_run_ms": 90.0, "tasks": 12.0}}, metrics)["ok"]
