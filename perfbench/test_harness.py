"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    Tracer,
    digest_rows,
    parse_event_log,
    percentile,
    self_times,
    summarize,
    tail_percentile,
)
from inputs import changefeed_plan, mention, request_plan  # noqa: E402


# ------------------------------------------------------------- event log

def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return json.dumps({"Event": "SparkListenerJobStart", "Job ID": job_id,
                       "Stage IDs": stages, "Properties": props})


def _task(stage, run_ms, cpu_ns=0, sw=0, sr=(0, 0), spill=0, peak=0):
    return json.dumps({
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Peak Execution Memory": peak, "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": sr[0],
                                     "Local Bytes Read": sr[1]}}})


def test_event_log_groups_tasks_by_job_group():
    mb = 1 << 20
    log = [
        json.dumps({"Event": "SparkListenerLogStart"}),
        _job(0, [0, 1], "mvt"),
        _task(0, 100, cpu_ns=5e8, sw=2 * mb, peak=3 * mb),
        _task(0, 300, cpu_ns=5e8, sw=mb, peak=mb),
        _task(1, 200, sr=(mb, mb), spill=mb),
        # stage 1 re-listed by a later job: its tasks stay with "mvt"
        _job(1, [1, 2], "pipeline"),
        _task(2, 50),
        _job(2, [3]),  # no group: ignored
        _task(3, 999),
        "",
    ]
    g = parse_event_log(log)
    assert set(g) == {"mvt", "pipeline"}
    m = g["mvt"]
    assert m["jobs"] == 1 and m["tasks"] == 3
    assert m["exec_run_s"] == pytest.approx(0.6)
    assert m["exec_cpu_s"] == pytest.approx(1.0)
    assert m["shuffle_write_mb"] == pytest.approx(3.0)
    assert m["shuffle_read_mb"] == pytest.approx(2.0)
    assert m["spill_mb"] == pytest.approx(1.0)
    assert m["peak_exec_mem_mb"] == pytest.approx(3.0)
    # stage 0: max 300 over median 200
    assert m["task_skew"] == pytest.approx(1.5)
    p = g["pipeline"]
    assert p["jobs"] == 1 and p["tasks"] == 1 and p["task_skew"] == 0.0


# ------------------------------------------------------------ percentiles

@pytest.mark.parametrize("n,p", [(5, None), (39, None), (40, 75.0),
                                 (99, 75.0), (100, 90.0), (999, 90.0),
                                 (1000, 99.0), (10000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p


def test_summarize_reports_median_tail_and_count():
    s = summarize(list(range(100, 0, -1)))
    assert s["n"] == 100 and s["median"] == 50.5 and s["p"] == 90.0
    assert s["p_value"] == pytest.approx(90.1)
    assert summarize([3.0, 1.0, 2.0]) == {"n": 3, "median": 2.0, "p": None,
                                          "p_value": None}
    assert percentile([0.0, 10.0], 25.0) == 2.5


# ------------------------------------------------------------------ spans

def _span(name, start, end, parent=None):
    return {"name": name, "group": None, "parent": parent,
            "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [_span("build", 0.0, 10.0),
             _span("a", 1.0, 3.0, 0), _span("b", 2.0, 5.0, 0),
             _span("c", 7.0, 8.0, 0), _span("c", 7.2, 7.7, 3),
             _span("other", 20.0, 21.0)]
    own = self_times(spans)
    assert own["build"] == pytest.approx(5.0)  # 10 - |[1,5] u [7,8]|
    assert own["a"] == pytest.approx(2.0)
    assert own["c"] == pytest.approx(1.0)  # 0.5 outer self + 0.5 inner
    assert own["other"] == pytest.approx(1.0)
    assert set(self_times(spans, root="build")) == {"build", "a", "b", "c"}


def test_tracer_nests_spans_and_restores_job_group():
    seen = []
    t = Tracer(True, on_group=seen.append)
    with t.span("outer", "pipeline"):
        with t.span("inner", "mvt"):
            pass
        with t.span("untagged"):
            pass
    assert [s["name"] for s in t.spans] == ["outer", "inner", "untagged"]
    assert t.spans[1]["parent"] == 0 and t.spans[2]["parent"] == 0
    assert seen == ["pipeline", "mvt", "pipeline", None]
    off = Tracer(False, on_group=seen.append)
    with off.span("x", "g"):
        pass
    assert off.spans == [] and len(seen) == 4


# ----------------------------------------------------------------- inputs

def test_request_plan_is_seeded_and_mixed():
    a = request_plan(7, 6, 500)
    assert a == request_plan(7, 6, 500)
    assert a != request_plan(8, 6, 500)
    assert {k for k, *_ in a} == {"get", "reval", "off"}
    for kind, z, x, y in a:
        assert z == 7 if kind == "off" else 0 <= z <= 6
        assert 0 <= x < (1 << z) and 0 <= y < (1 << z)


def test_changefeed_plan_is_seeded_and_clustered():
    a = changefeed_plan(3, 10_000)
    assert a == changefeed_plan(3, 10_000)
    b = changefeed_plan(4, 10_000)
    assert a["region"] != b["region"]
    assert len(a["region"]) == len(set(a["region"])) == 48
    assert 0 not in a["region"]  # the hot city never changes
    assert all(p in a["region"] for ps in a["added"] for p in ps)
    assert mention(5).startswith("Name_5 (")


# ----------------------------------------------------------------- digest

def test_digest_ignores_row_and_column_order():
    cols, rows = ["b", "a"], [(1, "x"), (2.0, None), (float("nan"), b"\x01")]
    d = digest_rows(cols, rows)
    again = digest_rows(["a", "b"], [(r[1], r[0]) for r in reversed(rows)])
    assert d == again and d["rows"] == 3
    assert digest_rows(cols, rows[:2]) != d


def test_default_and_held_out_seeds_have_different_recorded_digests():
    with open(os.path.join(HERE, "data", "expected.json")) as f:
        rec = json.load(f)
    for key in ("points_snapshot2", "wkb3"):
        assert set(rec[key]) == {"1", "2"}
        assert rec[key]["1"] != rec[key]["2"]


# ------------------------------------------------------------ definition

def test_benchmark_json_lists_the_metrics_run_py_prints():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert len(run.PER_LAYER) <= 128
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
