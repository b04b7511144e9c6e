"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import sys
from types import SimpleNamespace

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracing as T  # noqa: E402
from workloads import MIX_QUERIES, WORKLOADS, Op, row_multiset  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# -- generators ------------------------------------------------------------
def _files(d):
    return sorted(
        os.path.relpath(os.path.join(p, f), d) for p, _, fs in os.walk(d) for f in fs
    )


def _same(a, b) -> bool:
    fa, fb = _files(a), _files(b)
    return fa == fb and all(filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False) for f in fa)


GENERATORS = {
    "grep": lambda d, s: gen.grep_corpus(d, s, 3000),
    "crawl": lambda d, s: gen.crawl_corpus(d, s, hosts=8, per_host=40),
    "mix": lambda d, s: gen.mix_sf_dir(d, s, 200),
}


@pytest.mark.parametrize("kind", sorted(GENERATORS))
def test_generator_is_deterministic_per_seed(tmp_path, kind):
    g = GENERATORS[kind]
    g(str(tmp_path / "a"), 7)
    g(str(tmp_path / "b"), 7)
    g(str(tmp_path / "c"), 8)
    assert _same(tmp_path / "a", tmp_path / "b")
    assert not _same(tmp_path / "a", tmp_path / "c")


def test_grep_expectation_covers_every_plant_kind(tmp_path):
    inp = gen.grep_corpus(str(tmp_path), 3, 3000)
    patterns = {p for p, _, _ in inp.rollup}
    assert patterns == {p for _, hits in gen.PLANTS for p, _ in hits}
    assert sum(c for c, _ in inp.rollup.values()) == inp.total_hits
    assert all(1 <= len(u) <= 3 for _, u in inp.rollup.values())


def test_crawl_links_stay_inside_the_corpus(tmp_path):
    inp = gen.crawl_corpus(str(tmp_path), 3, hosts=8, per_host=40)
    urls = set(inp.links)
    assert len(urls) == inp.pages == 320
    assert inp.seeds <= urls
    assert all(v <= urls and u not in v for u, v in inp.links.items())


# -- event log -------------------------------------------------------------
def _task(stage, launch, finish, **acc_and_metrics):
    py = {
        "data sent to Python workers": acc_and_metrics.pop("sent", 0),
        "data returned from Python workers": acc_and_metrics.pop("recv", 0),
        "time to run Python workers": acc_and_metrics.pop("py_ms", 0),
    }
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {
            "Launch Time": launch,
            "Finish Time": finish,
            "Accumulables": [{"Name": k, "Update": str(v)} for k, v in py.items() if v]
            + [{"Name": "number of output rows", "Update": "5"}],
        },
        "Task Metrics": {
            "Executor Run Time": finish - launch,
            "JVM GC Time": acc_and_metrics.get("gc", 0),
            "Input Metrics": {"Bytes Read": 7, "Records Read": acc_and_metrics.get("rows", 0)},
            "Output Metrics": {"Bytes Written": acc_and_metrics.get("out", 0), "Records Written": 0},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": acc_and_metrics.get("shuffle", 0)},
            "Disk Bytes Spilled": acc_and_metrics.get("spill", 0),
        },
    }


_SQL = "org.apache.spark.sql.execution.ui."
_PLAN = {
    "nodeName": "HashAggregate",
    "metrics": [{"name": "number of output rows", "accumulatorId": 1}],
    "children": [
        {"nodeName": "Scan parquet", "children": [],
         "metrics": [{"name": "size of files read", "accumulatorId": 2},
                     {"name": "number of files read", "accumulatorId": 3}]}
    ],
}
CANNED = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 1000},
    # SQL execution 0 in span r.0: its scan read 1000 file bytes
    {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0, "time": 9_990,
     "jobGroupId": "r.0", "sparkPlanInfo": _PLAN},
    {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
     "accumUpdates": [[2, 1000], [3, 1]]},
    # job 0 carries span r.0's group; two stages, scan + shuffle
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 10_000,
     "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r.0"}},
    _task(0, 10_010, 10_110, rows=50, sent=300, recv=30, py_ms=40, gc=5),
    _task(0, 10_010, 10_310, rows=50, sent=300, recv=30, py_ms=60),
    _task(1, 10_320, 10_400, shuffle=64, spill=8),
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 10_400},
    # job 1 has no group (a pool thread) and starts inside child span r.1
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 10_600,
     "Stage IDs": [2], "Properties": {}},
    _task(2, 10_600, 10_700, out=1000),
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 10_700},
    # job 2 runs outside every span
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 20_000,
     "Stage IDs": [3], "Properties": {"spark.jobGroup.id": "other"}},
    {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 20_100},
]
SPANS = [T.Span("round", "r.0", None, 9.9, 11.0), T.Span("writes", "r.1", "r.0", 10.5, 10.8)]


def test_event_log_parse_and_attribution(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    (app / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in CANNED) + "\n")
    (app / "appstatus_local-1").write_text("")
    items = T.parse_events(T.read_event_log(str(tmp_path)))
    jobs = {j.id: j for j in items if isinstance(j, T.Job)}
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[0].group == "r.0" and len(jobs[0].tasks) == 3
    (ex,) = [x for x in items if isinstance(x, T.Execution)]
    assert (ex.group, ex.files_bytes) == ("r.0", 1000)
    by_span = T.attribute(items, SPANS)
    assert sorted(getattr(j, "id", -1) for j in by_span["r.0"]) == [0, 0]  # job 0 + execution 0
    assert [j.id for j in by_span["r.1"]] == [1]

    u = T.usage([j for s in SPANS for j in by_span[s.id]], SPANS[:1])
    assert (u.jobs, u.stages, u.tasks) == (2, 3, 4)
    assert (u.scan_rows, u.scan_bytes, u.scan_tasks) == (100, 1000, 2)
    assert u.scan_skew == pytest.approx(300 / 200)  # max / median of the scan stage
    assert (u.shuffle_bytes, u.spill_bytes, u.out_bytes) == (64, 8, 1000)
    assert (u.py_sent, u.py_recv, u.py_rows) == (600, 60, 100)
    assert u.py_s == pytest.approx(0.1)
    assert u.gc_s == pytest.approx(0.005)
    assert u.task_s == pytest.approx(0.58)
    assert u.job_cover_s == pytest.approx(0.5)  # 10.0-10.4 and 10.6-10.7

    st = T.self_times(SPANS)
    assert st["round"] == pytest.approx(1.1 - 0.3)
    assert st["writes"] == pytest.approx(0.3)


# -- metric names ----------------------------------------------------------
def _names(kind):
    return {m["name"] for m in SPEC[kind]}


def _ops_and_bench():
    """Minimal traced operations for every workload's layers()."""
    root = T.Span("op", "x.0", None, 0.0, 2.0)
    spans = [root] + [T.Span(f"query.{q}", f"x.{i + 1}", "x.0", 0.1, 0.2) for i, q in enumerate(MIX_QUERIES)]
    spans += [T.Span(f"leg.{k}", f"x.l{k}", None, 3.0, 3.5) for k in ("scan", "match", "rollup")]
    b = SimpleNamespace(tracer=SimpleNamespace(spans=spans), cores=4)
    info = {
        "stats": {"round": 3, "discovered": 1, "dequeued": 1, "matches": 1},
        "timings": {"dequeue": 0.1},
        "commit": {"compact": 0.5},
        "compact_bytes": 10,
        "times": dict.fromkeys(MIX_QUERIES, 0.1),
    }
    return [Op(2.0, 1, traced=True, span=root, info=info)], b


LISTED = [w["name"] for w in SPEC["workloads"]]


def _layers(cls):
    ops, b = _ops_and_bench()
    w = cls()
    w.inp = SimpleNamespace(hit_pages=1, links={"u": {"v"}}, hits={"u": 1, "v": 0})
    w.frontier_rows = [SimpleNamespace(canon_url="u", status="done", lease_round=3, discovered_round=0)]
    return set(w.layers(b, ops, {}))


def test_layer_metrics_match_benchmark_json():
    produced = {"session.start_s", "trace.overhead_s"}
    for name in LISTED:
        produced |= _layers(WORKLOADS[name])
    assert produced == _names("per_layer")
    # an unlisted workload adds only its own mix.* rows (trace file only)
    extra = _layers(WORKLOADS["query_mix"]) - _names("per_layer")
    assert extra and all(n.startswith("mix.") for n in extra)


def test_end_to_end_metrics_match_benchmark_json():
    ops, _ = _ops_and_bench()
    for cls in WORKLOADS.values():
        assert set(cls().e2e(ops)) | {"setup_s"} == _names("end_to_end")


def test_workload_descriptions_cover_the_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        desc = json.load(f)
    assert set(desc) == set(WORKLOADS) and set(LISTED) <= set(WORKLOADS)
    e2e = _names("end_to_end")
    for name, d in desc.items():
        assert d["listed"] == (name in LISTED)
        known = _names("per_layer") | (_layers(WORKLOADS[name]) if not d["listed"] else set())
        for layer, targets in d["layer_map"].items():
            expanded = {layer.replace("<q>", q) for q in MIX_QUERIES}
            assert expanded <= known, layer
            assert set(targets) <= e2e


def test_benchmark_json_follows_the_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= SPEC["run_seconds"] <= 60
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    seen = set()
    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for kind in ("end_to_end", "per_layer"):
        for m in SPEC[kind]:
            assert name.match(m["name"]) and unit.match(m["unit"])
            assert m["better"] in ("higher", "lower")
            seen.add(m["name"])
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    assert len(seen) == len(SPEC["end_to_end"]) + len(SPEC["per_layer"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_row_multiset_ignores_row_and_column_order():
    a = row_multiset(["b", "a"], [(1.0, "x"), (None, True)])
    b = row_multiset(["a", "b"], [(True, None), ("x", 1.0000001)])
    assert a == b
