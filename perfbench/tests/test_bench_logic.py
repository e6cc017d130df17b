"""Tests of the benchmark's own logic (not of the engine).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import pickle
import sys
import textwrap

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import eventlog  # noqa: E402
from run import tail_percentile  # noqa: E402
from spans import (  # noqa: E402
    Span, Tracer, install, layer_functions, layer_modules, self_times, uninstall,
)
from workloads import WORKLOADS, pass_order  # noqa: E402

# ---------------------------------------------------------------- tail rule


def test_tail_leaves_exactly_ten_samples_above():
    values = [float(i) for i in range(1, 101)]  # 1..100
    pct, value = tail_percentile(values)
    assert value == 90.0
    assert sum(v > value for v in values) == 10
    assert pct == 90.0


def test_tail_is_order_free_and_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None
    pct, value = tail_percentile([float(i) for i in reversed(range(11))])
    assert value == 0.0 and pct == pytest.approx(100 / 11)


# ---------------------------------------------------------------- self time


def _span(sid, parent, start, end, name="x"):
    return Span(sid, name, "q", parent, start, end)


def test_self_time_subtracts_children_and_sums_to_root():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(3.0), 1: pytest.approx(2.0), 2: pytest.approx(1.0), 3: pytest.approx(4.0)}
    assert sum(st.values()) == pytest.approx(spans[0].duration)


def test_self_time_counts_overlapping_children_once():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 5.0), _span(2, 0, 3.0, 7.0)]
    assert self_times(spans)[0] == pytest.approx(4.0)


def test_tracer_nests_spans_by_call_stack():
    tr = Tracer()
    tr.query = "q1"
    with tr.span("query"):
        with tr.span("queries.build"):
            pass
        with tr.span("queries.action"):
            pass
    names = [(s.name, s.parent) for s in tr.spans]
    assert names == [("query", None), ("queries.build", 0), ("queries.action", 0)]
    assert {s.query for s in tr.spans} == {"q1"}
    st = self_times(tr.spans)
    assert sum(st.values()) == pytest.approx(tr.spans[0].duration)


# ------------------------------------------------------------------ wrappers


@pytest.fixture
def fake_package(tmp_path, monkeypatch):
    """A package whose modules bind one function by several names."""
    pkg = tmp_path / "fakepkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("from .tables import load_table\n")
    (pkg / "sub" / "tables.py").write_text(
        textwrap.dedent(
            """
            def load_table(name):
                return name.upper()

            def _private():
                return 1
            """
        )
    )
    (pkg / "sub" / "graph.py").write_text("def triangles():\n    return 3\n")
    (pkg / "query.py").write_text(
        textwrap.dedent(
            """
            from .sub import load_table
            from .sub import tables as T

            def by_name():
                return load_table("a")

            def by_module():
                return T.load_table("b")

            def by_local_import():
                from .sub.graph import triangles

                return triangles()
            """
        )
    )
    monkeypatch.syspath_prepend(str(tmp_path))
    import fakepkg.query  # noqa: F401

    yield "fakepkg"
    for name in [m for m in sys.modules if m.startswith("fakepkg")]:
        del sys.modules[name]


def test_wrappers_catch_name_bound_imports(fake_package):
    import fakepkg.query as q
    import fakepkg.sub.tables as tables

    original = tables.load_table
    funcs = layer_functions(["fakepkg.sub.tables"], fake_package)
    assert list(funcs) == ["sub.tables.load_table"]  # private helpers skipped
    tr = Tracer()
    bindings = install(tr, funcs, fake_package)
    # defining module, the re-export in sub/__init__, and query's own name
    assert {(m, a) for m, a, _ in bindings} == {
        ("fakepkg.sub.tables", "load_table"),
        ("fakepkg.sub", "load_table"),
        ("fakepkg.query", "load_table"),
    }
    with tr.span("query"):
        assert q.by_name() == "A"
        assert q.by_module() == "B"
    assert [s.name for s in tr.spans] == ["query", "sub.tables.load_table", "sub.tables.load_table"]
    # the wrapper pickles by reference to the engine module, so unpickling
    # it where no wrapper is installed (a Python worker) gives the original
    from pyspark import cloudpickle

    blob = cloudpickle.dumps(q.load_table)
    uninstall(bindings)
    assert q.load_table is original and tables.load_table is original
    assert pickle.loads(blob) is original


def test_wrappers_catch_modules_a_query_imports_in_its_body(fake_package):
    import fakepkg.query as q

    assert "fakepkg.sub.graph" not in sys.modules
    modules = layer_modules(fake_package, ["sub"])
    assert sorted(modules) == ["fakepkg.sub", "fakepkg.sub.graph", "fakepkg.sub.tables"]
    tr = Tracer()
    bindings = install(tr, layer_functions(modules, fake_package), fake_package)
    try:
        with tr.span("query"):
            assert q.by_local_import() == 3
    finally:
        uninstall(bindings)
    assert [s.name for s in tr.spans] == ["query", "sub.graph.triangles"]


def test_wrapper_records_nothing_outside_a_query(fake_package):
    import fakepkg.query as q

    tr = Tracer()
    bindings = install(tr, layer_functions(["fakepkg.sub.tables"], fake_package), fake_package)
    try:
        assert q.by_name() == "A"
    finally:
        uninstall(bindings)
    assert tr.spans == []


# --------------------------------------------------------------- query order


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_one_seed_always_gives_the_same_order(name):
    queries = WORKLOADS[name].queries
    assert pass_order(queries, 7, 0) == pass_order(queries, 7, 0)
    assert sorted(pass_order(queries, 7, 0)) == sorted(queries)
    orders = {tuple(pass_order(queries, seed, 0)) for seed in range(20)}
    assert len(orders) > 1


# ------------------------------------------------------------------ eventlog


def _task(stage, launch, finish, run_ms, **metrics):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": False},
        "Task Metrics": {"Executor Run Time": run_ms, **metrics},
    }


def test_pass_metrics_window_idle_time_and_skew():
    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1000},
        {"Event": "SparkListenerJobStart", "Submission Time": 99999},  # outside
        _task(1, 1000, 1100, 100, **{"Disk Bytes Spilled": 5}),
        _task(1, 1000, 1400, 400),
        _task(1, 1050, 1150, 100),
        _task(2, 2000, 2500, 500),
        _task(3, 99000, 99100, 100),  # outside the window
    ]
    m = eventlog.pass_metrics(events, 1000, 3000)
    assert m["scheduler.jobs"] == 1
    assert m["scheduler.tasks"] == 4 and m["scheduler.stages"] == 2
    # tasks cover [1000,1400] and [2000,2500] of the 2000 ms window
    assert m["scheduler.driver_only_s"] == pytest.approx(1.1)
    assert m["executor.task_skew"] == pytest.approx(4.0)  # stage 1: 400 / 100
    assert m["executor.spill_disk_bytes"] == 5
    assert m["streaming.batches"] == 0


def test_streaming_metrics_from_progress():
    batches = [
        {"runId": "a", "batchDuration": 100, "sources": [{"numInputRows": 20}, {"numInputRows": 30}],
         "stateOperators": [{"numRowsTotal": 3}]},
        {"runId": "a", "batchDuration": 300, "sources": [{"numInputRows": 0}],
         "stateOperators": [{"numRowsTotal": 7}]},
    ]
    m = eventlog.streaming_metrics(batches)
    assert m["streaming.batches"] == 2
    assert m["streaming.batch_p50_ms"] == 200
    assert m["streaming.input_rows_per_s"] == pytest.approx(125.0)
    assert m["streaming.empty_batch_share"] == 0.5
    assert m["streaming.state_rows"] == 7


# ----------------------------------------------------------- host context


def test_steal_share_is_stolen_ticks_over_all_ticks():
    from procs import host_context, steal_share

    before = {"cpu_steal_ticks": 100, "cpu_total_ticks": 1000}
    after = {"cpu_steal_ticks": 130, "cpu_total_ticks": 1400}
    assert steal_share(before, after) == pytest.approx(0.075)
    assert steal_share(before, before) == 0.0
    now = host_context()
    assert 0 <= now["cpu_steal_ticks"] <= now["cpu_total_ticks"]


# --------------------------------------------------------------- fingerprint


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_fingerprint_ignores_row_and_partition_order(spark):
    from fingerprint import fingerprint

    rows = [(i, f"s{i % 7}", i / 3.0) for i in range(200)]
    a = spark.createDataFrame(rows, "k long, s string, x double")
    b = spark.createDataFrame(list(reversed(rows)), "k long, s string, x double").repartition(5)
    assert fingerprint(a) == fingerprint(b)
    # column order is not part of the output either
    assert fingerprint(a) == fingerprint(b.select("x", "k", "s"))
    # but duplicates count
    assert fingerprint(a) != fingerprint(a.union(a.limit(1)))


def test_fingerprint_rounds_floats_and_keeps_nulls_apart(spark):
    from fingerprint import fingerprint

    def fp(rows, schema):
        return fingerprint(spark.createDataFrame(rows, schema))

    d = "a string, x double"
    assert fp([("r", 1.0)], d) == fp([("r", 1.0 + 1e-9)], d)
    assert fp([("r", 1.0)], d) != fp([("r", 1.0 + 1e-5)], d)
    assert fp([("r", 0.0)], d) == fp([("r", -0.0)], d)
    assert fp([(None, "a")], "a string, b string") != fp([("a", None)], "a string, b string")
    assert fp([("r", [0.1, 0.2])], "a string, v array<double>") == fp(
        [("r", [0.1 + 1e-12, 0.2])], "a string, v array<double>"
    )


# ------------------------------------------------------------ BENCHMARK.json


def test_benchmark_json_lists_what_a_run_reports():
    import json

    from run import END_TO_END_UNITS, PER_LAYER_UNITS, REPORTED

    path = os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("no BENCHMARK.json beside the benchmark")
    with open(path) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: END_TO_END_UNITS[k] for k in REPORTED
    }
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER_UNITS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
