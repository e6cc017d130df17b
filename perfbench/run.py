"""Benchmark of the engine: one seeded pass loop over a workload's queries.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 --trace 0

Run from the repository root.  The tables are generated once under
``perfbench/.work/data`` (see ``datagen.py``; their build time is not part of
any metric).  One run is one process acting as a single closed-loop client:

1. Set-up, ``SETUPS`` times, each in a fresh JVM: import the engine, start
   its session (``session.get_session``), build the registry (``load_all``)
   and run one untimed warm-up query.  ``setup_s`` is their median.
2. Passes in the last JVM: each pass runs every query of the workload once,
   in an order drawn from the seed.  A query's latency runs from the call of
   its registry function to the end of its action, an order-insensitive
   fingerprint of the whole output (``fingerprint.py``) that is checked
   against ``golden.json``.  The end-to-end figures come from the first
   pass, the cold pass a daily batch job runs.  Further passes run while the
   next one is expected to end within ``--seconds``; their outputs are
   checked and their latencies recorded, but they change no figure.

With ``--trace 1`` the JVM before the last runs one untraced pass (the base of
``trace.overhead_share``) and the last runs one pass with Spark's event log
on and the layer wrappers of ``spans.py`` installed, and the run reports the
per-layer metrics instead of the end-to-end ones.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``.  Everything else a run records
(seed, query orders, per-query latencies, host load, spans) is written to
``perfbench/.work/results``.
"""

from __future__ import annotations

import argparse
import importlib
import importlib.util
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

from spans import LAYERS

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
PACKAGE = "data_etl_scripts_showcase__spark"
# Cold set-ups per run.  Each costs 5-20 s on a shared 4-core host; two keep
# an untraced run within about 75 s.
SETUPS = 2
# Engine modules whose public functions the traced run wraps, with the
# modules below them.
TRACED_MODULES = (
    "sources", "ckpt", "operators.graph", "operators.dedup",
    "operators.similarity", "sinks", "streaming", "enrichment", "functions",
)  # fmt: skip
# Every end-to-end figure a run prints, with its unit.  The result line
# carries the ones BENCHMARK.json bounds (REPORTED).  The others are printed
# and recorded only: between runs of one workload with different seeds the
# median latency moves with the query order (the first query to touch a
# subsystem pays its JIT warm-up) and peak RSS with the JVM's heap sizing, by
# more than any useful bound; the tail needs eleven latencies and a pass has
# fewer; a failed share reads 0 on a correct engine (the result line's
# "failed" count carries it).
END_TO_END_UNITS = {
    "setup_s": "s", "makespan_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "failed_share": "ratio", "peak_rss_mb": "MB",
}  # fmt: skip
REPORTED = ("makespan_s", "setup_s")
# The per-layer metrics of a traced run, with their units (BENCHMARK.json's
# per_layer list).
PER_LAYER_UNITS = {
    "session.start_s": "s", "queries.load_all_s": "s",
    "sources.load_table_calls": "count", "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.build_tasks": "count",
    "ckpt.calls": "count", "operators.graph_s": "s", "operators.graph_jobs": "count",
    "operators.dedup_s": "s", "operators.similarity_s": "s",
    "catalyst.plan_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_s": "s", "scheduler.driver_only_s": "s",
    "queries.action_s": "s", "queries.action_jobs": "count",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.input_bytes": "bytes", "executor.input_records": "count",
    "executor.shuffle_write_bytes": "bytes",
    "executor.shuffle_read_bytes": "bytes", "executor.spill_disk_bytes": "bytes",
    "executor.task_skew": "ratio", "executor.failed_tasks": "count",
    "pyworker.cpu_s": "s", "pyworker.processes": "count", "enrichment.s": "s",
    "sinks.calls": "count", "sinks.s": "s", "sinks.jobs": "count",
    "executor.output_bytes": "bytes",
    "streaming.calls": "count", "streaming.s": "s",
    "streaming.batches": "count", "streaming.batch_p50_ms": "ms",
    "streaming.input_rows_per_s": "1/s", "streaming.empty_batch_share": "ratio",
    "streaming.state_rows": "count",
    **{f"self.{layer}_s": "s" for layer in LAYERS},
    "trace.overhead_share": "ratio",
}  # fmt: skip


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile that leaves at least
    ``beyond`` samples above it, or None when there are too few samples.

    With n sorted samples the value at rank n - beyond - 1 (0-based) has
    exactly ``beyond`` samples after it; its percentile is its rank share."""
    n = len(values)
    if n <= beyond:
        return None
    rank = n - beyond - 1
    return 100.0 * (rank + 1) / n, sorted(values)[rank]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------- engine


def configure_environment(eventlog_dir: str | None) -> None:
    """Process environment for the next JVM: scratch paths inside the
    checkout, the event log when tracing, and no inherited engine overrides."""
    pid_dir = lambda kind: os.path.join(WORK, kind, str(os.getpid()))  # noqa: E731
    for kind in ("tmp", "local", "warehouse"):
        os.makedirs(pid_dir(kind), exist_ok=True)
    for var in list(os.environ):
        if var.startswith("SPARK_GRAFT_"):
            del os.environ[var]
    os.environ["TMPDIR"] = pid_dir("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = pid_dir("local")
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if ROOT not in paths:  # the workers import the engine from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in paths if p])
    # no hsperfdata file in the system temp directory, from the launcher JVM
    # of spark-submit or from the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={pid_dir('tmp')} -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={pid_dir('warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if eventlog_dir:
        for conf in (
            "spark.eventLog.enabled=true",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
            f"spark.eventLog.dir=file://{eventlog_dir}",
        ):
            args += ["--conf", conf]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_engine(data_dir: str, eventlog_dir: str | None = None):
    """One set-up in a fresh JVM; returns (spark, registry, timings)."""
    from fingerprint import fingerprint
    from workloads import WARMUP_QUERY

    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]
    configure_environment(eventlog_dir)
    t0 = time.perf_counter()
    spark = importlib.import_module(f"{PACKAGE}.session").get_session("perfbench")
    t1 = time.perf_counter()
    registry = importlib.import_module(f"{PACKAGE}.queries").load_all()
    t2 = time.perf_counter()
    fingerprint(registry[WARMUP_QUERY].fn(spark, data_dir))
    t3 = time.perf_counter()
    return spark, registry, {
        "setup_s": t3 - t0,
        "session.start_s": t1 - t0,
        "queries.load_all_s": t2 - t1,
        "warmup_s": t3 - t2,
    }


def stop_engine(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None
    SparkSession._instantiatedSession = None
    SparkSession._activeSession = None


def wait_for_children(timeout: float = 30.0) -> None:
    """Wait until no process started by this one (JVM, Python daemon,
    workers) is left."""
    from procs import descendants

    deadline = time.monotonic() + timeout
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes still running: {descendants(os.getpid())}")
        time.sleep(0.1)


def plan_separately(spark, df) -> None:
    """Analyse, optimise and physically plan ``df``'s logical plan on a
    QueryExecution of its own, leaving the frame's own (used by the action)
    untouched."""
    modes = getattr(spark._jvm.org.apache.spark.sql.execution, "CommandExecutionMode$")
    mode = getattr(modes, "MODULE$").ALL()
    logical = df._jdf.queryExecution().logical()
    spark._jsparkSession.sessionState().executePlan(logical, mode).executedPlan()


def drop_memory_sinks(spark) -> None:
    """Drop the in-memory tables streaming queries leave in the session."""
    for t in spark.catalog.listTables():
        if t.name.startswith("mem_"):
            spark.catalog.dropTempView(t.name)


# --------------------------------------------------------------------- passes


def run_query(spark, registry, name: str, data_dir: str, tracer=None) -> dict:
    """Build and fingerprint one query; latency covers both."""
    from fingerprint import fingerprint

    fn = registry[name].fn
    t0 = time.perf_counter()
    try:
        if tracer is None:
            fp = fingerprint(fn(spark, data_dir))
        else:
            tracer.query = name
            with tracer.span("query"):
                with tracer.span("queries.build"):
                    df = fn(spark, data_dir)
                with tracer.span("queries.action"):
                    with tracer.span("catalyst.plan"):
                        plan_separately(spark, df)
                    fp = fingerprint(df)
        error = None
    except Exception as e:  # noqa: BLE001 - a failing query is a result
        fp, error = None, f"{type(e).__name__}: {e}"[:2000]
    latency = time.perf_counter() - t0
    drop_memory_sinks(spark)
    return {"query": name, "latency_s": latency, "fingerprint": fp, "error": error}


def run_passes(spark, registry, wl, seed, seconds, data_dir, golden, tracer=None):
    """Passes over the workload until the next one would end after ``seconds``."""
    from workloads import pass_order

    passes, t_start, p = [], time.perf_counter(), 0
    while True:
        order = pass_order(wl.queries, seed, p)
        wall0 = time.time()
        t0 = time.perf_counter()
        results = [run_query(spark, registry, q, data_dir, tracer) for q in order]
        makespan = time.perf_counter() - t0
        for r in results:
            r["ok"] = r["error"] is None and r["fingerprint"] == golden.get(r["query"])
        passes.append(
            {"pass": p, "order": order, "makespan_s": makespan,
             "wall": [wall0, time.time()], "queries": results}
        )  # fmt: skip
        p += 1
        if time.perf_counter() - t_start + makespan > seconds:
            return passes


# -------------------------------------------------------------------- metrics


def end_to_end(setups: list[dict], passes: list[dict], peak_rss: int) -> dict:
    """The end-to-end figures of one run: latencies from the first pass,
    failures from every pass."""
    results = [r for p in passes for r in p["queries"]]
    ok = [r["latency_s"] for r in passes[0]["queries"] if r["ok"]]
    tail = tail_percentile(ok)
    return {
        "setup_s": median([s["setup_s"] for s in setups]),
        "makespan_s": passes[0]["makespan_s"],
        "query_p50_s": median(ok),
        "query_tail_s": tail[1] if tail else None,
        "query_tail_percentile": tail[0] if tail else None,
        "query_samples": len(ok),
        "failed_share": sum(not r["ok"] for r in results) / len(results),
        "peak_rss_mb": peak_rss / 2**20,
    }


def per_layer(spans, setups, traced_pass, untraced_makespan, events, pyworker) -> dict:
    """Per-layer metrics of a traced run."""
    from eventlog import pass_metrics
    from spans import span_metrics

    m = {
        "session.start_s": median([s["session.start_s"] for s in setups]),
        "queries.load_all_s": median([s["queries.load_all_s"] for s in setups]),
    }
    m.update(span_metrics(spans))
    t0, t1 = traced_pass["wall"]
    m.update(pass_metrics(events, int(t0 * 1000), int(t1 * 1000) + 1))
    m["pyworker.cpu_s"], m["pyworker.processes"] = pyworker
    m["trace.overhead_share"] = traced_pass["makespan_s"] / untraced_makespan - 1.0
    return m


# ----------------------------------------------------------------------- main


def data_fingerprint(data_dir: str) -> str:
    """The input-directory fingerprint of ``tools/check_correctness.py``."""
    path = os.path.join(ROOT, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.data_fingerprint(data_dir)


def measure(args) -> dict:
    import datagen
    import procs
    from spans import JobCounter, Tracer, install, layer_functions, layer_modules, uninstall
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    golden_path = os.path.join(BENCH, "golden.json")
    golden_all = {"data": {}, "queries": {}}
    if os.path.exists(golden_path):
        with open(golden_path) as f:
            golden_all = json.load(f)
    key = f"sf{wl.sf:g}"
    data_dir, manifest = datagen.ensure_dataset(os.path.join(WORK, "data"), wl.sf, wl.row_group_rows)
    digests = {t: v["sha256_16"] for t, v in manifest["tables"].items()}
    data_ok = digests == golden_all["data"].get(key)
    golden = golden_all["queries"].get(key, {}) if data_ok else {}

    record = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "data_dir_digests": digests, "data_matches_golden": data_ok,
        "nproc": len(os.sched_getaffinity(0)), "cpu_count": os.cpu_count(),
        "host_before": procs.host_context(),
    }  # fmt: skip
    eventlog_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
    setups, untraced = [], []
    with procs.ProcSampler() as sampler:
        for i in range(SETUPS):
            measuring = i == SETUPS - 1
            if measuring and args.trace:
                os.makedirs(eventlog_dir, exist_ok=True)
            spark, registry, timing = start_engine(
                data_dir, eventlog_dir if measuring and args.trace else None
            )
            setups.append(timing)
            if args.trace and i == SETUPS - 2:
                untraced = run_passes(spark, registry, wl, args.seed, 0, data_dir, golden)
            if measuring and not args.trace:
                passes = run_passes(spark, registry, wl, args.seed, args.seconds, data_dir, golden)
            elif measuring:
                modules = layer_modules(PACKAGE, TRACED_MODULES)
                tracer = Tracer(JobCounter(spark.sparkContext))
                bindings = install(tracer, layer_functions(modules, PACKAGE), PACKAGE)
                record["trace_bindings"] = len(bindings)
                sampler.begin()
                passes = run_passes(spark, registry, wl, args.seed, 0, data_dir, golden, tracer)
                pyworker = sampler.end()
                uninstall(bindings)
            stop_engine(spark)
        wait_for_children()
        peak_rss = sampler.peak_rss

    record.update(setups=setups, passes=passes, untraced_passes=untraced)
    record["host_after"] = procs.host_context()
    record["cpu_steal_share"] = procs.steal_share(record["host_before"], record["host_after"])
    record["data_fingerprint"] = data_fingerprint(data_dir)
    results = [r for p in untraced + passes for r in p["queries"]]
    e2e = end_to_end(setups, passes, peak_rss)
    record["end_to_end"] = e2e
    if args.trace:
        from eventlog import read_events

        layers = per_layer(
            tracer.spans, setups, passes[0], untraced[0]["makespan_s"],
            read_events(eventlog_dir), pyworker,
        )  # fmt: skip
        layers["trace.offthread_calls"] = tracer.offthread_calls
        record["per_layer"] = layers
        record["spans"] = tracer.dump()
        shutil.rmtree(eventlog_dir, ignore_errors=True)
    return {"record": record, "results": results, "e2e": e2e}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        importlib.import_module(f"{PACKAGE}.queries")
    except ImportError as e:
        print(f"engine package {PACKAGE} not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        out = measure(args)
    finally:
        for kind in ("tmp", "local", "warehouse"):
            shutil.rmtree(os.path.join(WORK, kind, str(os.getpid())), ignore_errors=True)
    record, results = out["record"], out["results"]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    failed = sum(not r["ok"] for r in results)
    for r in results:
        if not r["ok"]:
            print(f"FAIL {r['query']}: {r['error'] or 'fingerprint ' + str(r['fingerprint'])}")
    if args.trace:
        layers = record["per_layer"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        e2e = out["e2e"]
        for k, unit in END_TO_END_UNITS.items():
            print(f"{k} {e2e[k]} {unit}")
        print(
            f"query_tail_s is p{e2e['query_tail_percentile']} of {e2e['query_samples']} samples"
            if e2e["query_tail_s"] is not None
            else f"query_tail_s omitted: {e2e['query_samples']} samples, fewer than 11"
        )
        metrics = {k: {"value": e2e[k], "unit": END_TO_END_UNITS[k]} for k in REPORTED}
    print(f"cpu_steal_share {record['cpu_steal_share']:.4f} (of the host's CPU time during the run)")
    print(f"detail: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": len(results), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - report and fail without a result line
        traceback.print_exc()
        sys.exit(1)
