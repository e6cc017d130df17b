"""Per-stage task metrics and streaming progress from a Spark event log.

The traced run enables Spark's event log for its measuring session only; this
module reads the finished log (one JSON event per line) and folds the events
that fall inside the traced pass into the scheduler, executor and streaming
metrics of the benchmark.
"""

from __future__ import annotations

import json
import os
import statistics
from collections.abc import Iterable, Iterator
from datetime import datetime

from spans import union_length

PROGRESS_EVENT = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def read_events(log_dir: str) -> Iterator[dict]:
    """Events of the single, uncompressed application log under ``log_dir``."""
    names = os.listdir(log_dir)
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            yield json.loads(line)


def pass_metrics(events: Iterable[dict], t0_ms: int, t1_ms: int) -> dict[str, float]:
    """Scheduler, executor and streaming figures for tasks and progress
    events inside the wall-clock window [t0_ms, t1_ms]."""
    jobs = 0
    stage_tasks: dict[int, list[int]] = {}
    busy: list[tuple[int, int]] = []
    m = dict.fromkeys(
        [
            "run_s", "cpu_s", "gc_s", "delay_s", "input_bytes", "input_records", "output_bytes",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_disk_bytes",
            "failed_tasks",
        ],
        0,
    )
    batches: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            if t0_ms <= ev["Submission Time"] <= t1_ms:
                jobs += 1
        elif kind == "SparkListenerTaskEnd":
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            launch, finish = info["Launch Time"], info["Finish Time"]
            if not t0_ms <= launch <= t1_ms:
                continue
            busy.append((launch, finish))
            run_ms = tm.get("Executor Run Time", 0)
            stage_tasks.setdefault(ev["Stage ID"], []).append(run_ms)
            overhead = (
                run_ms
                + tm.get("Executor Deserialize Time", 0)
                + tm.get("Result Serialization Time", 0)
                + info.get("Getting Result Time", 0)
            )
            m["delay_s"] += max(0, finish - launch - overhead) / 1e3
            m["run_s"] += run_ms / 1e3
            m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            inp = tm.get("Input Metrics") or {}
            m["input_bytes"] += inp.get("Bytes Read", 0)
            m["input_records"] += inp.get("Records Read", 0)
            m["output_bytes"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            sw = tm.get("Shuffle Write Metrics") or {}
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            m["spill_disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
            m["failed_tasks"] += bool(info.get("Failed") or info.get("Killed"))
        elif kind == PROGRESS_EVENT:
            p = ev["progress"]
            if "batchDuration" in p and t0_ms <= _progress_ms(p) <= t1_ms:
                batches.append(p)
    # skew: the slowest task against the typical one, over multi-task stages
    multi = [v for v in stage_tasks.values() if len(v) > 1]
    sum_max = sum(max(v) for v in multi)
    sum_med = sum(statistics.median(v) for v in multi)
    out = {f"executor.{k}": v for k, v in m.items() if k != "delay_s"}
    out.update(
        {
            "scheduler.jobs": jobs,
            "scheduler.stages": len(stage_tasks),
            "scheduler.tasks": sum(len(v) for v in stage_tasks.values()),
            "scheduler.delay_s": m["delay_s"],
            "scheduler.driver_only_s": (t1_ms - t0_ms - union_length(busy)) / 1e3,
            "executor.task_skew": sum_max / sum_med if sum_med else 1.0,
        }
    )
    out.update(streaming_metrics(batches))
    return out


def _progress_ms(progress: dict) -> int:
    """The progress event's batch start as epoch milliseconds."""
    stamp = progress["timestamp"].replace("Z", "+00:00")
    return int(datetime.fromisoformat(stamp).timestamp() * 1000)


def streaming_metrics(batches: list[dict]) -> dict[str, float]:
    """Micro-batch count, latency, throughput and state size."""
    if not batches:
        return {
            "streaming.batches": 0,
            "streaming.batch_p50_ms": 0.0,
            "streaming.input_rows_per_s": 0.0,
            "streaming.empty_batch_share": 0.0,
            "streaming.state_rows": 0,
        }
    rows_of = [sum(src.get("numInputRows", 0) for src in p.get("sources", [])) for p in batches]
    rows = sum(rows_of)
    busy_ms = sum(p["batchDuration"] for p in batches)
    # state size: the last batch of each streaming query, summed over queries
    last: dict[str, dict] = {}
    for p in batches:
        last[p["runId"]] = p
    state = sum(
        op.get("numRowsTotal", 0)
        for p in last.values()
        for op in p.get("stateOperators", [])
    )
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_ms": statistics.median(p["batchDuration"] for p in batches),
        "streaming.input_rows_per_s": rows / (busy_ms / 1e3) if busy_ms else 0.0,
        "streaming.empty_batch_share": rows_of.count(0) / len(batches),
        "streaming.state_rows": state,
    }
