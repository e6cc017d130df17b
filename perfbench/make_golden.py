"""Establish ``golden.json``, the fingerprints every benchmark run checks.

    python3 perfbench/make_golden.py [workload ...]

For each workload (default: all):

1. Every query that has a DuckDB oracle must first pass
   ``tools/check_correctness.py`` on the generated tables.
2. Two benchmark runs with different seeds (so different query orders), each
   in its own process, must give the same fingerprint for a query.

A query that fails either step gets no golden fingerprint, so every later run
counts it as failed; the script lists it and exits non-zero.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
GOLDEN = os.path.join(BENCH, "golden.json")
SEEDS = (101, 202)


def oracle_check(data_dir: str, names: list[str]) -> set[str]:
    """Names of the oracle-bearing queries that fail the DuckDB compare."""
    sys.path.insert(0, ROOT)
    from data_etl_scripts_showcase__spark.queries import load_all

    registry = load_all()
    with_oracle = [n for n in names if registry[n].oracle is not None]
    if not with_oracle:
        return set()
    env = dict(os.environ, TMPDIR=os.path.join(BENCH, ".work", "tmp"))
    os.makedirs(env["TMPDIR"], exist_ok=True)
    out = subprocess.run(
        [sys.executable, "tools/check_correctness.py", data_dir, *with_oracle],
        cwd=ROOT, env=env, capture_output=True, text=True, check=False,
    ).stdout  # fmt: skip
    print(out)
    passed = {line.split()[1].rstrip(":") for line in out.splitlines() if line.startswith("PASS")}
    return set(with_oracle) - passed


def run_fingerprints(workload: str, seed: int) -> tuple[dict, dict]:
    """(query -> set of fingerprints, data digests) of one benchmark run."""
    subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "0", "--trace", "0"],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
    )  # fmt: skip
    path = os.path.join(BENCH, ".work", "results", f"{workload}-seed{seed}-trace0.json")
    with open(path) as f:
        record = json.load(f)
    fps: dict[str, set] = {}
    for p in record["passes"]:
        for r in p["queries"]:
            fps.setdefault(r["query"], set()).add(r["fingerprint"] if not r["error"] else None)
    return fps, record["data_dir_digests"]


def main(names: list[str]) -> int:
    sys.path.insert(0, BENCH)
    from workloads import WORKLOADS

    golden = {"data": {}, "queries": {}}
    if os.path.exists(GOLDEN):
        with open(GOLDEN) as f:
            golden = json.load(f)
    bad = []
    for wl in (WORKLOADS[n] for n in names or WORKLOADS):
        key = f"sf{wl.sf:g}"
        runs = [run_fingerprints(wl.name, s) for s in SEEDS]
        digests = runs[0][1]
        assert all(r[1] == digests for r in runs), "generated tables differ between runs"
        data_dir = os.path.join(BENCH, ".work", "data", key)
        failed_oracle = oracle_check(data_dir, list(wl.queries))
        golden["data"][key] = digests
        fps = golden["queries"].setdefault(key, {})
        current = {q for w in WORKLOADS.values() if f"sf{w.sf:g}" == key for q in w.queries}
        for q in set(fps) - current:  # no workload at this scale runs it any more
            del fps[q]
        for q in wl.queries:
            seen = set().union(*(r[0][q] for r in runs))
            if q in failed_oracle or len(seen) != 1 or None in seen:
                fps.pop(q, None)
                bad.append(f"{wl.name}/{q}: oracle_fail={q in failed_oracle} fingerprints={seen}")
            else:
                fps[q] = seen.pop()
    with open(GOLDEN, "w") as f:
        json.dump(golden, f, indent=1, sort_keys=True)
        f.write("\n")
    for line in bad:
        print("NO GOLDEN", line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
