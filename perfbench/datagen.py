"""Deterministic synthetic input tables for the benchmark.

Writes the ten registry tables (``sources.tables.TABLES``) as parquet under
one directory, in the shape the engine's loaders expect: a TPC-H-like star
schema, an ``events`` stream table, a ``documents`` text corpus with 5%
near-duplicate rows (another document's text plus `` dup``) and unit-norm
64-dim ``embeddings`` drawn around ten labelled centres.  Every column is
drawn independently and uniformly, as in the reference fixtures; row counts
scale linearly with ``sf`` (sf 0.1 = 600,000 lineitem rows).

The tables depend only on ``sf`` and the fixed ``DATA_SEED``: the run seed
of the benchmark orders the queries, it never changes the data, so one set
of golden output fingerprints holds for every seed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
FORMAT_VERSION = 1  # bump when the generated bytes change

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLOURS = ["red", "blue", "hot", "cold", "new", "small", "large", "old"]
NOUNS = ["bolt", "rod", "gear", "plate", "ring", "anvil", "widget", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

DAY_US = 86_400_000_000


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _ts_days(rng: np.random.Generator, lo: tuple, hi: tuple, n: int) -> pa.Array:
    days = rng.integers(_days_since_epoch(*lo), _days_since_epoch(*hi) + 1, n)
    return pa.array(days.astype(np.int64) * DAY_US, pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``, drawn from ``DATA_SEED``."""
    k = sf / 0.1
    n_cust, n_supp, n_part = int(15_000 * k), int(1_000 * k), int(20_000 * k)
    n_ord, n_line = int(150_000 * k), int(600_000 * k)
    n_events, n_users = int(100_000 * k), int(1_500 * k)
    n_docs, n_vecs = int(5_000 * k), int(2_000 * k)
    rng = np.random.default_rng(DATA_SEED)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{c} {n}" for c in COLOURS for n in NOUNS]
    partkeys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(partkeys),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (partkeys % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _ts_days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _cents(rng, 900.0, 105000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts_days(rng, (1995, 1, 2), (2001, 11, 4), n_line),
        }
    )
    start = _days_since_epoch(2024, 1, 1) * DAY_US
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, n_events))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_events)),
            "event_type": _pick(rng, EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array(
                [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_events)]
            ),
        }
    )
    lengths = rng.integers(10, 101, n_docs)
    word_idx = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(WORDS[i] for i in word_idx[pos : pos + n]))
        pos += n
    dup = rng.random(n_docs) < 0.05
    origin = rng.integers(0, n_docs, n_docs)
    for i in np.nonzero(dup)[0]:
        texts[i] = texts[origin[i]] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )
    centres = rng.normal(0.0, 0.01, (10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel()), 64
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def _digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def ensure_dataset(root: str, sf: float, row_group_rows: int) -> tuple[str, dict]:
    """Build the ``sf`` tables under ``root`` once and return (dir, manifest).

    The manifest (row counts and a content digest per file) is written last,
    so a build cut short is rebuilt by the next call instead of being read.
    """
    out = os.path.join(root, f"sf{sf:g}")
    manifest_path = os.path.join(out, "MANIFEST.json")
    want = {"sf": sf, "seed": DATA_SEED, "format": FORMAT_VERSION}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if {k: manifest.get(k) for k in want} == want:
            return out, manifest
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    manifest = dict(want, tables={})
    for name, table in build_tables(sf).items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=row_group_rows)
        manifest["tables"][name] = {
            "rows": table.num_rows,
            "sha256_16": _digest(path),
        }
    with open(manifest_path, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return out, manifest
