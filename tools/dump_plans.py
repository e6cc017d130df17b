"""Dump each registry query's physical plan, normalized for diffing.

Usage:
    python tools/dump_plans.py TAG (--all | NAME ...) --sf DIR [--out DIR]

Writes ``explain("formatted")`` of every named query (``--all``: the whole
registry) to ``OUT/<name>.txt`` (default ``plans/TAG``), with expression ids
(``#123``), exchange ids (``plan_id=45``) and the other run-dependent
tokens listed in ``_VOLATILE`` replaced by fixed tokens, so two dumps of the
same plan compare equal.  ``--sf`` defaults to
``$SPARK_GRAFT_SF_DIR``; plans are shape-only, so the smallest fixture
(sf0.001) is enough.

With ``SPARK_GRAFT_CAPTURE_CKPT_PLANS=1`` the file also holds every
checkpoint segment the query cut (see ``ckpt.py``), so the iterative
loops' per-round ``hashpartitioning(..., N)`` widths are compared too.

To prove a refactor leaves plans unchanged, dump the parent commit and the
change with the same fixture and ``diff -r`` the two output directories.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from data_etl_scripts_showcase__spark import ckpt as CK  # noqa: E402
from data_etl_scripts_showcase__spark.queries import load_all  # noqa: E402
from data_etl_scripts_showcase__spark.session import get_session  # noqa: E402

# Run-dependent tokens: expression ids, exchange ids, and in the captured
# segments (printed after they ran) AQE query-stage and codegen-stage
# counters, plus the random names of per-query temporary directories.
_VOLATILE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"QueryStage \d+"), "QueryStage N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(re.escape(tempfile.gettempdir()) + r"/[^\s,\]]+"), "<tmp>"),
]


def normalize(text: str) -> str:
    for pattern, token in _VOLATILE:
        text = pattern.sub(token, text)
    return text


def plan_text(df) -> str:
    """The formatted plan plus every captured checkpoint segment."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    parts = [buf.getvalue()]
    for i, (label, jplan) in enumerate(CK.CAPTURED):
        parts.append(f"== checkpoint segment {i}: {label} ==\n{jplan.toString()}")
    return normalize("\n".join(parts))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("tag")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.all == bool(args.names):
        ap.error("give query names or --all, not both")
    if not args.sf:
        ap.error("--sf DIR (or SPARK_GRAFT_SF_DIR) is required")
    out = args.out or os.path.join(ROOT, "plans", args.tag)
    os.makedirs(out, exist_ok=True)

    registry = load_all()
    names = sorted(registry) if args.all else args.names
    spark = get_session(f"dump_plans_{args.tag}")
    failed = 0
    for name in names:
        CK.clear_captured()
        try:
            text = plan_text(registry[name].fn(spark, args.sf))
        except Exception as e:  # noqa: BLE001 — report and keep dumping
            failed += 1
            print(f"FAIL {name}: {type(e).__name__}: {e}", file=sys.stderr)
            continue
        with open(os.path.join(out, f"{name}.txt"), "w") as fh:
            fh.write(text)
    print(f"wrote {len(names) - failed} plans to {out} ({failed} failed)")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
