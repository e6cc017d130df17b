"""The engine's parallelism and session-config policy lives in session.py.

``session.spread`` and ``session.shuffle_partitions`` are the only ways the
package sizes its work; every other module goes through them, so no query
leaves session config changed and no operator grows its own sizing knob.
"""

from __future__ import annotations

import ast
import pathlib

import data_etl_scripts_showcase__spark as PKG

PKG_DIR = pathlib.Path(PKG.__file__).parent

# Session config the package may only touch through session.py, and the
# cluster width only spread() reads.
FORBIDDEN = (
    "spark.sql.shuffle.partitions",
    "spark.sql.sources.partitionOverwriteMode",
    "defaultParallelism",
)


def test_parallelism_policy_only_in_session():
    offenders = []
    for path in sorted(PKG_DIR.rglob("*.py")):
        if path.name == "session.py" and path.parent == PKG_DIR:
            continue
        rel = path.relative_to(PKG_DIR)
        src = path.read_text()
        offenders += [f"{rel}: {word}" for word in FORBIDDEN if word in src]
        for node in ast.walk(ast.parse(src)):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs
                if any(p.arg == "parallelism" for p in params):
                    offenders.append(f"{rel}:{node.lineno}: {node.name}(parallelism=)")
    assert not offenders, "\n".join(offenders)
