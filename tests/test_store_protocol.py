"""One build-once protocol for every cross-run store (no Spark needed):
the create-if-absent lock, re-check and marker live in
``sources/fsutil.py::build_once``, and the only other lock holders are
the FeedStore writes and the streaming rollup's per-batch lease."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / (
    "golang_cassandra_kafka_feed_spark"
)


def _callers(name: str) -> dict[str, list[str]]:
    """``{module: [enclosing function, ...]}`` for every call of
    ``name`` in the engine package."""
    found: dict[str, list[str]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text())
        module = path.relative_to(PACKAGE).as_posix()
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(fn):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Name)
                    and node.func.id == name
                ):
                    found.setdefault(module, []).append(fn.name)
    return found


def test_table_lock_is_taken_only_by_the_three_lock_holders():
    assert set(_callers("table_lock")) == {
        "feed/api.py",
        "streaming/rollup.py",
        "sources/fsutil.py",
    }
    assert set(_callers("table_lock")["sources/fsutil.py"]) == {"build_once"}


def test_no_module_but_fsutil_writes_a_build_marker():
    """``write_marker`` outside fsutil is the MinHash index's own meta
    record, which ``build_minhash_index`` writes as its last step and
    ``ensure_minhash_index`` hands to ``build_once`` as its marker."""
    callers = _callers("write_marker")
    assert set(callers) <= {"sources/fsutil.py", "operators/minhash_index.py"}
    assert set(callers["sources/fsutil.py"]) == {"build_once"}
    assert set(callers.get("operators/minhash_index.py", [])) <= {
        "_write_meta"
    }
