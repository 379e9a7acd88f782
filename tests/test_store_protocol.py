"""One build-once protocol for every cross-run store (no Spark needed):
the create-if-absent lock, re-check and marker live in
``sources/fsutil.py::build_once``, and the only other lock holders are
the FeedStore writes and the streaming rollup's per-batch lease.  Every
FeedStore write runs under its own table's lease, taken in one place."""

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


FEED_API = PACKAGE / "feed" / "api.py"


def _is_lease(item: ast.withitem) -> bool:
    call = item.context_expr
    return (
        isinstance(call, ast.Call)
        and isinstance(call.func, ast.Attribute)
        and call.func.attr == "_table_lease"
        and isinstance(call.func.value, ast.Name)
        and call.func.value.id == "self"
    )


def _feed_api_calls(match) -> list[tuple[str, bool]]:
    """``(Class.method, leased)`` for every call in feed/api.py that
    ``match`` accepts; ``leased`` says whether the call sits lexically in
    the body of a ``with self._table_lease(...)`` block of its own
    function (a nested def runs later, so it starts unleased)."""
    found = []

    def visit(node, scope, leased):
        if isinstance(node, ast.ClassDef):
            scope = node.name
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = f"{scope}.{node.name}" if scope else node.name
            leased = False
        elif isinstance(node, ast.With) and any(map(_is_lease, node.items)):
            for item in node.items:
                visit(item, scope, leased)
            for stmt in node.body:
                visit(stmt, scope, True)
            return
        if isinstance(node, ast.Call) and match(node):
            found.append((scope, leased))
        for child in ast.iter_child_nodes(node):
            visit(child, scope, leased)

    visit(ast.parse(FEED_API.read_text()), "", False)
    return found


def _is_parquet_write(call: ast.Call) -> bool:
    """``<df>.write[...].parquet(...)``: a write, not a read."""
    if not (isinstance(call.func, ast.Attribute) and call.func.attr == "parquet"):
        return False
    node = call.func.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "write":
            return True
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def test_feed_store_takes_table_lock_only_in_its_lease():
    calls = _feed_api_calls(
        lambda c: isinstance(c.func, ast.Name) and c.func.id == "table_lock"
    )
    assert calls == [("FeedStore._table_lease", False)]


def test_every_feed_store_append_runs_under_a_table_lease():
    appends = _feed_api_calls(
        lambda c: isinstance(c.func, ast.Attribute)
        and c.func.attr == "_append"
        and isinstance(c.func.value, ast.Name)
        and c.func.value.id == "self"
    )
    assert len(appends) >= 4, appends
    assert [scope for scope, leased in appends if not leased] == []


def test_fan_out_writes_the_feed_under_its_lease():
    """The feed's bucketed write is the one FeedStore write that does
    not go through ``_append``; every other parquet write is
    ``_append``'s own."""
    writes = _feed_api_calls(_is_parquet_write)
    assert sorted(writes) == [
        ("FeedStore._append", False),
        ("FeedStore.fan_out", True),
    ]
