"""Structural guard: one map-only bucket task in ``operators/copart.py``.

The copart WAL apply, the mirror catch-up and the compaction/vacuum
rewrite share one Arrow read -> fold -> write -> stats body, and the
driver point lookup shares its read-and-fold. A second task body (its own
parquet read, fold, write or stats call) must not grow back.
"""

from __future__ import annotations

import ast
import os

COPART = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "cnpj_data_pipeline_spark", "operators", "copart.py",
)


def _call_name(node: ast.Call) -> str:
    f = node.func
    if isinstance(f, ast.Attribute):
        base = f.value.id if isinstance(f.value, ast.Name) else "?"
        return f"{base}.{f.attr}"
    return f.id if isinstance(f, ast.Name) else "?"


def _calls(tree: ast.AST) -> list[str]:
    return [_call_name(n) for n in ast.walk(tree) if isinstance(n, ast.Call)]


def _module():
    with open(COPART) as f:
        tree = ast.parse(f.read())
    defs = {
        n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)
    }
    return tree, defs


def test_one_read_fold_write_stats_body():
    tree, defs = _module()
    calls = _calls(tree)
    for name in ("pq.write_table", "_file_stats", "_lww_fold_arrow"):
        assert calls.count(name) == 1, (name, calls.count(name))
    assert "pq.read_table" not in calls
    assert "_make_task" not in defs
    # the LWW fold happens only inside the shared reader
    assert _calls(defs["read_fold_arrow"]).count("_lww_fold_arrow") == 1


def test_apply_and_rewrite_build_the_same_task():
    _, defs = _module()
    # the factory: the one module function whose nested body writes a file
    (factory,) = [
        name for name, fn in defs.items()
        if any(
            isinstance(n, ast.FunctionDef) and "pq.write_table" in _calls(n)
            for n in ast.walk(fn) if n is not fn
        )
    ]
    for user in ("apply_changes_copart", "rewrite_buckets_map"):
        calls = _calls(defs[user])
        assert calls.count(factory) == 1, (user, factory)
        assert "_map_buckets" in calls, user
