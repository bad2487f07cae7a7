"""Where the package may register or drop a temp view.

Kernels bind intermediate DataFrames into SQL through
``operators.materialized.bound``, which names each view per call and
drops it from the session catalog only. A fixed view name collides
between concurrent calls on one session, and ``catalog.dropTempView``
uncaches every cached plan equal to the view's. This test pins every
other call site, so a fixed-name view cannot come back unnoticed.
"""

from __future__ import annotations

import ast
from pathlib import Path

import golang_db_query_engine_elasticsearch_indexer_spark as pkg

_VIEW_CALLS = {
    "createTempView",
    "createOrReplaceTempView",
    "createGlobalTempView",
    "createOrReplaceGlobalTempView",
    "registerTempTable",
    "dropTempView",
    "dropGlobalTempView",
}

# (module path, enclosing function, call) -> why it may stay
_ALLOWED = {
    ("operators/materialized.py", "bound", "createOrReplaceTempView"):
        "the helper: per-call names",
    ("operators/materialized.py", "bound", "dropTempView"):
        "the helper: drops from the session catalog only",
    ("sources/__init__.py", "register_dir", "createOrReplaceTempView"):
        "views the caller names",
    ("session.py", "register_sf_dir", "dropTempView"):
        "drops temp views that shadow a source's tables",
    ("streaming/__init__.py", "_run_to_table", "dropTempView"):
        "drops the memory-sink name from the stream's child catalog only",
}


def _view_call_sites() -> set[tuple[str, str, str]]:
    root = Path(pkg.__file__).parent
    sites = set()
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()

        def visit(node: ast.AST, fn: str) -> None:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _VIEW_CALLS
            ):
                sites.add((rel, fn, node.func.attr))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(ast.parse(path.read_text(), str(path)), "<module>")
    return sites


def test_temp_views_only_at_named_sites():
    """Every temp-view registration or drop in the package is one of
    ``_ALLOWED``, and every allowed site still exists."""
    assert _view_call_sites() == set(_ALLOWED)
