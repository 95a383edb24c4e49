"""Shape of the operator and query API: one engine per operator, one
materialization primitive.

Reference formulations that only tests compare against live in
``tests/twins.py``, not behind an ``engine=`` switch in the package.
"""

import ast
import importlib
import inspect
import pkgutil
from pathlib import Path

import adhesive_spark.operators
import adhesive_spark.queries

# The whale-key escape hatch (``engine="salted"``), plus the private
# query helper that forwards it to session_spans for q410.
_ENGINE_TAKERS = {
    "adhesive_spark.operators.asof.interval_union",
    "adhesive_spark.operators.asof.session_spans",
    "adhesive_spark.queries.scale_queries._session_spans_query",
}


def _functions(package):
    for info in pkgutil.iter_modules(package.__path__):
        mod = importlib.import_module(f"{package.__name__}.{info.name}")
        for name, fn in inspect.getmembers(mod, inspect.isfunction):
            if fn.__module__ == mod.__name__:
                yield f"{mod.__name__}.{name}", fn


def test_only_whale_key_operators_take_engine():
    takers = {
        qualname
        for package in (adhesive_spark.operators, adhesive_spark.queries)
        for qualname, fn in _functions(package)
        if "engine" in inspect.signature(fn).parameters
    }
    assert takers == _ENGINE_TAKERS


_REPO = Path(__file__).resolve().parent.parent
_MATERIALIZERS = {"localCheckpoint", "checkpoint", "persist", "cache"}


def _materialization_bypasses(path):
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MATERIALIZERS):
            yield node.lineno, f".{node.func.attr}("
        names = [getattr(node, "id", None), getattr(node, "attr", None)]
        if isinstance(node, ast.alias):
            names += [node.name, node.asname]
        if "StorageLevel" in names:
            yield node.lineno, "StorageLevel"


def test_materialize_is_the_only_materialization():
    """Every boundary goes through ``sources.registry.materialize``: no
    other module checkpoints, persists or caches, or names a storage
    level."""
    allowed = _REPO / "adhesive_spark" / "sources" / "registry.py"
    paths = sorted((_REPO / "adhesive_spark").rglob("*.py"))
    paths.append(_REPO / "__spark_entry__.py")
    found = [
        f"{path.relative_to(_REPO)}:{line}: {what}"
        for path in paths
        if path != allowed
        for line, what in _materialization_bypasses(path)
    ]
    assert found == []
