"""Shape of the operator and query API: one engine per operator.

Reference formulations that only tests compare against live in
``tests/twins.py``, not behind an ``engine=`` switch in the package.
"""

import importlib
import inspect
import pkgutil

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
