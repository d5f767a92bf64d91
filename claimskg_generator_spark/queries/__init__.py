"""The query registry.

Each family module (claims, curation, dedup, code_kg, sparql, graph)
registers its builders where they are defined::

    @query(ORACLE_SQL)            # or a zero-argument callable
    def q01_pricing_summary(spark, sf_dir): ...

A builder takes ``(spark, sf_dir)`` and returns a DataFrame; its oracle is
the DuckDB SQL (a string, or a callable evaluated on each
``registered()`` read) that must return the same rows.  The registry key
is the function name, which must start with ``qNN_``; a name registered
twice is an error at import.  ``__spark_entry__`` derives ``queries()``
and ``oracle_sql()`` from ``registered()``.
"""

from __future__ import annotations

import re
from collections.abc import Callable

Builder = Callable[..., object]
Oracle = str | Callable[[], str]

_NAME = re.compile(r"q(\d+)_")
_REGISTRY: dict[str, tuple[Builder, Oracle]] = {}


def query(oracle: Oracle) -> Callable[[Builder], Builder]:
    """Register the decorated builder under its name with ``oracle``."""
    def register(fn: Builder) -> Builder:
        name = fn.__name__
        if not _NAME.match(name):
            raise ValueError(f"query {name!r} does not start with qNN_")
        if name in _REGISTRY:
            raise ValueError(f"query {name!r} is registered twice")
        _REGISTRY[name] = (fn, oracle)
        return fn
    return register


def registered() -> list[tuple[str, Builder, Oracle]]:
    """Every registered (name, builder, oracle), in qNN order."""
    return [(name, fn, oracle) for name, (fn, oracle) in sorted(
        _REGISTRY.items(), key=lambda kv: int(_NAME.match(kv[0]).group(1)))]
