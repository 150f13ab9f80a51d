"""Query registry: the engine's declared surface.

Every operator from SURVEY.md §2 lands here as a named query with

- ``build(spark, sf_dir) -> DataFrame`` — the Spark-native implementation,
- ``oracle`` — an equivalent ANSI-SQL string DuckDB can run on the same
  parquet tables (None for genuinely non-SQL-expressible ops, which get a
  weaker rows-only check),
- ``bench`` — whether bench.py times it as a headline query.

``__spark_entry__.py`` exposes this registry to the driver verbatim.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

BuildFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    build: BuildFn
    oracle: str | None = None
    bench: bool = False
    description: str = ""
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None = None,
    bench: bool = False,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[BuildFn], BuildFn]:
    """Decorator registering a query implementation under ``name``."""

    def deco(fn: BuildFn) -> BuildFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(
            name=name,
            build=fn,
            oracle=oracle,
            bench=bench,
            description=description or (fn.__doc__ or "").strip().splitlines()[0]
            if (description or fn.__doc__)
            else "",
            tags=tuple(tags),
        )
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    _ensure_loaded()
    return dict(_REGISTRY)


def bench_queries() -> dict[str, Query]:
    return {k: q for k, q in all_queries().items() if q.bench}


_loaded = False


def _ensure_loaded() -> None:
    """Import every module that registers queries (idempotent)."""
    global _loaded
    if _loaded:
        return
    _loaded = True
    from . import queries  # noqa: F401  (registers on import)
    from . import queries_quality  # noqa: F401
