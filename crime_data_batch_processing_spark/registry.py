"""Query/oracle registry.

Every operator in this engine registers itself here with a stable key
(the SURVEY.md §2 "query key"), a callable ``(spark, sf_dir) ->
DataFrame``, and — when the semantics are ANSI-SQL-expressible — the
equivalent DuckDB SQL used as an independent correctness oracle.

Keeping the Spark implementation and its oracle side by side in one
decorator call is the engine's sqllogictest: they can never drift
apart silently, and ``__spark_entry__.py`` is a thin re-export.

Determinism rules every registered query follows (SURVEY.md §5.2):
* alias every computed/aggregate column identically in both sides
  (the driver sorts columns by NAME before hashing values);
* double-typed aggregates are summed as DECIMAL then cast back, so
  the result is order-independent and bit-identical across engines;
* any top-k / limit query carries a total-order tie-breaker.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[["SparkSession", str], "DataFrame"]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``key``; optionally attach DuckDB oracle SQL.

    ``oracle=None`` marks a genuinely non-SQL-expressible operator
    (custom stateful streaming, LSH, pandas-UDF pipelines) — the
    driver then records a weaker rows-only check.

    The REGISTERED entry (what ``QUERIES[key]`` holds) releases every
    ``cachekit.persist`` frame from the *previous* registered invocation
    before building its own plan, so a harness that walks many queries
    sequentially without calling ``cachekit.release_all()`` itself
    (the external driver) accumulates at most one query's signature
    caches instead of all of them. Releasing a consumed query's frames
    is free; an unconsumed one merely recomputes lazily. The decorator
    returns the ORIGINAL function, so operators composing each other
    directly (e.g. clustering calling the pair detector) never drop
    caches mid-plan. Block-scoped ``cachekit.held`` frames are released
    by their own ``with`` block, never here.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate query key: {key}")

        @functools.wraps(fn)
        def entrypoint(spark: "SparkSession", sf_dir: str) -> "DataFrame":
            from crime_data_batch_processing_spark import cachekit

            cachekit.release_all()
            return fn(spark, sf_dir)

        QUERIES[key] = entrypoint
        if oracle is not None:
            ORACLES[key] = " ".join(oracle.split())
        return fn

    return deco


def load_all_operators() -> None:
    """Import every operator module so decorators populate the registry."""
    # Imported lazily to avoid import cycles (operators import `query`).
    from crime_data_batch_processing_spark import functions as _functions  # noqa: F401
    from crime_data_batch_processing_spark import operators as _operators  # noqa: F401
    from crime_data_batch_processing_spark import streaming as _streaming  # noqa: F401
