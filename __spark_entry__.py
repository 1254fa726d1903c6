"""Driver contract for the spark-graft builder (PySpark target).

Thin re-export over the engine's query/oracle registry
(`crime_data_batch_processing_spark.registry`): each operator module
registers its `(spark, sf_dir) -> DataFrame` callable and — when
ANSI-SQL-expressible — its DuckDB oracle SQL via the `@query`
decorator, keeping implementation and oracle side by side.

Executor-storage contract: some queries persist derived frames
(signature state, quantized corpora) through `cachekit.persist`. Every
registered callable releases the PREVIOUS registered call's frames
before building its plan, so a harness running many `queries()`
entries sequentially in one session holds at most one query's cache at
a time without any cleanup call of its own. A harness wanting a fully
clean session after the last query may additionally call
`crime_data_batch_processing_spark.cachekit.release_all()` once its
final result is consumed.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from crime_data_batch_processing_spark import registry  # noqa: E402

registry.load_all_operators()

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship reproduces the reference's one query shape
    (/root/reference/spark_process_script.py:37): filter → groupBy →
    COUNT(col) with null-skipping semantics.
    """
    return registry.QUERIES["agg_count_filter"](spark, SMOKE_SF_DIR)


# The driver's correctness pass walks queries() in dict order and
# checks about 50 keys per run, so the order decides what gets
# re-verified. _VERIFY_FIRST lists the keys the latest change touched,
# in this order: the batch keys whose write location or dated-partition
# paths now come from `fixtures` and `sinks.snapshot_dir`, then the
# stream keys, whose checkpoints (all), stream sources and per-process
# directories moved into `fixtures`. Every change replaces the list
# with its own touched keys, at most 50 of them, each a registered key
# (tests/test_plans.py pins both); all other keys follow in
# registration order.
_VERIFY_FIRST = [
    # sinks, scale_patterns
    "sink_partitioned", "latest_snapshot", "latest_snapshot_catalog",
    "snapshot_as_of", "snapshot_expire", "snapshot_restore", "join_bucketed",
    # stream_events, stateful
    "stream_events", "stream_watermark_late", "stream_session",
    "stream_static_join", "stream_dedup", "stream_stream_join",
    "stream_stream_left_join", "stream_cdc_upsert",
    "stream_rollup_incremental", "stream_count_min", "stream_pipeline",
    "stream_pysource", "stream_pysource_partitioned", "stream_file_sink",
    "stream_sink_pysource", "stream_decontaminate", "stream_stateful",
    "stream_anomaly", "stream_transform_state",
]


def _ordered(mapping: dict) -> dict:
    first = [k for k in _VERIFY_FIRST if k in mapping]
    rest = [k for k in mapping if k not in set(first)]
    return {k: mapping[k] for k in [*first, *rest]}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _ordered(dict(registry.QUERIES))


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query key (omitted → rows-only check)."""
    return _ordered(dict(registry.ORACLES))
