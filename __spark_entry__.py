"""Driver contract for the spark-graft builder (PySpark target).

Thin re-export over the engine's query/oracle registry
(`crime_data_batch_processing_spark.registry`): each operator module
registers its `(spark, sf_dir) -> DataFrame` callable and — when
ANSI-SQL-expressible — its DuckDB oracle SQL via the `@query`
decorator, keeping implementation and oracle side by side.

Executor-storage contract: some queries persist derived frames
(signature state, quantized corpora). Every registered callable
releases the PREVIOUS registered call's tracked frames before building
its plan, so a harness running many `queries()` entries sequentially
in one session holds at most one query's cache at a time without any
cleanup call of its own. A harness wanting a fully clean session after
the last query may additionally call
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
# in this order: keys whose Spark body or a helper it calls changed;
# the manifest sink's commit-lock key; keys whose oracle builder
# changed (the SQL string itself stays byte-identical); then keys that
# build a fixture through `fixtures.build_once`, whose lock protocol
# changed. Every change replaces the list with its own touched keys,
# at most 50 of them, each a registered key (tests/test_plans.py pins
# both); all other keys follow in registration order.
_VERIFY_FIRST = [
    # Spark body or helper changed: the chunk, mixture-rate and
    # Gopher-quality stages, the corrupt-record reader, the hourly and
    # click-join stream stages, the documents stream, the kNN rank/
    # probe tail
    "doc_chunks", "pipeline_pretrain", "sample_mixture", "pipeline_curate",
    "scan_json_malformed", "scan_csv_malformed", "window_tumbling",
    "stream_events", "stream_watermark_late", "stream_stream_join",
    "stream_stream_left_join", "stream_decontaminate",
    "sim_search_knn_graph", "sim_search_knn_graph_prod", "dedup_semantic",
    "sim_search_knn_inc", "sim_search_knn_inc_prod", "dedup_semantic_inc",
    "sim_search_index_append", "sim_search_index_maintain",
    "multimodal_dedup_semantic_inc", "pipeline_release_semantic",
    "pipeline_release_semantic_prod",
    # the commit lock
    "sink_pysource",
    # oracle builder changed: the banded-LSH SQL chain and top-k tail
    "sim_search", "sim_search_lsh", "sim_search_ivf", "sim_search_sq",
    "sim_search_pq", "dedup_embedding_lsh", "dedup_embedding_lsh_prod",
    "multimodal_dedup_semantic", "multimodal_dedup_semantic_wide",
    "multimodal_dedup_semantic_xwide", "pipeline_release_media",
    # fixture builds through the lockfile protocol
    "agg_sketch_rollup", "cluster_assign_incremental", "dedup_incremental",
    "scan_binary", "multimodal_decode", "pipeline_release_inc", "scan_csv",
    "scan_json", "scan_orc", "scan_jdbc", "scan_schema_evolution",
    "scan_text", "scan_partition_prune", "scan_pysource", "scan_xml",
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
