"""SparkSession factory with scale-conscious defaults.

The reference leaves every Spark knob at its 2.4 default (the single
commented-out attempt is ``spark.driver.memory`` at
/root/reference/spark_ingest_script.py:20). This engine instead sets
the configs that matter at 100 TB up front:

* AQE (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic join-strategy demotion to broadcast) — the single biggest
  lever for plans whose statistics are only known at runtime.
* ``spark.sql.shuffle.partitions`` sized to the machine for local
  runs; on a real cluster AQE's coalescing makes the static value a
  ceiling rather than a target.
* Arrow on — every Pandas-UDF operator (dedup, similarity,
  multimodal) rides the vectorized Arrow path.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "crime_data_batch_processing_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    In local mode there is one JVM; ``spark.driver.memory`` is the only
    memory knob. On a cluster, pass ``master=None`` and let
    spark-submit own the resource configs — everything set here is
    topology-independent.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- adaptive execution: the scale-up insurance policy ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- scan parallelism for the LOCAL testdata (one ~10-50 MB
        # parquet file per table would otherwise be a single input
        # split; 16m yields a handful of splits so scans use the
        # cores). Production keeps the 128m default — override via
        # SPARK_GRAFT_MAX_PARTITION_BYTES.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        # --- Arrow for every pandas-UDF operator ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- determinism / oracle comparability ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- quiet local runs ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]):
    """Set `conf` on the session for the block. On exit, also on error,
    each key gets its previous value back, or is unset if it was unset.

    The session conf is global: a job or stream started from another
    thread inside the block sees the scoped values too.
    """
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
