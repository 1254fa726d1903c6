"""Parquet table loader for the engine's star schema.

The reference reads its one table through JDBC
(/root/reference/spark_ingest_script.py:56-61) and re-reads snapshots
from a Hive/Glue catalog (/root/reference/spark_process_script.py:37).
This engine's native at-rest format is Parquet — vectorized columnar
scan, predicate pushdown, column pruning and partition pruning all come
free from the DataSource V2 path; at 100 TB the scan is the dominant
cost and Parquet + pushdown is what keeps it proportional to the data
actually needed, not the data stored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata table. Lazy — nothing executes until an action."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's `ts` physical type has varied across testdata
    generations — TIMESTAMP(NANOS) (which Spark's parquet reader
    rejects outright, [PARQUET_TYPE_ILLEGAL] — Spark timestamps are
    microsecond precision) and plain TIMESTAMP(MICROS). Adapt to
    whatever is on disk instead of assuming one generation:

    * int64 after `nanosAsLong` (i.e. NANOS on disk): truncate to µs.
      Truncation (`div 1000`) matches DuckDB's `epoch_us()` on the
      same values exactly (verified empirically), so oracle
      comparisons on derived timestamps agree.
    * TIMESTAMP_NTZ (MICROS, isAdjustedToUTC=false): cast to
      session-zoned TIMESTAMP. The session is pinned to UTC
      (session.py), so the instant equals DuckDB's naive reading.
    * TIMESTAMP: already what every downstream operator expects.
    """
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    dt = raw.schema["ts"].dataType.simpleString()
    if dt == "bigint":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if dt == "timestamp_ntz":
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A driver-built lookup table (log/idf tables, a 5-row dim, a
    single observed-metrics row) as a JVM-side `LocalRelation`.

    `rows` are tuples in `ddl` column order; the table is typed by
    `StructType.fromDDL(ddl)` (nullability included) and handed to
    Spark as a columnwise `pyarrow.Table`, so it plans as
    `LocalTableScan`. A Python-list `createDataFrame` instead goes
    `parallelize` → pickled Python RDD: every evaluation runs
    defaultParallelism Python-worker tasks, even for 5 rows. Warm
    medians of six runs of a 50-row broadcast lookup (4 cores,
    Spark 4.1.2), total CPU / of which Python workers: list
    1.44 s / 0.79 s, Arrow table 0.57 s / 0 s, SQL `VALUES`
    0.54 s / 0 s. A 100,000-row table builds in 0.34 s and still
    plans as `LocalTableScan`.

    Cells are converted by Arrow with no coercion beyond it: a
    `Decimal` for a `double` column raises, as the list path did.
    A `LocalRelation` is constant-folded by the optimizer — a filter
    over it is evaluated at plan time, so a dim meant to feed dynamic
    partition pruning must not be one (`join_dpp` uses `range`).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))
    columns = list(zip(*rows)) or [()] * len(schema)
    return spark.createDataFrame(
        pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(columns, schema)],
            schema=schema,
        )
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view for the SQL-facing operators."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


#: memoized spread verdicts: (SparkContext id, probe key, cores) →
#: "input was under-split". The cached value is a FILE-LAYOUT fact
#: (how many input splits a fixed file set produces), never data or
#: query results; keyed on the context id so a new session re-probes.
_SPREAD_PROBED: dict[tuple[int, str, int], bool] = {}


def spread(df: DataFrame, spark: SparkSession, probe_key: str) -> DataFrame:
    """Repartition ahead of superlinear per-row work (signatures,
    tokenize/explode chains, all-pairs joins) — but ONLY when the
    input is under-split. The local testdata is one parquet row group
    → one input split, which would serialize the expensive stage onto
    a single core; shuffling N small rows is noise next to the O(N·k)
    signature math or O(N²) pair math it parallelizes. A real
    multi-split corpus is already parallel, so the shuffle is skipped
    entirely there (an unconditional repartition would insert a
    full-corpus Exchange at 100 TB for nothing).

    The under-split probe (`df.rdd.getNumPartitions()`) compiles the
    physical plan, so its verdict is memoized per (SparkContext,
    `probe_key`, core count): callers name the scan layout (the table
    path), and repeated builds over it skip the probe.
    """
    cores = spark.sparkContext.defaultParallelism
    key = (id(spark.sparkContext), probe_key, cores)
    under = _SPREAD_PROBED.get(key)
    if under is None:
        under = _SPREAD_PROBED[key] = df.rdd.getNumPartitions() < cores
    return df.repartition(cores) if under else df


def spread_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """`load_table` + `spread` with the probe memoized per table path
    — the form nearly every spread call site wants."""
    return spread(
        load_table(spark, sf_dir, name), spark, probe_key=f"{sf_dir}/{name}"
    )
