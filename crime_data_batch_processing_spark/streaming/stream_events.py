"""Structured Streaming over events (P37): source → watermark →
stateful operator → sink.

Every streaming key here whose answer equals a batch key's runs the
batch key's own stage, defined once in `operators/`, and registers the
batch key's oracle:

* `stream_events`, `stream_watermark_late` — `time_windows.hourly_agg`
  (`SQL_HOURLY`, shared with `window_tumbling`);
* `stream_session` — `time_windows.session_agg` (`SQL_SESSIONS`,
  shared with `window_session`);
* `stream_rollup_incremental` — `timeseries.hourly_partial` per
  micro-batch and `timeseries.fold_partials` at read time
  (`SQL_HOURLY_ROLLUP`, shared with `rollup_hypertable`);
* `stream_count_min` — `aggregates.cms_estimates` over the merged grid
  (`sql_cms_ctes`, shared with `agg_count_min`);
* `stream_cdc_upsert` — `scale_patterns.latest_per_user` per
  micro-batch merge.

Batch/stream equivalence therefore holds by construction: a change to
one of those stages or oracles changes both keys.

Scale notes: the file source here stands in for Kafka — swap
`.format("parquet").load(dir)` for `.format("kafka")...` and nothing
else changes. The watermark bounds state: windows older than
(max event time − delay) are finalized and evicted; without it a
100 TB stream accumulates unbounded window state. Checkpointing gives
exactly-once sink semantics across restarts — the watermark-drop test
exercises a restart against the same checkpoint.
"""

from __future__ import annotations

import os
import shutil
from contextlib import nullcontext, suppress

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from crime_data_batch_processing_spark.fixtures import (
    build_once,
    ephemeral_dir,
    run_dir,
    scratch_dir,
)
from crime_data_batch_processing_spark.functions.exact import dsum, sql_dsum
from crime_data_batch_processing_spark.functions.textkit import sql_shingles
from crime_data_batch_processing_spark.operators.aggregates import (
    _token_code,
    cms_bucket_cols,
    cms_estimates,
    sql_cms_ctes,
)
from crime_data_batch_processing_spark.operators.llm_dedup import (
    BENCH_MOD,
    DECON_K,
)
from crime_data_batch_processing_spark.operators.scale_patterns import (
    latest_per_user,
)
from crime_data_batch_processing_spark.operators.time_windows import (
    SQL_HOURLY,
    SQL_SESSIONS,
    hourly_agg,
    session_agg,
)
from crime_data_batch_processing_spark.operators.timeseries import (
    SQL_HOURLY_ROLLUP,
    fold_partials,
    hourly_partial,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.session import scoped_conf

#: Physical schema of events.parquet files whose ts is int64 NANOS on
#: disk (Spark's µs TimestampType can't be declared for a nanos
#: column; see sources/tables.py). Testdata generations with µs
#: timestamps use EVENTS_FILE_SCHEMA_US instead — streaming_events
#: probes the footer to pick.
EVENTS_FILE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

EVENTS_FILE_SCHEMA_US = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _probe_ts_unit(src_dir: str) -> str:
    """Read one parquet footer under src_dir and report the physical
    `ts` flavor: 'ns' (int64 nanos / TIMESTAMP(NANOS)) or 'us'.

    File stream sources need a declared schema up front, and the two
    testdata generations disagree on the physical type — a footer
    probe (metadata-only, no row reads) picks the right one. Defaults
    to 'ns' when no file exists yet (a stream source dir may fill
    after start; the engine's own fixtures write nanos).
    """
    import pyarrow.parquet as pq

    if not os.path.isdir(src_dir):
        return "ns"
    for name in sorted(os.listdir(src_dir)):
        if name.endswith(".parquet"):
            t = str(pq.read_schema(os.path.join(src_dir, name)).field("ts").type)
            return "ns" if t in ("int64", "timestamp[ns]") else "us"
    return "ns"


def streaming_events(
    spark: SparkSession, src_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """readStream over a directory of events parquet files.

    ``max_files_per_trigger=1`` (default) makes each file its own
    micro-batch — the shape the incremental/watermark tests need;
    ``None`` lets AvailableNow take everything in one batch.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    unit = _probe_ts_unit(src_dir)
    schema = EVENTS_FILE_SCHEMA if unit == "ns" else EVENTS_FILE_SCHEMA_US
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(src_dir)
    if unit == "ns":
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_stream(
    df: DataFrame,
    sink,
    output_mode: str = "append",
    checkpoint: str | None = None,
    drain: bool = False,
) -> StreamingQuery:
    """Run a bounded streaming query to completion and return the
    finished query (its `lastProgress`/`recentProgress` stay readable).

    `sink` picks the sink: a query name runs into the memory sink (read
    it back with `spark.table(q.name)`; an active query of that name is
    stopped first), a function runs as a `foreachBatch` body, and a
    `(format, path)` pair writes to a file sink.

    Without `checkpoint` the run gets a `fixtures.ephemeral_dir`
    checkpoint (tmpfs) that is removed at the end. A checkpoint the
    caller passes is durable and stays, so a second run against it is
    a restart.

    State partitions: a stateful query freezes
    `spark.sql.shuffle.partitions` into its checkpoint at first start,
    and every micro-batch then commits every state partition, holding
    rows or not. Bounded runs hold a few to a few thousand keys, so the
    run scopes the count to min(8, defaultParallelism) (measured:
    stream_pysource 5.1 s at 32 partitions, 3.8 s at 8, same rows).
    The rule is fixed, so both sides of a checkpoint restart get the
    same count. `foreachBatch` bodies run unscoped: they write fixture
    files whose layout follows the session's own width.

    Trigger: AvailableNow + awaitTermination. `drain=True` runs the
    default trigger, processAllAvailable() and stop() instead: Python
    simple stream readers fall back to a single batch under
    AvailableNow and would stop after their first chunk.
    """
    spark = df.sparkSession
    writer = df.writeStream.outputMode(output_mode)
    conf = {
        "spark.sql.shuffle.partitions": str(
            min(8, spark.sparkContext.defaultParallelism)
        )
    }
    if isinstance(sink, str):
        for q in spark.streams.active:
            if q.name == sink:
                q.stop()
        writer = writer.format("memory").queryName(sink)
    elif callable(sink):
        writer = writer.foreachBatch(sink)
        conf = {}
    else:
        fmt, path = sink
        writer = writer.format(fmt).option("path", path)
    if not drain:
        writer = writer.trigger(availableNow=True)
    owned = nullcontext(checkpoint) if checkpoint else ephemeral_dir()
    with owned as ckpt, scoped_conf(spark, conf):
        q = writer.option("checkpointLocation", ckpt).start()
        try:
            if drain:
                q.processAllAvailable()
            else:
                q.awaitTermination()
        finally:
            q.stop()
    return q


def _stream_src(sf_dir: str, table: str = "events") -> str:
    """Expose a table's single parquet file through a scratch
    directory (file stream sources need a directory), copy-free: a
    symlink in a `scratch_dir` keyed by the table's path and
    fingerprint, so a regenerated tree gets a new directory."""
    src = scratch_dir("stream_src", sf_dir, table)
    os.makedirs(src, exist_ok=True)
    with suppress(FileExistsError):
        os.symlink(
            os.path.join(os.path.abspath(sf_dir), f"{table}.parquet"),
            os.path.join(src, f"{table}.parquet"),
        )
    return src


def streaming_documents(spark: SparkSession, src_dir: str) -> DataFrame:
    """readStream over a directory of documents parquet files, every
    available file in one micro-batch.

    The declared schema is DERIVED from the files already present
    (metadata-only batch read of the footers), never hardcoded: the
    testdata's physical types may be regenerated.
    Documents have no event-time column, so no ts flavor probe is
    needed.
    """
    schema = spark.read.parquet(src_dir).schema
    return spark.readStream.schema(schema).parquet(src_dir)


@query("stream_session", oracle=SQL_SESSIONS)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming gap-based session windows (30-minute inactivity):
    `session_agg` over the event stream.

    `session_window` in a streaming aggregate exercises the state
    store's session MERGE path (overlapping partial sessions combined
    as events arrive) — the hardest stateful-streaming shape. Run to
    completion in complete mode over the bounded source, the final
    state must equal the batch gaps-and-islands answer exactly.
    """
    agg = session_agg(
        streaming_events(spark, _stream_src(sf_dir), max_files_per_trigger=None)
    )
    return spark.table(run_stream(agg, "cdbp_stream_session", "complete").name)


@query(
    "stream_static_join",
    oracle=f"""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_events,
           {sql_dsum('e.value')} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with a broadcast
    dimension table, then aggregate.

    The static side is planned as an ordinary broadcast hash join
    INSIDE each micro-batch — no streaming state for the join itself
    (only the downstream aggregate holds state). This is the standard
    100 TB enrichment topology: dims broadcast to every task, the
    stream never shuffles before aggregation. Checked against the
    equivalent batch join+agg oracle.
    """
    from crime_data_batch_processing_spark.sources.tables import load_table

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        streaming_events(spark, _stream_src(sf_dir), max_files_per_trigger=None)
        .join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )
    return spark.table(run_stream(agg, "cdbp_stream_static_join", "complete").name)


@query(
    "stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: first occurrence per key, emitted in
    append mode as the stream runs.

    `dropDuplicates` on a stream keeps one state entry per distinct
    key and emits each key exactly once — the streaming form of exact
    dedup (P25) and the ingestion-side dedup a training-data pipeline
    runs before anything else. Only the key columns are projected, so
    which physical row arrived first is irrelevant to the result. In
    production the state is bounded with
    `dropDuplicatesWithinWatermark`; the bounded fixture needs no
    eviction.
    """
    dedup = (
        streaming_events(spark, _stream_src(sf_dir), max_files_per_trigger=None)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return spark.table(run_stream(dedup, "cdbp_stream_dedup").name)


@query("stream_events", oracle=SQL_HOURLY)
def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling aggregate (`hourly_agg`), checked against
    the batch oracle.

    Runs the file stream to completion with Trigger.AvailableNow in
    complete mode — the final streaming state over a bounded source
    must equal the batch answer exactly (the strongest form of the
    batch-equivalence check SURVEY.md §5.2 item 2 asks for; the
    watermark late-drop behavior is exercised separately in
    tests/test_streaming.py where data arrives across restarts).
    """
    agg = hourly_agg(streaming_events(spark, _stream_src(sf_dir)))
    return spark.table(run_stream(agg, "cdbp_stream_events", "complete").name)


def click_purchase_join(
    spark: SparkSession, src_dir: str, how: str = "inner"
) -> DataFrame:
    """The stream-stream interval-join TOPOLOGY (unstarted): clicks
    joined to purchases within [click, click+1h] per user, both sides
    watermarked at one hour, every available file in one micro-batch
    per side. `how` is the join type: "inner" for
    `stream_stream_join`, "leftOuter" for `stream_stream_left_join`.
    Shared by the registered queries (bounded runs) and the
    restart/late-data tests (file-by-file micro-batches against a
    checkpoint)."""
    clicks = (
        streaming_events(spark, src_dir, max_files_per_trigger=None)
        .where(F.col("event_type") == "click")
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        streaming_events(spark, src_dir, max_files_per_trigger=None)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    return clicks.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id
            AND purchase_ts >= click_ts
            AND purchase_ts <= click_ts + INTERVAL 1 HOUR
            """
        ),
        how,
    ).select(
        "user_id",
        "click_id",
        "purchase_id",
        F.unix_micros("click_ts").alias("click_ts_us"),
        F.unix_micros("purchase_ts").alias("purchase_ts_us"),
    )


#: Oracle of the inner click→purchase interval join: the batch join.
_SQL_CLICK_PURCHASE = """
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           epoch_us(c.ts) AS click_ts_us,
           epoch_us(p.ts) AS purchase_ts_us
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """


@query("stream_stream_join", oracle=_SQL_CLICK_PURCHASE)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: purchases attributed to the click
    they followed within one hour, both sides unbounded.

    The missing streaming shape after aggregate/dedup/static-join:
    BOTH inputs are streams, so the join itself is stateful — each
    side buffers rows in the state store until the other side's
    watermark proves no more matches can arrive. The time-range
    predicate (purchase within [click, click+1h]) is what makes state
    finite: combined with the two watermarks, Spark derives a state
    eviction bound per side (clicks older than watermark−1h can never
    match a future purchase and are dropped). Without the range
    condition the state grows forever — the #1 production footgun of
    stream-stream joins at 100 TB.

    Inner joins emit eagerly on match, so running the bounded source
    to completion in append mode must reproduce the batch interval
    join exactly — the oracle is that batch join.

    State-partition sizing: a stream-stream join instantiates FOUR
    state stores per shuffle partition (per side: keyToNumValues +
    keyWithIndexToValue). State partition count is frozen into the
    checkpoint at first start, so it must be sized to STATE volume,
    not compute width — here the filtered sides are small, so
    `run_stream`'s min(8, cores) partitions (4 partitions, 16 stores
    on a 4-core host) beat a compute-sized default (at 32 partitions:
    128 stores whose open/commit cost dominates the query).
    """
    joined = click_purchase_join(spark, _stream_src(sf_dir))
    return spark.table(run_stream(joined, "cdbp_stream_stream_join").name)


def cdc_merge_batch(target_dir: str):
    """foreachBatch merge function: fold one micro-batch of change
    records into a latest-per-key parquet table.

    This is the sink-side MERGE idiom (the plain-parquet stand-in for
    Delta/Iceberg `MERGE INTO`): per-key state lives in the TABLE, not
    in stream memory, so the stream's own state is zero and the
    topology survives any key cardinality. `localCheckpoint`
    materializes the merged result before the overwrite — reading and
    overwriting the same directory in one lazy plan would race.

    At 100 TB the target would be partitioned/bucketed by key and the
    merge restricted to the partitions a batch touches; the fold logic
    (`latest_per_user`, the batch `cdc_upsert` stage) is unchanged.
    """

    def _merge(batch: DataFrame, _batch_id: int) -> None:
        s = batch.sparkSession
        # "first batch" is decided by the target's absence, never by a
        # failed read — a transient/corrupt read must raise, not
        # silently discard all previously merged state in the overwrite
        if os.path.isdir(target_dir):
            existing = s.read.parquet(target_dir)
            all_rows = existing.unionByName(batch.select(existing.columns))
        else:
            all_rows = batch
        latest = latest_per_user(all_rows)
        latest.localCheckpoint(eager=True).write.mode("overwrite").parquet(
            target_dir
        )

    return _merge


@query(
    "stream_cdc_upsert",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           epoch_us(ts) AS last_ts_us,
           event_type AS last_type,
           value AS last_value
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC compaction: treat the event stream as change
    records and maintain the latest record per user in a parquet
    target via `foreachBatch` merge (the streaming twin of the batch
    `cdc_upsert` operator).

    The fold is idempotent — merging an already-compacted target with
    any replay of the same records yields the same table — which is
    what makes foreachBatch's at-least-once contract safe here. The
    oracle is the batch latest-per-key query over all events;
    (ts, event_id) descending is a total order, so the winner per key
    is unique and the result deterministic. The target lives in a
    per-run directory (`fixtures.run_dir`).
    """
    target = f"{run_dir('cdbp_cdc_target_')}/target"
    events = streaming_events(spark, _stream_src(sf_dir), max_files_per_trigger=None)
    run_stream(events, cdc_merge_batch(target))
    return spark.read.parquet(target).select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.unix_micros("ts").alias("last_ts_us"),
        F.col("event_type").alias("last_type"),
        F.col("value").alias("last_value"),
    )


def rollup_delta_batch(delta_base: str):
    """foreachBatch function: write one micro-batch's hourly partial
    aggregate as a batch-id-keyed delta file.

    The additive twin of `cdc_merge_batch`'s latest-wins merge. A
    read-modify-write of a running total would double-count under
    foreachBatch's at-least-once replay; writing each batch's partial
    to `batch=<id>/` with overwrite makes replay idempotent (the same
    batch id lands in the same directory), and the merge moves to
    read time — the incremental-materialized-view layout used on
    object storage, where compaction of deltas into the base is a
    separate background fold. The partial is `hourly_partial`, the
    one `rollup_hypertable` materializes.
    """

    def _write(batch: DataFrame, batch_id: int) -> None:
        hourly_partial(batch).write.mode("overwrite").parquet(
            f"{delta_base}/batch={batch_id}"
        )

    return _write


@query("stream_rollup_incremental", oracle=SQL_HOURLY_ROLLUP)
def stream_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the continuous aggregate: each
    micro-batch appends an hourly partial-aggregate delta; the serving
    query folds base-less deltas exactly.

    The streaming twin of the batch `rollup_hypertable` operator —
    same serving contract (hourly totals per event type), maintained
    incrementally instead of rebuilt. Partials re-accumulate in
    DECIMAL at read time (`decimal → double` is value-preserving at
    these magnitudes, so partial-of-partials equals the one-pass sum
    bit-for-bit — the oracle is the plain aggregate over raw events).

    Per-file micro-batches (`maxFilesPerTrigger=1`) make the
    incremental path real even on the single-file testdata source;
    each delta is O(hours × types), so a day of micro-batches folds
    thousands of tiny rows, not the event history. Every run restreams
    from scratch into its own delta root (`fixtures.run_dir`).
    """
    delta_base = run_dir("cdbp_rollup_delta_")
    events = streaming_events(spark, _stream_src(sf_dir))
    run_stream(events, rollup_delta_batch(delta_base))
    return fold_partials(spark.read.parquet(delta_base))


def cms_delta_batch(delta_base: str):
    """foreachBatch function: write one micro-batch's PARTIAL count-min
    grid (d, bucket, n) as a batch-id-keyed delta.

    The sketch twin of `rollup_delta_batch`: a count-min grid is
    cellwise-additive, so per-batch partial grids merged by SUM at
    read time equal the grid built over the whole stream in one pass —
    and each partial is a fixed D×W cells regardless of batch size,
    the smallest possible streaming state. Batch-id-keyed overwrite
    keeps replay idempotent under foreachBatch's at-least-once
    contract.
    """

    def _write(batch: DataFrame, batch_id: int) -> None:
        coded = batch.select(_token_code(F.col("event_type")).alias("code"))
        bands = coded.select(
            F.posexplode(F.array(*cms_bucket_cols(F.col("code")))).alias(
                "d", "bucket"
            )
        )
        (
            bands.groupBy("d", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(f"{delta_base}/batch={batch_id}")
        )

    return _write


@query(
    "stream_count_min",
    oracle=f"""
    WITH {sql_cms_ctes('event_type', 'events')}
    SELECT b.event_type, b.exact_n, MIN(c.n) AS est_n
    FROM bands b JOIN cms c USING (d, bucket)
    GROUP BY b.event_type, b.exact_n
    """,
)
def stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the count-min sketch: each micro-batch
    appends its partial D×W grid; serving merges cells by SUM and
    probes estimates — `agg_count_min`'s batch grid, maintained
    incrementally (cellwise additivity makes partial-of-partials equal
    the one-pass grid EXACTLY, so the oracle is the plain batch
    construction over raw events).

    This is the trending/heavy-hitter topology: the stream never
    stores the key dimension, only fixed-size grids; the (tiny)
    distinct-key probe side comes from the serving query. Constants
    and hash families are shared with `agg_count_min`
    (operators/aggregates.py), so the two sketches are
    interchangeable — a batch-built grid can seed the stream and vice
    versa. The serving probe is `cms_estimates`, `agg_count_min`'s.
    """
    delta_base = run_dir("cdbp_cms_delta_")
    events = streaming_events(spark, _stream_src(sf_dir))
    run_stream(events, cms_delta_batch(delta_base))
    from crime_data_batch_processing_spark.sources.tables import load_table

    grid = (
        spark.read.parquet(delta_base)
        .groupBy("d", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    return cms_estimates(exact, "event_type", grid)


#: Deterministic re-delivery plant for the watermark-accounting key:
#: the second delivery carries the newest tail (everything from the
#: cut onward) PLUS stale re-deliveries of 1-in-10 older events.
_LATE_CUT = "2024-01-30 00:00:00"
_LATE_MOD, _LATE_REM = 10, 7
_HOUR_US = 3_600_000_000


def _write_slice(df: DataFrame, dst_dir: str, name: str) -> None:
    """Materialize one DataFrame as exactly one parquet file named
    `name` inside dst_dir (file stream sources track individual
    files; a controlled name keeps the fixture layout readable)."""
    import glob

    tmp = f"{dst_dir}/_{name}_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    os.makedirs(dst_dir, exist_ok=True)
    shutil.copyfile(part, f"{dst_dir}/{name}.parquet")
    shutil.rmtree(tmp)


@query(
    "stream_watermark_late",
    # The oracle REPLAYS the two-delivery watermark protocol in SQL:
    # wm after delivery 1 = max(ts in b1) - 1h; delivery-2 rows whose
    # hour-window end <= that wm are dropped; the final sink holds
    # every window whose end <= the final wm, counted over accepted
    # rows only. No boundary ambiguity: wm values inherit microsecond
    # jitter from max(ts) and can never equal an hour-aligned window
    # end.
    oracle=f"""
    WITH b1 AS (
        SELECT ts, event_type, value FROM events
        WHERE NOT (ts >= TIMESTAMP '{_LATE_CUT}'
                   OR event_id % {_LATE_MOD} = {_LATE_REM})
    ), b2 AS (
        SELECT ts, event_type, value FROM events
        WHERE ts >= TIMESTAMP '{_LATE_CUT}'
           OR event_id % {_LATE_MOD} = {_LATE_REM}
    ), wm AS (
        SELECT (SELECT MAX(epoch_us(ts)) - {_HOUR_US} FROM b1) AS w1,
               GREATEST(
                   (SELECT MAX(epoch_us(ts)) - {_HOUR_US} FROM b1),
                   (SELECT MAX(epoch_us(ts)) - {_HOUR_US} FROM b2)) AS w2
    ), accepted AS (
        SELECT * FROM b1
        UNION ALL
        SELECT * FROM b2
        WHERE epoch_us(date_trunc('hour', ts)) + {_HOUR_US}
              > (SELECT w1 FROM wm)
    ), agg AS (
        SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT)
                   AS window_start_us,
               event_type,
               COUNT(*) AS n_events,
               {sql_dsum('value')} AS sum_value
        FROM accepted GROUP BY 1, 2
    )
    SELECT * FROM agg
    WHERE window_start_us + {_HOUR_US} <= (SELECT w2 FROM wm)
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data accounting across two deliveries — the
    at-least-once reality check every streaming topology needs.

    Delivery 1 is the on-time bulk; delivery 2 mixes the newest tail
    with stale re-deliveries of older events (1 in 10). The hourly
    aggregate runs twice against ONE durable checkpoint (a genuine
    stop/restart, not two independent queries): the restart recovers
    the watermark from the checkpoint, drops every re-delivered row
    whose window is already finalized — so closed windows can neither
    double-count nor resurface in the append-only sink — while stale
    rows landing in still-open windows are legitimately merged. This
    is the complete late-data contract: drop what is settled, absorb
    what is not, and advance the watermark only on event time actually
    observed.

    The fixture (source slices, checkpoint, parquet sink) builds once
    per testdata generation; the registered query reads the sink —
    the same serve-from-materialized shape as the rollup operators.
    """
    from crime_data_batch_processing_spark.sources.tables import load_table

    base = scratch_dir("wmlate", sf_dir, "events")
    src, out, ckpt = f"{base}/src", f"{base}/out", f"{base}/ckpt"

    def build() -> None:
        ev = load_table(spark, sf_dir, "events")
        second = (
            F.col("ts") >= F.lit(_LATE_CUT).cast("timestamp")
        ) | (F.col("event_id") % _LATE_MOD == _LATE_REM)
        ntz = lambda df: df.withColumn(  # noqa: E731
            "ts", F.col("ts").cast("timestamp_ntz")
        )
        for name, rows in (("a_ontime", ~second), ("b_late", second)):
            _write_slice(ntz(ev.filter(rows)), src, name)
            agg = hourly_agg(streaming_events(spark, src))
            run_stream(agg, ("parquet", out), checkpoint=ckpt)

    build_once(base, build)
    return spark.read.parquet(out).select(
        F.unix_micros("window_start").alias("window_start_us"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "stream_stream_left_join",
    # The oracle replays the OUTER-emission rule: matched pairs are
    # the batch interval join (`stream_stream_join`'s oracle); unmatched clicks appear with NULL
    # purchase only once the global watermark (min of both sides'
    # max-event-time minus delay) passes the end of their match
    # window — clicks near the stream tail stay unemitted, exactly as
    # the bounded run leaves them buffered in state.
    oracle=f"""
    WITH wm AS (
        SELECT LEAST(
            (SELECT MAX(epoch_us(ts)) FROM events
             WHERE event_type = 'click'),
            (SELECT MAX(epoch_us(ts)) FROM events
             WHERE event_type = 'purchase')) - {_HOUR_US} AS w
    )
    {_SQL_CLICK_PURCHASE}
    UNION ALL
    SELECT c.user_id, c.event_id, NULL, epoch_us(c.ts), NULL
    FROM events c, wm
    WHERE c.event_type = 'click'
      AND epoch_us(c.ts) + {_HOUR_US} < wm.w
      AND NOT EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      )
    """,
)
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join: every click eventually
    produces a row — matched eagerly, or with NULL purchase once the
    watermark PROVES no match can still arrive.

    The semantics inner joins don't have: a null result cannot be
    emitted on sight (the match may simply not have arrived yet), so
    outer emission is watermark-driven — an unmatched click surfaces
    only when the global watermark passes the end of its match
    window, i.e. when the purchase side has advanced far enough that
    a future match is impossible. That makes the OUTPUT itself
    watermark-dependent (not just state size), which is why the
    oracle must replay the emission rule rather than a plain batch
    left join: clicks whose window is still open when the bounded
    source drains remain buffered, exactly as they would on a live
    stream. Funnel drop-off analysis ("clicks that never converted")
    is this topology's canonical use.
    """
    joined = click_purchase_join(spark, _stream_src(sf_dir), how="leftOuter")
    return spark.table(run_stream(joined, "cdbp_stream_stream_left_join").name)


@query(
    "stream_pipeline",
    oracle=f"""
    WITH dd AS (
        SELECT DISTINCT user_id, event_type,
               CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us
        FROM events
    )
    SELECT c.c_mktsegment, dd.hour_us,
           COUNT(*) AS n_active
    FROM dd JOIN customer c ON dd.user_id = c.c_custkey
    GROUP BY c.c_mktsegment, dd.hour_us
    """,
)
def stream_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed streaming topology — the batch `pipeline_*` idea on a
    stream: dedup → broadcast enrichment → windowed aggregation, THREE
    chained operators (two of them stateful) in ONE streaming query.

    Chaining is the point: the first-occurrence dedup state feeds the
    enrichment join feeds the aggregate state inside one micro-batch —
    no intermediate sink, no re-read, exactly how a production
    activity-rollup topology composes. Determinism discipline: the
    dedup KEY (user, type, hour) contains every column the downstream
    aggregate reads, so WHICH duplicate survives the in-batch shuffle
    is immaterial — a pipeline that carried a non-key column (say the
    surviving row's ts) through the dedup would be arrival-order-
    dependent and un-oracle-able. The aggregate is then a distinct
    count per (segment, hour), and the batch oracle is the same
    DISTINCT → join → GROUP BY chain.
    """
    from crime_data_batch_processing_spark.sources.tables import load_table

    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        streaming_events(spark, _stream_src(sf_dir), max_files_per_trigger=None)
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        )
        .dropDuplicates(["user_id", "event_type", "hour_us"])
        .join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "hour_us")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return spark.table(run_stream(agg, "cdbp_stream_pipeline", "complete").name)


def _transform_state_available() -> bool:
    """transformWithStateInPandas needs the python protobuf package
    for its driver<->state-server protocol; probe it so the operator
    can fall back instead of crashing the streaming runner."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def _make_record_fold():
    """Factory for the shared record-tracking fold: one user's
    micro-batch rows → updated (max_value, n_events, n_records) state.

    Returned as a NESTED function (not module-level) so cloudpickle
    ships it BY VALUE inside the streaming UDF — a module-level
    function pickles by reference and requires this package on worker
    PYTHONPATH, which the driver contract does not guarantee (the
    same rule streaming/stateful.py documents).

    Rows are sorted by (ts_us, event_id) — chunk arrival order within
    a batch is not deterministic; the sort is what makes the fold
    replayable — then folded vectorized (numpy running max, no
    per-row Python loop): an event is a "record" iff its value
    strictly exceeds every earlier value of that user, seeded from
    state.

    Cross-batch scope of that seed: the sort is per-BATCH, so the
    record property is exact across micro-batches ONLY when batch
    boundaries respect per-user event-time order (every event in a
    later batch is at-or-after every event of that user in earlier
    batches). The registered queries guarantee this trivially —
    AvailableNow with max_files_per_trigger=None yields a single
    batch. A future trigger change that splits unordered files into
    multiple batches (e.g. max_files_per_trigger=1) would silently
    diverge from the oracle's global event-time fold; re-sort the
    source files by event time or keep single-batch execution."""

    def fold(prev, pdfs):
        import numpy as np
        import pandas as pd

        batch = pd.concat(list(pdfs), ignore_index=True).sort_values(
            ["ts_us", "event_id"], kind="mergesort"
        )
        seed = -np.inf if prev is None else prev[0]
        vals = batch["value"].to_numpy()
        running = np.maximum.accumulate(vals)
        prior = np.concatenate(([seed], np.maximum(running[:-1], seed)))
        n_new = int((vals > prior).sum())
        n_events = len(vals) + (0 if prev is None else prev[1])
        n_records = n_new + (0 if prev is None else prev[2])
        return float(max(seed, running[-1])), n_events, n_records

    return fold


def _record_tracker_cls():
    """Build the StatefulProcessor subclass lazily: the
    transformWithState API landed in Spark 4.0, and importing it at
    module load would break the whole registry on an older runtime."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor

    fold = _make_record_fold()

    class RecordTracker(StatefulProcessor):
        """Per-user running high-watermark with record counting:
        one fixed-width ValueState row per user."""

        def init(self, handle) -> None:
            self._state = handle.getValueState(
                "agg", "max_value double, n_events bigint, n_records bigint"
            )

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            prev = self._state.get() if self._state.exists() else None
            max_value, n_events, n_records = fold(prev, rows)
            self._state.update((max_value, n_events, n_records))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n_events],
                    "n_records": [n_records],
                    "max_value": [max_value],
                }
            )

        def close(self) -> None:
            pass

    return RecordTracker


@query(
    "stream_transform_state",
    oracle="""
    WITH o AS (
        SELECT user_id, value,
               MAX(value) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max
        FROM events
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN prev_max IS NULL OR value > prev_max
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_records,
           MAX(value) AS max_value
    FROM o
    GROUP BY user_id
    """,
)
def stream_transform_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful streaming via `transformWithStateInPandas`
    (Spark 4's successor to `applyInPandasWithState`): a custom
    per-user StatefulProcessor tracking the value high-watermark and
    counting RECORD events (strictly exceeding all prior values) — a
    fold no built-in streaming aggregate expresses, because each
    event's contribution depends on the running extremum at its
    position in event-time order.

    The processor holds one fixed-width ValueState row per user —
    bounded state, no timeline retained — and its Arrow-batched fold
    is numpy-vectorized (sort + running max, shared `_fold_records`),
    never per-row Python. The batch oracle is the same fold as a
    window scan: value > MAX(value) OVER (... ROWS UNBOUNDED
    PRECEDING AND 1 PRECEDING).

    API selection at runtime: transformWithStateInPandas needs the
    python protobuf package for its state-server protocol (and the
    RocksDB state store, scoped to the run). Where
    protobuf is absent — as in this container — the SAME fold runs
    through `applyInPandasWithState`'s GroupState, so the key stays
    green on both runtimes and the two APIs are proven semantically
    interchangeable against one oracle.

    Update-mode emissions are cumulative snapshots (one per key per
    micro-batch), so the memory-sink table is reduced to each user's
    final state with a max-struct fold keyed on n_events — making the
    result independent of how AvailableNow chose to batch the files.
    """
    events = streaming_events(
        spark, _stream_src(sf_dir), max_files_per_trigger=None
    ).select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"), "value"
    )
    out_schema = (
        "user_id bigint, n_events bigint, n_records bigint, max_value double"
    )
    if _transform_state_available():
        tracked = events.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=_record_tracker_cls()(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        conf = {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            )
        }
    else:
        from pyspark.sql.streaming.state import GroupStateTimeout

        fold = _make_record_fold()

        def _track(key, pdfs, state):
            import pandas as pd

            prev = state.get if state.exists else None
            max_value, n_events, n_records = fold(prev, pdfs)
            state.update((max_value, n_events, n_records))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n_events],
                    "n_records": [n_records],
                    "max_value": [max_value],
                }
            )

        tracked = events.groupBy("user_id").applyInPandasWithState(
            _track,
            outputStructType=out_schema,
            stateStructType=(
                "max_value double, n_events bigint, n_records bigint"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        conf = {}
    with scoped_conf(spark, conf):
        out = spark.table(run_stream(tracked, "cdbp_stream_tws", "update").name)
    return (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "n_records", "max_value")).alias("m"))
        .select("user_id", "m.n_events", "m.n_records", "m.max_value")
    )


@query(
    "stream_pysource",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def stream_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom streaming SOURCE through the Python Data Source API —
    the third leg of the extension-point family (`scan_pysource`
    batch read, `sink_pysource` batch write): a connector that owns
    its OWN offset protocol, the contract a Kafka-shaped source
    implements.

    The source serves the events table as offset-ranged micro-chunks
    ({"row": n} offsets, 4 chunks); each micro-batch advances one
    chunk, a caught-up read() returns an unchanged offset, and
    readBetweenOffsets replays any committed range after restart —
    exactly-once derives from offsets living in the checkpoint, not
    from source goodwill. Run with `drain=True` (default micro-batch
    trigger, drained to the end) so ALL chunks drain (AvailableNow
    falls back to single-batch for simple stream readers and would
    stop after chunk 1 — trap worth encoding). The aggregate downstream is
    the usual per-type count + exact sum, so the oracle proves no
    chunk was lost or double-counted across the 4 batches.

    SimpleDataSourceStreamReader reads on the driver — right for
    control-plane-sized streams and for demonstrating the protocol;
    the executor-distributed partition-based variant with the same
    offset contract is `stream_pysource_partitioned`
    (sources/pydatasource.py:PartitionedParquetStreamReader).
    """
    from crime_data_batch_processing_spark.sources.pydatasource import (
        ChunkedParquetStreamSource,
    )

    spark.dataSource.register(ChunkedParquetStreamSource)
    src = (
        spark.readStream.format("chunked_events")
        .option("path", os.path.join(sf_dir, "events.parquet"))
        .load()
    )
    agg = src.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )
    q = run_stream(agg, "cdbp_stream_pysource", "complete", drain=True)
    return spark.table(q.name)


@query(
    "stream_pysource_partitioned",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id
    FROM events
    GROUP BY event_type
    """,
)
def stream_pysource_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTOR-DISTRIBUTED streaming Python source — the scale leg of
    the extension-point family that `stream_pysource`'s
    SimpleDataSourceStreamReader deliberately is not: there the driver
    itself reads every row (fine for control-plane streams, the named
    scale-killer for a Kafka-shaped feed); here the driver only PLANS
    — `latestOffset()` advances the {{"row": n}} cursor one chunk per
    trigger and `partitions(start, end)` splits each micro-batch's
    offset range into row-range InputPartitions — while `read()` runs
    inside Spark tasks on executors, each reading only the row groups
    overlapping its range and yielding Arrow record batches
    (sources/pydatasource.py:PartitionedParquetStreamReader).

    Per micro-batch the plan has TASKS(=4) source partitions, so
    ingest parallelism scales with executors, not driver cores —
    tests/test_streaming.py asserts >1 distinct
    `spark_partition_id()` per batch actually materialized. The
    downstream aggregate (per-type count + exact sum + min/max
    event_id) proves NO row was lost or double-read across the
    4 batches x 4 tasks grid: any dropped/duplicated range shifts a
    count, an endpoint, or the exact-decimal sum.

    The `cursor_dir` option is the source's DURABLE rate-limit
    bookkeeping (commit() persists each committed offset; the tail
    never regresses across restarts — the correctness trap an
    in-memory cursor has). Like the run's checkpoint it is a tmpfs
    scratch dir removed after the run; without it the source serves
    the whole file as one (still multi-task) batch.

    The reference has no streaming at all (daily Airflow batch,
    /root/reference/da-capstone-emr-airflow.py:94); this is the
    protocol a production connector implements on Spark.
    """
    from crime_data_batch_processing_spark.sources.pydatasource import (
        PartitionedEventsStreamSource,
    )

    spark.dataSource.register(PartitionedEventsStreamSource)
    with ephemeral_dir() as cursor:
        src = (
            spark.readStream.format("chunked_events_partitioned")
            .option("path", os.path.join(sf_dir, "events.parquet"))
            .option("cursor_dir", cursor)
            .load()
        )
        agg = src.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        q = run_stream(
            agg, "cdbp_stream_pysource_partitioned", "complete", drain=True
        )
    return spark.table(q.name)


@query(
    "stream_file_sink",
    oracle=f"""
    SELECT event_type,
           epoch_us(date_trunc('day', ts)) AS day_us,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming PARQUET sink — the durable-storage leg
    the streaming family's memory sinks stand in for: `writeStream
    .format("parquet")` commits each micro-batch's files to a
    `_spark_metadata` transaction log, and a batch read of the
    directory lists files THROUGH that log, so readers see only
    committed files — uncommitted/orphaned task output is invisible
    (the same manifest-read discipline as `sink_pysource`, but
    provided natively by FileStreamSink).

    The exactly-once claim is exercised, not asserted: the build runs
    the AvailableNow stream TWICE against the SAME checkpoint. The
    second run finds every source offset already committed and writes
    nothing — a restart after success is a no-op, never a duplicate
    batch of files. A batch read then aggregates the sink's contents
    per (event_type, day); the oracle computes the same from the
    source table, so any lost, duplicated, or re-emitted file breaks
    counts and sums.

    Scale shape: the sink appends raw (filtered/normalized) events —
    the unbounded-append pattern a 100 TB event lake uses (aggregation
    happens downstream, here in the read-back query); per-batch commit
    cost is one metadata-log entry regardless of data volume, and the
    dated-partition + compaction + retention lifecycle the batch sink
    family provides applies unchanged on top.
    """
    base = scratch_dir("streamfilesink", sf_dir, "events")
    out = f"{base}/out"
    ckpt = f"{base}/ckpt"

    def build() -> None:
        for _ in range(2):  # second run must be an exactly-once no-op
            events = streaming_events(
                spark, _stream_src(sf_dir), max_files_per_trigger=None
            )
            run_stream(events, ("parquet", out), checkpoint=ckpt)

    build_once(base, build)
    back = spark.read.parquet(out)
    return (
        back.groupBy(
            "event_type",
            F.unix_micros(F.date_trunc("day", "ts")).alias("day_us"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


@query(
    "stream_sink_pysource",
    oracle=f"""
    SELECT user_id % 8 AS user_bucket,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def stream_sink_pysource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom streaming SINK through the Python Data Source API — the
    fourth and final leg of the extension-point family (`scan_pysource`
    batch read, `sink_pysource` batch write, `stream_pysource`
    streaming read): a connector implementing the per-micro-batch
    commit protocol (`DataSourceStreamArrowWriter.commit(messages,
    batchId)`) that a Kafka/Iceberg-shaped streaming sink implements.

    Protocol properties exercised, not asserted:
    - PER-BATCH ATOMIC COMMIT: the source is split into four files and
      rate-limited to one per trigger, so four separate micro-batches
      each flow tasks -> Arrow parquet files -> one atomic
      `_batch_<id>.json` publish.
    - EXACTLY-ONCE ACROSS RESTARTS: the build runs the AvailableNow
      stream TWICE against one checkpoint; the rerun finds all offsets
      committed and adds no batch log and no files (the batchId
      handshake between engine checkpoint and sink commit).
    - COMMIT-LOG VISIBILITY: the fixture plants a zombie parquet file
      in the sink directory that no commit log names; readers resolve
      files through `stream_manifest_files` (union of batch logs), so
      the orphan is invisible — a reader trusting the directory
      listing would double-count and hash-fail against the oracle.

    Scale: tasks stream Arrow batches straight to parquet (no per-row
    Python); each micro-batch's commit is one driver-side log rename
    regardless of data volume — the same O(1)-per-commit shape as the
    native FileStreamSink (`stream_file_sink`), here fully owned by
    user code, which is the point of the extension API.
    """
    from crime_data_batch_processing_spark.sources.pydatasource import (
        ManifestParquetSink,
        stream_manifest_files,
    )
    from crime_data_batch_processing_spark.sources.tables import load_table

    base = scratch_dir("streampysink", sf_dir, "events")
    src = f"{base}/src"
    out = f"{base}/out"
    ckpt = f"{base}/ckpt"
    schema = "event_id bigint, user_id bigint, event_type string, value double"

    def build() -> None:
        spark.dataSource.register(ManifestParquetSink)
        # four source files so maxFilesPerTrigger=1 drives four
        # separate micro-batch commits through the sink protocol
        (
            load_table(spark, sf_dir, "events")
            .select("event_id", "user_id", "event_type", "value")
            .repartition(4)
            .write.mode("overwrite")
            .parquet(src)
        )
        for _ in range(2):  # second run: exactly-once no-op rerun
            rows = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", "1")
                .parquet(src)
            )
            run_stream(rows, ("manifest_parquet", out), checkpoint=ckpt)
        # zombie: a valid parquet file no batch log ever committed —
        # must stay invisible to manifest-resolved readers
        committed = stream_manifest_files(out)
        shutil.copyfile(committed[0], f"{out}/data-zombie.parquet")

    build_once(base, build)
    back = spark.read.parquet(*stream_manifest_files(out))
    return (
        back.groupBy((F.col("user_id") % 8).alias("user_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


#: The streaming gate checks against a FIXED-SIZE eval set (the first
#: STREAM_EVAL_DOCS bench doc_ids): a real eval suite is constant-
#: sized while ingest grows without bound, and the per-document
#: verdict cost is O(|doc grams| + |eval grams|) — an eval set growing
#: with the corpus (every BENCH_MOD-th doc, the synthetic workload's
#: artifact) would make the gate quadratic in corpus size. 64 covers
#: EVERY bench doc at all driver SFs (52 at sf0.1), so driver outputs
#: equal the unbounded form; only the soak tiers see the bound.
STREAM_EVAL_DOCS = 64
#: hard cap on the COLLECTED eval gram set (grams, not docs):
#: STREAM_EVAL_DOCS bounds how many documents contribute but not the
#: grams per document, so one oversized eval doc could balloon the
#: driver collect + broadcast silently. Mirror the text_tfidf
#: IDF_TABLE_CAP discipline — limit(CAP+1) then overflow-assert, so
#: an oversized panel fails LOUDLY instead of degrading the driver.
DECON_GRAM_CAP = 200_000


@query(
    "stream_decontaminate",
    oracle=f"""
    WITH bg AS (
        SELECT DISTINCT unnest({sql_shingles('text', DECON_K)}) AS g
        FROM documents
        WHERE doc_id % {BENCH_MOD} = 0
          AND doc_id < {BENCH_MOD * STREAM_EVAL_DOCS}
    ), hits AS (
        SELECT e.doc_id, COUNT(DISTINCT e.g) AS n_matched
        FROM (SELECT doc_id, unnest({sql_shingles('text', DECON_K)}) AS g
              FROM documents WHERE doc_id % {BENCH_MOD} <> 0) e
        JOIN bg USING (g)
        GROUP BY e.doc_id
    )
    SELECT d.doc_id, d.lang, d.source, d.n_chars,
           CAST(h.n_matched AS BIGINT) AS n_matched_grams
    FROM documents d JOIN hits h USING (doc_id)
    """,
)
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest decontamination: documents STREAM in and each
    one is gated, in-flight, against the static held-out eval set —
    contaminated docs (sharing any 5-gram with an eval doc) are
    emitted to the quarantine sink with their matched-gram count.

    The streaming form of `text_decontaminate`, and the gate a
    continuously-crawled corpus runs at ingest instead of re-running
    the batch verdict over the whole corpus per release. The topology
    is the cheapest legal one — STATELESS map-only:

    - the eval set's distinct 5-grams are a broadcast side-input
      (eval suites are MBs), probed by an Arrow-batched `mapInPandas`
      gate that builds the membership set ONCE per worker batch and
      checks each document in O(|doc grams|) — see `_decon_gate` for
      why the JVM-only `array_intersect` form loses 10x here;
    - each streamed document is ONE row, so its verdict completes
      within its own micro-batch: no explode-join (whose
      per-output-gram generator re-evaluation is the
      `text_decontaminate` lesson, and whose per-doc re-aggregation
      would need stateful ops), no watermark, no state store at all —
      asserted by the zero-state-operators test.

    At 100 TB-of-ingest scale the per-doc cost is O(|doc grams|) and
    the stream never shuffles; a real deployment persists the eval
    gram set and swaps the file source for Kafka, changing nothing
    else. The eval set is FIXED-SIZE (see STREAM_EVAL_DOCS — constant
    in production, and the constant covers every bench doc at all
    driver SFs), which is what keeps the broadcast O(1) in corpus
    size. The oracle replays the verdict relationally
    (explode + join + count distinct) over the same corpus — the
    streamed gate and the batch SQL must name the same docs with the
    same match counts.
    """
    q = run_stream(_decon_gate(spark, sf_dir), "cdbp_stream_decontaminate")
    return spark.table(q.name)


def _decon_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming flagged-documents frame behind
    `stream_decontaminate` (shared with the zero-state plan test).

    The eval gram set is collected ONCE to the driver (bounded:
    eval-suite-sized by construction — the idf-table precedent) and
    shipped as a broadcast variable; each Arrow batch probes it as a
    Python frozenset built once per batch. The first JVM-only form
    (single-row broadcast join + per-row `array_intersect`) was
    measured 10x slower at the s10 soak tier: ArrayIntersect rebuilds
    the eval-gram hash set PER ROW (~|eval grams| hash ops per
    document), where the set should be built once per worker — the
    case the UDF guidance reserves Arrow batching for. Shingle
    semantics (split on single space, k-gram join, distinct) are
    replayed in Python exactly as textkit/SQL define them; counts are
    exact ints, so the relational oracle still matches bit-for-bit.
    """
    from crime_data_batch_processing_spark.functions.textkit import (
        shingles_of,
        tokens,
    )
    from crime_data_batch_processing_spark.sources.tables import load_table

    k = DECON_K
    bench_rows = (
        load_table(spark, sf_dir, "documents")
        .where(
            (F.col("doc_id") % BENCH_MOD == 0)
            & (F.col("doc_id") < BENCH_MOD * STREAM_EVAL_DOCS)
        )
        .select("doc_id", tokens("text").alias("toks"))
        .select(F.explode(shingles_of(F.col("toks"), k)).alias("g"))
        .distinct()
        .limit(DECON_GRAM_CAP + 1)
        .collect()
    )
    # explicit raise, not `assert`: under `python -O`
    # asserts are stripped, which would silently re-enable the
    # unbounded broadcast AND let the limit(CAP+1) truncate the gram
    # set — the guard must survive optimized interpreters
    if len(bench_rows) > DECON_GRAM_CAP:
        raise RuntimeError(
            f"eval gram set overflowed DECON_GRAM_CAP={DECON_GRAM_CAP}"
            " — an eval panel this large must not be broadcast"
            " silently"
        )
    bench_bc = spark.sparkContext.broadcast(
        frozenset(r.g for r in bench_rows)
    )

    out_schema = (
        "doc_id long, lang string, source string, n_chars long, "
        "n_matched_grams long"
    )

    # NESTED function: streaming Python workers get no repo on
    # sys.path, so the UDF must ship by value (streaming/stateful.py
    # documents the rule)
    def gate(batches):
        bench = bench_bc.value
        for pdf in batches:
            toks = pdf["text"].str.split(" ")
            n_matched = [
                len(
                    frozenset(
                        " ".join(t[i : i + k])
                        for i in range(len(t) - k + 1)
                    )
                    & bench
                )
                if len(t) >= k
                else 0
                for t in toks
            ]
            pdf = pdf.assign(n_matched_grams=n_matched)
            hit = pdf[pdf["n_matched_grams"] > 0]
            yield hit[
                ["doc_id", "lang", "source", "n_chars", "n_matched_grams"]
            ]

    return (
        streaming_documents(spark, _stream_src(sf_dir, "documents"))
        .where(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id", "lang", "source", "n_chars", "text")
        .mapInPandas(gate, out_schema)
    )
