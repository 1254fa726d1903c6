"""Time windowing: tumbling, sliding, session (P34-P36).

The tumbling and session aggregates are each defined once, as a
function over an events frame, and both the batch keys here and the
streaming keys in `streaming/stream_events.py` call it:

* `hourly_agg` — 1-hour tumbling windows per event type
  (`window_tumbling`, `stream_events`, `stream_watermark_late`);
* `session_agg` — 30-minute-gap sessions per user (`window_session`,
  `stream_session`).

Each carries its own watermark. On a stream the watermark bounds
window state; on a batch frame Spark's optimizer removes it
(EliminateEventTimeWatermark), so the batch plan is the plain
aggregate. The twin keys also share one oracle each (`SQL_HOURLY`,
`SQL_SESSIONS`), so batch/stream equivalence holds by construction on
both engines.

Scale notes: time-window grouping is an ordinary hash aggregate whose
key is the derived window struct — partial aggregation + one shuffle.
Sliding windows multiply each row into size/slide windows (4× here)
BEFORE the shuffle; keep the projected payload minimal. Session
windows shuffle on the partition key and merge overlapping sessions
per key — at 100 TB that's fine exactly because the key (user_id)
bounds the per-task state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.functions.exact import dsum, sql_dsum
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import load_table


def hourly_agg(events: DataFrame) -> DataFrame:
    """Hourly tumbling aggregate per event type: (window_start,
    window_end, event_type, n_events, sum_value), the sum exact
    (`dsum`). A stream's allowed event-time delay is one hour (the
    watermark); a batch frame ignores it."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


#: Oracle of `hourly_agg` over all events: a tumbling window is
#: date_trunc as a group key.
SQL_HOURLY = f"""
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """


@query("window_tumbling", oracle=SQL_HOURLY)
def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-overlapping 1-hour buckets per event type (`hourly_agg`)."""
    return hourly_agg(load_table(spark, sf_dir, "events"))


@query(
    "window_sliding",
    oracle=f"""
    SELECT make_timestamp((epoch_us(ts) // 1000000 // 900 - i) * 900 * 1000000)
               AS window_start,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events, unnest([0, 1, 2, 3]) AS t(i)
    GROUP BY 1
    """,
)
def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping windows: 1-hour size, 15-minute slide.

    Each event lands in exactly size/slide = 4 windows. The oracle
    derives the same 4 window starts arithmetically (floor to the
    slide grid, step back i slides) — integer µs math, so exact.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def session_agg(events: DataFrame) -> DataFrame:
    """Gap-based session windows (30-minute inactivity) per user:
    (user_id, session_start_us, session_end_us, n_events).

    Spark's `session_window` ends a session at last_event + gap.
    Bounds are emitted as epoch-µs to sidestep ns-vs-µs timestamp
    rendering (sources/tables.py). The 1-hour watermark bounds a
    stream's session state; a batch frame ignores it.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("w.start").alias("session_start_us"),
            F.unix_micros("w.end").alias("session_end_us"),
            "n_events",
        )
    )


#: Oracle of `session_agg` over all events: the classic gaps-and-islands
#: SQL (lag → new-session flag → running island id → group), all in
#: integer µs.
SQL_SESSIONS = """
    WITH ordered AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                   AS prev_us
        FROM events
    ), islands AS (
        SELECT user_id, us,
               SUM(CASE WHEN prev_us IS NULL
                         OR us - prev_us > 1800000000 THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM ordered
    )
    SELECT user_id,
           MIN(us) AS session_start_us,
           MAX(us) + 1800000000 AS session_end_us,
           COUNT(*) AS n_events
    FROM islands
    GROUP BY user_id, session_id
    """


@query("window_session", oracle=SQL_SESSIONS)
def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30-minute inactivity) per user
    (`session_agg`)."""
    return session_agg(load_table(spark, sf_dir, "events"))


#: EWMA smoothing factor 1/4: both 0.25 and 0.75 are exact binary
#: fractions, so each fold step is two correctly-rounded IEEE ops in a
#: FIXED order — the same double sequence in Spark and DuckDB.
EWMA_ALPHA = 0.25


@query(
    "window_ewma",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               list(value ORDER BY epoch_us(ts), event_id) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(len(vals) AS BIGINT) AS n_events,
           list_reduce(
               list_prepend(CAST(NULL AS DOUBLE), vals),
               (acc, x) -> CASE WHEN acc IS NULL THEN x
                                ELSE {EWMA_ALPHA} * x
                                     + {1 - EWMA_ALPHA} * acc END)
               AS ewma
    FROM seq
    """,
)
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of `value` —
    the recursive smoother (s_t = α·x_t + (1-α)·s_{t-1}) that SQL
    window frames CANNOT express (each output depends on the previous
    OUTPUT, not a fixed input frame) and engines usually punt to
    per-row UDFs.

    Shape: one shuffle collects each user's (ts, event_id, value)
    rows; `array_sort` fixes the event order; a codegen'd
    `F.aggregate` left-fold runs the recursion JVM-side — the
    `window_funnel` pattern applied to numeric state. Per-user state
    is one array per task (bounded per-entity event counts); the
    streaming twin is `stream_stateful`'s running accumulator.
    Determinism: the fold visits values in the (ts, event_id) total
    order and α/(1-α) are exact binary fractions, so both engines
    execute the identical sequence of correctly-rounded doubles —
    bit-equal EWMA without any decimal machinery.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("us"),
                    F.col("event_id").alias("eid"),
                    F.col("value").alias("v"),
                )
            )
        ).alias("seq")
    )
    ewma = F.aggregate(
        "seq",
        F.lit(None).cast("double"),
        lambda acc, e: F.when(acc.isNull(), e["v"]).otherwise(
            EWMA_ALPHA * e["v"] + (1 - EWMA_ALPHA) * acc
        ),
    )
    return per_user.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        ewma.alias("ewma"),
    )


#: Session labeling gap: `session_agg`'s 30 minutes, in µs.
LABEL_GAP_US = 30 * 60 * 1_000_000


@query(
    "window_sessionize",
    oracle=f"""
    WITH e AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
    ), flagged AS (
        SELECT event_id, user_id, ts_us,
               CASE WHEN ts_us - LAG(ts_us) OVER w >= {LABEL_GAP_US}
                         OR LAG(ts_us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS is_new
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    )
    SELECT event_id, user_id,
           CAST(user_id * 4294967296 + SUM(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM flagged
    """,
)
def window_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT session labeling (gaps-and-islands): every event gets
    a stable session_id — the composable primitive underneath
    `window_session`'s aggregates (which emit per-SESSION rows and
    lose the event-level join key downstream enrichment needs).

    The textbook two-window chain on one shared (user, ts) spec: a
    new-session flag from LAG against the gap, then a running sum of
    flags numbers the islands. Ids are (user, ordinal) composites
    packed as user_id << 32 | ordinal — globally unique for any user
    with fewer than 2^32 sessions (and user_id < 2^31, or the high
    bits overflow the BIGINT), reproducible across runs and engines
    (event_id tie-break), and assignable without any global
    coordination: each user's partition labels itself. One exchange +
    sort serves both windows.
    """
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts_us").asc(), F.col("event_id").asc()
    )
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us")
    )
    prev = F.lag("ts_us").over(w)
    is_new = F.when(
        prev.isNull() | (F.col("ts_us") - prev >= LABEL_GAP_US), 1
    ).otherwise(0)
    return (
        e.withColumn("is_new", is_new)
        .select(
            "event_id",
            "user_id",
            (
                F.col("user_id") * F.lit(1 << 32).cast("long")
                + F.sum("is_new").over(wsum)
            ).alias("session_id"),
        )
    )
