"""Window-function operators: ranking, analytic, frame specs.

Absent from the reference (SURVEY.md §2.2 — no window functions).

Scale notes: a window spec costs one shuffle on its partition keys +
a per-partition sort; specs sharing (partitionBy, orderBy) reuse the
same exchange. An UNPARTITIONED window (no partitionBy) funnels all
rows into ONE task — never do that at scale; every window here is
partitioned. Running double sums accumulate in DECIMAL (see
functions/exact.py) so frame-evaluation order can't produce
engine-divergent floats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.functions.exact import dcol
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import load_table


@query(
    "window_rank",
    oracle="""
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           ROW_NUMBER() OVER w AS rn,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey ASC)
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking family over one shared window spec."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("rnk", F.rank().over(w))
        .withColumn("drnk", F.dense_rank().over(w))
        .withColumn("quartile", F.ntile(4).over(w))
    )


@query(
    "window_analytic",
    oracle="""
    SELECT event_id, user_id, value,
           LAG(event_id) OVER w AS prev_event,
           LEAD(event_id) OVER w AS next_event,
           FIRST_VALUE(event_id) OVER w AS first_event,
           CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    """,
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value + running sum per user, time-ordered.

    The running sum accumulates in DECIMAL: a cumulative double sum
    would otherwise depend on evaluation order and drift between
    engines (and between cluster layouts).
    """
    order_keys = [F.unix_micros("ts"), F.col("event_id")]
    w = Window.partitionBy("user_id").orderBy(*order_keys)
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "ts")
        .withColumn("prev_event", F.lag("event_id").over(w))
        .withColumn("next_event", F.lead("event_id").over(w))
        .withColumn("first_event", F.first("event_id").over(w))
        .withColumn("running_value", F.sum(dcol("value")).over(wsum).cast("double"))
        .drop("ts")
    )


@query(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           COUNT(*) OVER (
               PARTITION BY o_orderpriority ORDER BY o_orderkey
               RANGE BETWEEN 100 PRECEDING AND CURRENT ROW
           ) AS n_near,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) OVER (
               PARTITION BY o_orderpriority ORDER BY o_orderkey
               RANGE BETWEEN 100 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS sum_near
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: value-based moving window (±100 order keys).

    RANGE frames include peers by ordering VALUE, not row position —
    the moving-aggregate shape used for time-based smoothing once the
    order key is a timestamp.
    """
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rangeBetween(-100, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .withColumn("n_near", F.count(F.lit(1)).over(w))
        .withColumn("sum_near", F.sum(dcol("o_totalprice")).over(w).cast("double"))
        .drop("o_orderpriority", "o_totalprice")
    )


@query(
    "window_cume",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume,
           NTILE(10) OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal ASC, c_custkey ASC) AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal ASC)
    """,
)
def window_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution ranking: percent_rank / cume_dist / ntile deciles.

    percent_rank and cume_dist depend only on the ORDER BY *values*
    (peers share a result), so ties need no tie-breaker and the
    result is engine-exact: both are ratios of small integers,
    computed as one IEEE division in either engine. ntile DOES depend
    on physical row order within peers, so its window carries the
    c_custkey tie-breaker — the determinism rule every ranking query
    here follows (SURVEY.md §5.2). Same single shuffle as any other
    window: one hash partition by segment, sort, one pass.
    """
    w = Window.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").asc())
    wt = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
        .withColumn("pct_rank", F.percent_rank().over(w))
        .withColumn("cume", F.cume_dist().over(w))
        .withColumn("decile", F.ntile(10).over(wt))
    )


#: Trailing-frame width for the anomaly detector (current row + 19
#: preceding) and the z-score threshold (3 sigma).
ANOMALY_FRAME = 19
ANOMALY_SIGMA = 3

#: Oracle of the trailing-frame anomaly flag, shared by the batch
#: `window_anomaly` and the keyed-state `stream_anomaly`.
SQL_ANOMALY = f"""
    WITH f AS (
        SELECT event_id, user_id,
               CAST(value AS DECIMAL(10,2)) AS x,
               CAST(COUNT(*) OVER w AS DECIMAL(6,0)) AS n,
               CAST(SUM(CAST(value AS DECIMAL(10,2))) OVER w
                    AS DECIMAL(14,2)) AS s,
               CAST(SUM(CAST(value AS DECIMAL(10,2))
                        * CAST(value AS DECIMAL(10,2))) OVER w
                    AS DECIMAL(20,4)) AS s2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN {ANOMALY_FRAME} PRECEDING
                               AND CURRENT ROW)
    )
    SELECT event_id, user_id, CAST(n AS BIGINT) AS n_frame,
           CAST(n * x - s AS DECIMAL(14,2))
               * CAST(n * x - s AS DECIMAL(14,2))
               > {ANOMALY_SIGMA * ANOMALY_SIGMA} * (n * s2 - s * s)
               AS is_anomaly
    FROM f
    """


@query("window_anomaly", oracle=SQL_ANOMALY)
def window_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window 3-sigma anomaly flag per entity — EXACT, with
    no floating point anywhere.

    The streaming-adjacent monitoring shape (is this event >3 sigma
    from its entity's recent behavior?) normally computed with
    `stddev` — which is order-dependent in IEEE doubles and therefore
    neither run-to-run nor engine-to-engine reproducible. Squaring
    the test instead removes the sqrt AND the division:

        |x - mean| > k*sigma   <=>   (n*x - S)^2 > k^2 * (n*S2 - S^2)

    with S = sum(x), S2 = sum(x^2) over the frame — all decimal
    integers at fixed scale, so the flag is bit-deterministic. The
    explicit DECIMAL casts keep every intermediate inside precision
    38 under BOTH engines' multiply rules (values are bounded: x <
    10^8, frame n <= ANOMALY_FRAME + 1 = 20).

    One shuffle on user_id + one sort serves all three frame
    aggregates; at 100 TB this is the standard partitioned-window
    cost, and the frame is O(1) memory per row.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-ANOMALY_FRAME, Window.currentRow)
    )
    x = F.col("value").cast("decimal(10,2)")
    n = F.count(F.lit(1)).over(w).cast("decimal(6,0)")
    s = F.sum(x).over(w).cast("decimal(14,2)")
    s2 = F.sum(x * x).over(w).cast("decimal(20,4)")
    d = (n * x - s).cast("decimal(14,2)")
    k2 = F.lit(ANOMALY_SIGMA * ANOMALY_SIGMA).cast("decimal(2,0)")
    return (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            n.cast("long").alias("n_frame"),
            (d * d > k2 * (n * s2 - s * s)).alias("is_anomaly"),
        )
    )


@query(
    "window_rolling_median",
    # The oracle replays the IDENTICAL tree with DuckDB list
    # primitives (list window agg -> list_sort -> 1-based indexing)
    # rather than quantile_cont, whose lower+(upper-lower)*q
    # interpolation is a DIFFERENT IEEE expression from (a+b)/2 and
    # can differ in the last ulp.
    oracle="""
    WITH s AS (
        SELECT event_id, user_id, value,
               list(value) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW
               ) AS vals
        FROM events
    )
    SELECT event_id, user_id, value,
           CASE WHEN len(vals) % 2 = 1
                THEN list_sort(vals)[(len(vals) + 1) // 2]
                ELSE (list_sort(vals)[len(vals) // 2]
                      + list_sort(vals)[len(vals) // 2 + 1]) / 2.0
           END AS med5
    FROM s
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row median per entity — robust smoothing no SQL
    window frame aggregate expresses directly.

    Rolling MEAN is a frame SUM; rolling MEDIAN needs the frame's
    value multiset, which engines don't keep. With a bounded frame the
    multiset is tiny, so: `collect_list` over the 5-row frame (O(1)
    state per row — never collect over an unbounded frame), then a
    codegen'd `array_sort` + branch picks the middle element (odd) or
    the mean of the two middles (even, covering each entity's warm-up
    rows). One shuffle + sort on (user_id, ts) serves the whole thing;
    the median finalizer is map-side arithmetic.

    Ordering carries the event_id tie-breaker so frame CONTENTS are
    deterministic, making the output a pure function of the data.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"), F.col("event_id"))
        .rowsBetween(-4, Window.currentRow)
    )
    n = F.size("vals")
    sv = F.array_sort("vals")
    return (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "value", "ts")
        .withColumn("vals", F.collect_list("value").over(w))
        .drop("ts")
        .withColumn(
            "med5",
            F.when(
                n % 2 == 1,
                F.element_at(sv, ((n + 1) / F.lit(2)).cast("int")),
            ).otherwise(
                (
                    F.element_at(sv, (n / F.lit(2)).cast("int"))
                    + F.element_at(sv, (n / F.lit(2)).cast("int") + 1)
                )
                / F.lit(2.0)
            ),
        )
        .drop("vals")
    )


#: CUSUM drift allowance and alarm threshold, in integer cents.
#: K sits just above the corpus mean value (~49.6), so the statistic
#: hovers near zero under normal traffic and climbs on sustained
#: above-mean runs; H is the alarm level.
CUSUM_K_CENTS = 5500
CUSUM_H_CENTS = 50_000


@query(
    "window_cusum",
    oracle=f"""
    WITH s AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT)
                   - {CUSUM_K_CENTS} AS d
        FROM events
    ), pre AS (
        SELECT user_id, us, event_id,
               CAST(SUM(d) OVER w AS BIGINT) AS cs
        FROM s
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), c AS (
        SELECT user_id, us, event_id,
               cs - LEAST(0, CAST(MIN(cs) OVER w AS BIGINT)) AS s
        FROM pre
        WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           MAX({{'u': us, 'e': event_id, 's': s}}).s AS cusum_final,
           MAX(s) AS cusum_max,
           MAX(s) >= {CUSUM_H_CENTS} AS changed
    FROM c GROUP BY user_id
    """,
)
def window_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity CUSUM change detection: has any user's value stream
    sustained an above-mean shift — the sequential drift detector
    behind SLO burn alerts and sensor monitoring.

    CUSUM is defined recursively (S_i = max(0, S_{i-1} + x_i - K)),
    which LOOKS window-inexpressible like the EWMA — but the
    recursion UNROLLS: S_i = C_i - min(0, min_{j<=i} C_j) where C is
    the plain prefix sum of (x - K). So two aggregates over ONE shared
    window spec (running sum, running min of the running sum) compute
    it exactly — no array fold, no UDF, one exchange + sort per
    entity. Everything is integer cents, so both engines walk the
    identical lattice; `changed` is whether the max excursion ever
    cleared the alarm level H (the page), `cusum_final` where the
    statistic rests now (the dashboard).
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("us"),
        (
            (F.col("value").cast("decimal(10,2)") * 100).cast("long")
            - CUSUM_K_CENTS
        ).alias("d"),
    )
    pre = ev.select(
        "user_id", "us", "event_id", F.sum("d").over(w).alias("cs")
    )
    s = F.col("cs") - F.least(
        F.lit(0).cast("long"), F.min("cs").over(w)
    )
    per_event = pre.select("user_id", "us", "event_id", s.alias("s"))
    final = F.max(
        F.struct(
            F.col("us").alias("u"), F.col("event_id").alias("e"),
            F.col("s").alias("s"),
        )
    )
    return per_event.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        final["s"].alias("cusum_final"),
        F.max("s").alias("cusum_max"),
        (F.max("s") >= CUSUM_H_CENTS).alias("changed"),
    )
