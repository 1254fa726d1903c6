"""Scale-pattern operators: bucketed co-located joins, CDC latest-
record compaction, salted skew aggregation.

These are the three techniques a 100 TB deployment reaches for first,
implemented as first-class queries so their correctness is oracle-
checked and their plans are inspectable:

* BUCKETING pre-shuffles data at write time so every later join on
  the bucket key is exchange-free — the reference re-snapshots its
  whole table daily (/root/reference/spark_ingest_script.py:87-94),
  which is exactly the write you would bucket.
* CDC COMPACTION (latest record per key) is the incremental
  alternative to the reference's full-overwrite snapshots: dedup a
  change stream to its newest state per key.
* SALTING splits a hot grouping key across synthetic sub-keys so no
  single reducer owns the whole key, then re-aggregates — the manual
  fallback when AQE skew handling cannot help (first-stage
  aggregation skew, not join skew). `join_salted` applies the same
  idea to the join side: salt the skewed fact key, replicate the dim
  across every salt, join on (key, salt).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.functions.exact import dsum, sql_dsum, with_scalars
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.session import scoped_conf
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    local_frame,
)

N_SALTS = 8
_BUCKET_DB_READY: set[str] = set()


@query(
    "join_bucketed",
    oracle=f"""
    SELECT c.c_nationkey,
           COUNT(*) AS n_orders,
           {sql_dsum('o.o_totalprice')} AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
)
def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free join via bucketed tables.

    Both sides are written `bucketBy(8, custkey)` + sorted, so Spark
    plans a sort-merge join whose children are the bucketed scans —
    NO Exchange on either side (asserted in tests/test_plans.py). At
    100 TB this converts every recurring join on the bucket key from
    a full shuffle of both tables into a local merge: the shuffle is
    paid ONCE at write time, amortized over every downstream join.
    Bucket counts must match (or divide) across tables.
    """
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    db = f"cdbp_buckets_{tag}"
    if db not in _BUCKET_DB_READY:
        warehouse = tempfile.mkdtemp(prefix=f"cdbp_bucket_wh_{tag}_")
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{warehouse}'")
        for name, key in (("orders", "o_custkey"), ("customer", "c_custkey")):
            spark.sql(f"DROP TABLE IF EXISTS {db}.{name}_b")
            (
                load_table(spark, sf_dir, name)
                .write.bucketBy(8, key)
                .sortBy(key)
                .format("parquet")
                .mode("overwrite")
                .saveAsTable(f"{db}.{name}_b")
            )
        _BUCKET_DB_READY.add(db)
    o = spark.table(f"{db}.orders_b")
    c = spark.table(f"{db}.customer_b")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("total_price"),
        )
    )


def latest_per_user(df: DataFrame) -> DataFrame:
    """The latest row per user_id: greatest (ts, event_id), a total
    order, so the winner per key is unique. One window, one shuffle on
    the key."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "cdc_upsert",
    oracle="""
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
    FROM (
        SELECT user_id, event_id, event_type, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction (the MERGE/upsert read path).

    Treats `events` as a change stream keyed by user_id and reduces
    it to current state with `latest_per_user` (shared with the
    streaming twin `stream_cdc_upsert`). This is the incremental
    replacement for the reference's daily full-table overwrite — at
    100 TB you compact the delta against the snapshot instead of
    rewriting the world; at scale the same plan runs per partition of
    a date-partitioned snapshot.
    """
    return (
        latest_per_user(load_table(spark, sf_dir, "events"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
    )


@query(
    "agg_salted",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation over a skewed key.

    `event_type` has a handful of distinct values over millions of
    rows — the worst case for a single-stage shuffle, where one
    reducer receives an entire hot key. Stage 1 groups by
    (key, salt ∈ [0, 8)) spreading each key across 8 reducers; stage
    2 merges the 8 partials per key. Decimal partial sums make the
    two-stage result bit-identical to the one-stage oracle. The salt
    is derived from a hash of a unique column (not rand()) so the
    query stays deterministic.

    (Spark's partial aggregation already map-side-combines simple
    counts; explicit salting is the pattern for when stage-1 state is
    too big per key — heavy UDAFs, collect-style aggregates.)
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn"),
        F.sum(F.col("value").cast("double").cast("decimal(28,6)")).alias("ps"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n_events"),
        F.sum("ps").cast("double").alias("sum_value"),
    )


#: Seed dimension keyed by the skewed column — 5 keys over millions of
#: fact rows is the canonical skewed-join shape. In production this is
#: a real (non-broadcastable) table; a literal seed keeps the oracle
#: side-by-side.
EVENT_TYPE_DIM = [
    ("click", "engagement", 1.0),
    ("view", "engagement", 0.5),
    ("purchase", "revenue", 10.0),
    ("signup", "revenue", 5.0),
    ("error", "ops", 0.25),
]

_SQL_DIM_ROWS = ", ".join(f"('{t}', '{c}', {w})" for t, c, w in EVENT_TYPE_DIM)


def _event_type_dim(spark: SparkSession) -> DataFrame:
    """`EVENT_TYPE_DIM` as a LocalRelation (`local_frame`)."""
    return local_frame(
        spark, EVENT_TYPE_DIM, "event_type string, category string, weight double"
    )


@query(
    "join_salted",
    oracle=f"""
    WITH dim AS (
        SELECT * FROM (VALUES {_SQL_DIM_ROWS}) AS t(event_type, category, weight)
    )
    SELECT d.category,
           COUNT(*) AS n_events,
           {sql_dsum('e.value * CAST(d.weight AS DOUBLE)')} AS weighted_value
    FROM events e JOIN dim d ON e.event_type = d.event_type
    GROUP BY d.category
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join: salt the fact side, replicate the dim side.

    `event_type` is the worst join key a shuffle can see — 5 distinct
    values across the whole fact table, so a plain shuffled join sends
    ~20% of all rows to ONE reducer. The salted form joins on
    (event_type, salt): the fact side derives salt ∈ [0, 8) from a
    hash of its unique column (deterministic, not rand()), the dim
    side is exploded 8× so every (key, salt) combination exists.
    Result is identical to the unsalted join — checked against the
    plain-join oracle — but the shuffle spreads each hot key over
    8 reducers.

    The dim side carries an explicit `broadcast()` hint: the explode
    hides its (tiny) size from the optimizer, and without the hint
    Catalyst at test scale broadcasts the FACT side instead — legal
    when the fact fits the threshold, catastrophic at 100 TB. The
    pattern as a whole is written for the case where the dim exceeds
    the broadcast threshold AND the fact key is skewed — then the
    same code (minus the hint) plans a shuffled join on (key, salt),
    the one shape AQE's skew-join splitting cannot fix when the
    skewed partition feeds a same-key agg. The weights multiply
    inside the decimal-exact sum, so the salted two-stage result is
    bit-identical to the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    salted_dim = _event_type_dim(spark).withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(N_SALTS)]))
    )
    salted_fact = ev.withColumn(
        "salt", F.pmod(F.xxhash64("event_id"), F.lit(N_SALTS))
    )
    return (
        salted_fact.join(F.broadcast(salted_dim), ["event_type", "salt"])
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value") * F.col("weight")).alias("weighted_value"),
        )
    )


def _skew_case() -> F.Column:
    """Derived skew: route ~80% of fact rows onto ONE join key (a
    deterministic CASE on the unique event_id, so the oracle can
    mirror it exactly). The real events table is near-uniform across
    its 5 types — fine for salting demos, invisible to AQE's
    median-based skew detector, hence the synthetic hot key. (A
    function, not a module constant: Column construction needs a live
    SparkContext, which import time doesn't have.)"""
    return F.when(F.col("event_id") % 5 != 0, F.lit("click")).otherwise(
        F.col("event_type")
    )
#: AQE skew knobs scaled DOWN to the local testdata (shuffle
#: partitions here are a few KB; production keeps the 256 MB default
#: threshold and lets the same rule fire on real skew).
_AQE_SKEW_TEST_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100b",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "50b",
}


def skewed_type_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSALTED skewed fact⋈dim topology — the shape `join_salted`
    fixes by hand, left for AQE to fix at runtime instead.

    The `merge` hint pins a sort-merge join (the tiny dim would
    otherwise broadcast at test scale, and a broadcast join has no
    shuffle to skew-split); both sides then shuffle on the hot key and
    AQE's OptimizeSkewedJoin splits the oversized partition into
    advisory-sized chunks, duplicating the matching dim rows per
    chunk. Same result, no salting code.
    """
    ev = load_table(spark, sf_dir, "events")
    fact = ev.select(_skew_case().alias("event_type"), "value")
    return (
        fact.join(_event_type_dim(spark).hint("merge"), "event_type")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value") * F.col("weight")).alias("weighted_value"),
        )
    )


@query(
    "join_skew_aqe",
    oracle=f"""
    WITH dim AS (
        SELECT * FROM (VALUES {_SQL_DIM_ROWS}) AS t(event_type, category, weight)
    ), fact AS (
        SELECT CASE WHEN event_id % 5 <> 0 THEN 'click' ELSE event_type END
                   AS event_type,
               value
        FROM events
    )
    SELECT d.category,
           COUNT(*) AS n_events,
           {sql_dsum('f.value * CAST(d.weight AS DOUBLE)')} AS weighted_value
    FROM fact f JOIN dim d ON f.event_type = d.event_type
    GROUP BY d.category
    """,
)
def join_skew_aqe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed join WITHOUT salting: AQE's runtime skew-join splitting
    handles the hot key (`join_salted` is the manual alternative for
    the shapes AQE can't fix — see its docstring).

    The skew thresholds are lowered to testdata scale and restored
    after an in-function materialization, because AQE reads them at
    EXECUTION time — restoring before a lazy return would execute the
    plan under the restored (production) thresholds and silently skip
    the very mechanism this query demonstrates. The plan assertion
    (SortMergeJoin(skew=true)) lives in tests/test_plans.py; the
    oracle verifies the split join still produces exact results
    (decimal sums are reassociation-proof, so chunked hot partitions
    cannot drift).
    """
    with scoped_conf(spark, _AQE_SKEW_TEST_CONF):
        return skewed_type_join(spark, sf_dir).localCheckpoint(eager=True)


#: Range-join bucket width in microseconds == the range width, so an
#: in-range pair spans at most 2 consecutive buckets.
RANGE_US = 900_000_000  # 15 minutes


@query(
    "join_range_bucketed",
    oracle=f"""
    SELECT c.event_id AS click_id,
           COUNT(p.event_id) AS n_purchases_15m
    FROM events c
    LEFT JOIN events p
      ON p.event_type = 'purchase'
     AND epoch_us(p.ts) >= epoch_us(c.ts)
     AND epoch_us(p.ts) < epoch_us(c.ts) + {RANGE_US}
    WHERE c.event_type = 'click'
    GROUP BY c.event_id
    """,
)
def join_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure time-range join (no equi key), made hash-joinable by
    bucketizing: purchases within 15 minutes after each click, counted
    per click — across ALL users, so unlike `join_theta` there is no
    equi column to ride on and a naive plan is a nested loop over
    |clicks|x|purchases|.

    The bucketing trick: with bucket width == range width, an in-range
    purchase lands in the click's bucket or the next one. Explode each
    click to (bucket, bucket+1), equi-join on the bucket, then apply
    the exact range predicate. Each in-range pair matches EXACTLY once
    (a purchase has one bucket; the click contributes that bucket one
    time), so no dedup is needed, and the nested loop becomes a
    shuffle hash join whose per-bucket fan-in is bounded by the data
    rate per 15 minutes — the standard interval-join shape at 100 TB
    (Flink and KDB range joins do the same under the hood).

    LEFT join keeps zero-purchase clicks; the count ignores the NULL
    probe rows from empty buckets.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), us.alias("c_us")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        us.alias("p_us"),
        (us / RANGE_US).cast("long").alias("bucket"),
    )
    exploded = clicks.select(
        "click_id",
        "c_us",
        F.explode(
            F.array(
                (F.col("c_us") / RANGE_US).cast("long"),
                (F.col("c_us") / RANGE_US).cast("long") + 1,
            )
        ).alias("bucket"),
    )
    joined = exploded.join(purchases, "bucket", "left")
    in_range = (F.col("p_us") >= F.col("c_us")) & (
        F.col("p_us") < F.col("c_us") + RANGE_US
    )
    return joined.groupBy("click_id").agg(
        F.count(F.when(in_range, 1)).alias("n_purchases_15m")
    )


#: Runtime bloom-filter injection thresholds, lowered to testdata
#: scale: the application side must look big enough to be worth
#: filtering (production default 10 GB) and broadcast must be off so
#: the join actually has a shuffle for the bloom to save. Production
#: keeps the defaults — the mechanism engages exactly when the scan is
#: big enough for it to matter.
_BLOOM_TEST_CONF = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_gated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective-dim fact join, the shape runtime bloom filtering
    exists for: revenue of lineitems belonging to URGENT orders."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


@query(
    "join_bloom",
    oracle=f"""
    SELECT l.l_returnflag,
           COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice')} AS sum_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_returnflag
    """,
)
def join_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join reduction (Spark 3.3+ row-level
    runtime filtering): the optimizer builds a `bloom_filter_agg`
    over the FILTERED dimension's join keys and injects
    `might_contain(xxhash64(l_orderkey))` into the fact scan, so
    rows that cannot join are dropped AT THE SCAN — before the
    shuffle — instead of crossing the exchange to die in the join.

    At 100 TB this is the difference between shuffling the whole fact
    table and shuffling ~the matching fraction: a selective dim
    predicate (here 1/5 of orders) cuts shuffle bytes proportionally,
    for the cost of one tiny bloom broadcast. Unlike `join_broadcast`
    (dim fits in memory) this works when BOTH sides are big; unlike
    bucketing it needs no layout preparation. The conf thresholds are
    lowered to testdata scale and restored after an in-function
    materialization (AQE reads them at execution time — the
    `join_skew_aqe` pattern); the `might_contain` plan assertion
    lives in tests/test_plans.py, and the oracle verifies the bloom
    never drops a true match (bloom filters have no false negatives).
    """
    with scoped_conf(spark, _BLOOM_TEST_CONF):
        return bloom_gated_join(spark, sf_dir).localCheckpoint(eager=True)


#: Interval-overlap join geometry: promo windows are 7 days, ship
#: windows 3 days, bucket width = the LONGER interval, so each
#: interval spans at most 2 buckets and the exploded copies stay O(1).
_PROMO_US = 7 * 86_400_000_000
_SHIP_US = 3 * 86_400_000_000
_OVERLAP_W = _PROMO_US


@query(
    "join_interval_overlap",
    oracle=f"""
    SELECT o.o_orderkey,
           COUNT(l.l_orderkey) AS n_overlap_ship
    FROM orders o
    LEFT JOIN lineitem l
      ON epoch_us(o.o_orderdate) < epoch_us(l.l_shipdate) + {_SHIP_US}
     AND epoch_us(l.l_shipdate) < epoch_us(o.o_orderdate) + {_PROMO_US}
    WHERE o.o_totalprice > 495000
    GROUP BY o.o_orderkey
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (two interval sets, no equi key): ship
    windows intersecting each high-value order's 7-day promo window.

    `join_range_bucketed` handles point-in-interval; this is the
    harder interval×interval case (session overlap, campaign overlap,
    genomic range intersection). Naively it is a nested loop. The
    bucketed rewrite: with bucket width = the longer interval, every
    interval covers <= 2 buckets; explode BOTH sides to their covered
    buckets and equi-join on the bucket. An overlapping pair would
    meet in up to 4 buckets, so pairs are claimed exactly once by the
    bucket rule `bucket == floor(max(starts) / W)` — the bucket
    holding the overlap's start — a filter, not a post-join
    DISTINCT (which would be a second corpus-sized shuffle).

    LEFT join + conditional count keeps zero-overlap promos visible.
    Per-bucket fan-in is bounded by the event rate per window width,
    so the shuffle-hash-join plan survives 100 TB where the nested
    loop (and DuckDB's IEJoin on one node) cannot distribute.

    The distributed strategy is PINNED with a shuffle_hash hint:
    `explode` defeats Catalyst's sizeInBytes estimate (it keeps the
    child's size), so at mid scales the planner judged the exploded
    FACT side broadcastable and built a multi-million-row broadcast
    hash table — 3-4x slower at the soak's s3 tier and a guaranteed
    driver OOM at 100 TB. Found by the relational soak
    (non-monotone tier timings); plan-asserted in
    tests/test_plans.py::test_interval_overlap_never_broadcasts_fact.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 495000)
        .select(
            "o_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("a_s"),
            (
                F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                + _PROMO_US
            ).alias("a_e"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ship_key"),
        F.unix_micros(F.col("l_shipdate").cast("timestamp")).alias("b_s"),
        (
            F.unix_micros(F.col("l_shipdate").cast("timestamp")) + _SHIP_US
        ).alias("b_e"),
    )
    a = o.select(
        "o_orderkey", "a_s", "a_e",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.col("a_s") / _OVERLAP_W).cast("long"),
                    ((F.col("a_e") - 1) / _OVERLAP_W).cast("long"),
                )
            )
        ).alias("bucket"),
    )
    b = li.select(
        "ship_key", "b_s", "b_e",
        F.explode(
            F.array_distinct(
                F.array(
                    (F.col("b_s") / _OVERLAP_W).cast("long"),
                    ((F.col("b_e") - 1) / _OVERLAP_W).cast("long"),
                )
            )
        ).alias("bucket"),
    )
    hit = (
        (F.col("a_s") < F.col("b_e"))
        & (F.col("b_s") < F.col("a_e"))
        & (
            F.col("bucket")
            == (F.greatest("a_s", "b_s") / _OVERLAP_W).cast("long")
        )
    )
    return (
        a.join(b.hint("shuffle_hash"), "bucket", "left")
        .groupBy("o_orderkey")
        .agg(F.count(F.when(hit, 1)).alias("n_overlap_ship"))
    )


@query(
    "agg_gini",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS rq
        FROM orders GROUP BY o_custkey
    ), ranked AS (
        SELECT rq,
               ROW_NUMBER() OVER (ORDER BY rq ASC, o_custkey ASC) AS r,
               COUNT(*) OVER () AS n
        FROM rev
    ), m AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(CAST(rq AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS total,
               CAST(SUM(CAST(rq AS DECIMAL(38,0)) * (2 * r - n - 1))
                    AS DECIMAL(38,0)) AS num
        FROM ranked
    )
    SELECT n AS n_customers,
           CAST(total AS DOUBLE) / 100.0 AS total_revenue,
           CAST(num AS DOUBLE) / (n * CAST(total AS DOUBLE)) AS gini
    FROM m
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (exact Gini coefficient) — and with it,
    the DISTRIBUTED GLOBAL RANKING pattern: exact positions in a total
    order without ever putting the data through one partition.

    Gini needs every value's global rank. The naive
    `row_number() OVER (ORDER BY ...)` with no partition key funnels
    the whole table into a single task — the anti-pattern this engine
    bans. The scale form: `repartitionByRange` on the sort key (a
    real distributed sort — boundaries from sampling), rank WITHIN
    each range partition, then add per-partition offsets. The offset
    table is one row per PARTITION (bounded by cluster parallelism,
    not data), so its cumulative window is over ~32 rows — in-plan,
    no driver collect. Partition boundaries are sample-dependent but
    the resulting ranks are not: rank = position in the (value, key)
    total order, a pure function of the data.

    Revenue is quantized to integer cents (exact — prices carry 2
    decimals), the rank-weighted sum accumulates in DECIMAL(38,0),
    and only the final division is floating point — one double each
    side, bit-identical.
    """
    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rq")
    )
    parts = rev.repartitionByRange(
        spark.sparkContext.defaultParallelism, "rq", "o_custkey"
    ).withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("pid").orderBy(
        F.col("rq").asc(), F.col("o_custkey").asc()
    )
    local = parts.withColumn("lr", F.row_number().over(w_local))
    sizes = local.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    # offsets: cumulative counts over ONE ROW PER PARTITION (~32 rows
    # total — bounded by parallelism, not data), so the unpartitioned
    # window here is safe at any scale
    w_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    ranked = local.join(F.broadcast(offsets), "pid").select(
        "rq", (F.col("lr") + F.col("off")).alias("r")
    )
    n_total = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rq").cast("decimal(38,0)")).cast("decimal(38,0)")
        .alias("total"),
    )
    m = (
        with_scalars(ranked, n_total)
        .agg(
            F.max("n").alias("n"),
            F.max("total").alias("total"),
            F.sum(
                F.col("rq").cast("decimal(38,0)")
                * (2 * F.col("r") - F.col("n") - 1)
            ).cast("decimal(38,0)").alias("num"),
        )
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_customers"),
        (F.col("total").cast("double") / F.lit(100.0)).alias("total_revenue"),
        (
            F.col("num").cast("double")
            / (F.col("n") * F.col("total").cast("double"))
        ).alias("gini"),
    )


@query(
    "join_dpp",
    oracle=f"""
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           COUNT(*) AS n_orders,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) % 2 = 1
    GROUP BY 1
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: a DIM-side filter prunes FACT
    partitions at RUNTIME — the join-driven sibling of
    `scan_partition_prune`'s static pruning, and the optimization
    that makes star-schema queries feasible on a 100 TB partitioned
    fact table (only partitions whose keys survive the dimension
    filter are ever listed/read; the rest of the table costs
    nothing).

    The fact is the shared year-partitioned orders layout; the dim is
    a small calendar table whose selective predicate (odd years) says
    nothing about the partition column UNTIL the join resolves it.
    Catalyst inserts a DynamicPruningExpression on the fact scan's
    PartitionFilters, fed by the reused broadcast of the filtered dim
    (plan-asserted in tests/test_plans.py) — no static predicate on
    o_year exists anywhere in the query. The oracle computes the same
    aggregate from the unpartitioned source with the year-parity
    predicate applied directly.
    """
    from crime_data_batch_processing_spark.operators.scans import (
        orders_by_year_dir,
    )

    fact = spark.read.parquet(orders_by_year_dir(spark, sf_dir))
    # a calendar dim deliberately WIDER than the fact's year span
    # (as production calendars are) — coverage, not data knowledge;
    # spans 1970-2040 so a regenerated testdata year range can never
    # silently fall outside the dim (which would drop years the
    # oracle keeps); built by `range`, not `local_frame`: the optimizer
    # folds a filter over a LocalRelation at plan time, and DPP needs
    # the filter to stay a runtime one
    dim = spark.range(1970, 2041, numPartitions=1).select(
        F.col("id").alias("d_year"),
        F.when(F.col("id") % 2 == 1, "odd").otherwise("even").alias("parity"),
    )
    return (
        fact.join(
            F.broadcast(dim.where(F.col("parity") == "odd")),
            fact["o_year"] == F.col("d_year"),
        )
        .groupBy(F.col("o_year").cast("long").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )
