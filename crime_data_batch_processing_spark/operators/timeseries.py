"""Time-series scale patterns: continuous-aggregate rollup, funnel
pattern matching, and zone-map file skipping.

None of these exist in the reference — its one table has no event-time
column at all (dates live in varchars, SURVEY.md §1.2) and its one
query rescans the full snapshot every run
(/root/reference/spark_process_script.py:37). These three operators
are what that architecture is missing at 100 TB:

* `rollup_hypertable` — the TimescaleDB/Druid continuous-aggregate
  idea: historical hours are served from a tiny materialized rollup
  table, only the mutable tail is aggregated from raw events. A
  query over all of history reads O(hours) rollup rows + O(tail) raw
  rows instead of O(history) raw rows.
* `window_funnel` — MATCH_RECOGNIZE-style sequential pattern
  detection (view → click → purchase, in order), computed in ONE
  shuffle via per-user sorted-array aggregation instead of one
  self-join per funnel stage.
* `scan_zone_map` — Delta/Iceberg-style data skipping rebuilt from
  parquet primitives: a per-file min/max manifest prunes the file
  list BEFORE the main scan, so a selective point query opens only
  the files whose zone intersects the predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.fixtures import build_once, scratch_dir
from crime_data_batch_processing_spark.functions.exact import (
    davg,
    dsum,
    dsum_merge,
    sql_davg,
    sql_dsum,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    local_frame,
)


def hourly_partial(events: DataFrame) -> DataFrame:
    """Hourly partial aggregate per event type: (hour_us, event_type,
    n_events, sum_value), the sum exact (`dsum`). Partials of disjoint
    event sets combine with `fold_partials`."""
    return events.groupBy(
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("sum_value"),
    )


def fold_partials(partials: DataFrame) -> DataFrame:
    """Fold `hourly_partial` rows into one row per (hour_us,
    event_type). The sums re-accumulate in DECIMAL (`dsum_merge`), so
    a fold of partials equals the one-pass sum bit for bit."""
    return partials.groupBy("hour_us", "event_type").agg(
        F.sum("n_events").alias("n_events"),
        dsum_merge("sum_value").alias("sum_value"),
    )


#: Oracle of the hourly rollup over all events.
SQL_HOURLY_ROLLUP = f"""
    SELECT CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us,
           event_type,
           COUNT(*) AS n_events,
           {sql_dsum('value')} AS sum_value
    FROM events
    GROUP BY 1, 2
    """


@query("rollup_hypertable", oracle=SQL_HOURLY_ROLLUP)
def rollup_hypertable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous aggregate: materialized hourly rollup + raw tail.

    The hourly aggregate for every COMPLETE day is materialized once
    into a rollup parquet (the "continuous aggregate" a scheduler
    would maintain incrementally); the query then unions that rollup
    with an on-the-fly aggregate of only the raw tail (the last,
    still-mutable day) and never rescans settled history. The oracle
    aggregates raw events directly — any row lost or double-counted
    at the rollup/tail boundary is a hash mismatch.

    Scale: the rollup table is O(hours × types) regardless of event
    volume, and the raw scan is bounded by the tail window. The
    single-row max(ts) fetch is orchestration (boundary discovery),
    not data movement — the same role a refresh scheduler's watermark
    plays.
    """
    events = load_table(spark, sf_dir, "events")
    tail_start = events.agg(
        F.date_trunc("day", F.max("ts")).alias("b")
    ).collect()[0]["b"]

    base = scratch_dir("rollup", sf_dir, "events")
    rollup_path = f"{base}/events_hourly"

    def build() -> None:
        settled = events.filter(F.col("ts") < F.lit(tail_start))
        hourly_partial(settled).write.mode("overwrite").parquet(rollup_path)

    build_once(base, build)

    tail = hourly_partial(events.filter(F.col("ts") >= F.lit(tail_start)))
    # date_trunc('day') boundaries align with hour boundaries, so each
    # (hour, type) lives on exactly one side and the fold combines
    # nothing; it is kept so a boundary hour split across rollup and
    # tail would still sum correctly.
    return fold_partials(spark.read.parquet(rollup_path).unionByName(tail))


@query(
    "window_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(epoch_us(ts)) AS view_us
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS click_us
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.view_us
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS purchase_us
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.click_us
        GROUP BY e.user_id
    )
    SELECT v.user_id, v.view_us, c.click_us, p.purchase_us
    FROM v JOIN c ON v.user_id = c.user_id
            JOIN p ON c.user_id = p.user_id
    """,
)
def window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential funnel (view → click → purchase) in one shuffle.

    The oracle's natural SQL is one self-join per stage — three scans
    and three shuffles, quadratic risk on hot users. The engine form
    shuffles ONCE: collect each user's (ts, type) pairs, sort the
    array, and fold it left-to-right with `F.aggregate`, advancing a
    3-slot struct accumulator (earliest view; earliest click after
    that view; earliest purchase after that click). Greedy-on-sorted
    equals the nested-MIN semantics exactly, and the fold is a
    codegen'd JVM higher-order function, not a UDF.

    Scale: state is one array per user per task — fine for bounded
    per-entity event counts (the common case); for adversarially hot
    entities the stage-wise conditional-min form (three chained
    aggregates, no arrays) trades shuffles for bounded memory.
    """
    events = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per_user = events.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.unix_micros("ts").alias("us"),
                    F.col("event_type").alias("et"),
                )
            )
        ).alias("seq")
    )
    acc0 = F.struct(
        F.lit(None).cast("long").alias("v"),
        F.lit(None).cast("long").alias("c"),
        F.lit(None).cast("long").alias("p"),
    )
    folded = per_user.select(
        "user_id",
        F.aggregate(
            "seq",
            acc0,
            lambda acc, e: F.struct(
                F.when(
                    acc["v"].isNull() & (e["et"] == "view"), e["us"]
                ).otherwise(acc["v"]).alias("v"),
                F.when(
                    acc["c"].isNull()
                    & acc["v"].isNotNull()
                    & (e["et"] == "click")
                    & (e["us"] > acc["v"]),
                    e["us"],
                ).otherwise(acc["c"]).alias("c"),
                F.when(
                    acc["p"].isNull()
                    & acc["c"].isNotNull()
                    & (e["et"] == "purchase")
                    & (e["us"] > acc["c"]),
                    e["us"],
                ).otherwise(acc["p"]).alias("p"),
            ),
        ).alias("f"),
    )
    return (
        folded.filter(F.col("f.p").isNotNull())
        .select(
            "user_id",
            F.col("f.v").alias("view_us"),
            F.col("f.c").alias("click_us"),
            F.col("f.p").alias("purchase_us"),
        )
    )


@query(
    "scan_zone_map",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey = 42
    """,
)
def scan_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data skipping via a per-file min/max manifest (zone map).

    Build phase (the "index", run once per dataset): orders are
    re-clustered by customer key into ranged files, and a manifest of
    per-file (min, max) o_custkey is computed via `input_file_name`
    and persisted — the same statistics Delta/Iceberg keep in their
    metadata layer, rebuilt from parquet primitives. Query phase: the
    point predicate consults the tiny manifest FIRST and passes only
    intersecting file paths to the reader, so the main scan opens
    O(matching files), not O(all files). Clustering is what makes
    zones selective — unsorted data gives every file the full key
    range and zero skipping (equally true of the real systems).

    The manifest fetch is bounded by file count (thousands of rows at
    100 TB, not data rows); the oracle runs the plain filter over all
    rows, so a file wrongly skipped surfaces as missing output.
    (o_custkey 42 exists at every testdata sf.)
    """
    base = scratch_dir("zonemap", sf_dir, "orders")
    data_dir = f"{base}/data"
    manifest_dir = f"{base}/manifest"

    def build() -> None:
        (
            load_table(spark, sf_dir, "orders")
            .repartitionByRange(16, "o_custkey")
            .write.mode("overwrite")
            .parquet(data_dir)
        )
        (
            spark.read.parquet(data_dir)
            .groupBy(F.input_file_name().alias("path"))
            .agg(
                F.min("o_custkey").alias("lo"),
                F.max("o_custkey").alias("hi"),
            )
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(manifest_dir)
        )

    build_once(base, build)
    return _zone_pruned_scan(spark, data_dir, manifest_dir, key=42)


#: Driver-side manifest cap: the pruned path list is collect()ed, so
#: an unselective predicate over a 100 TB table (millions of files)
#: would otherwise be a driver memory hazard. Past the cap the scan
#: degrades to the full directory read — still correct, and parquet
#: row-group stats still skip; only the file-level pruning is lost.
ZONE_MANIFEST_CAP = 10_000


def _zone_pruned_scan(
    spark: SparkSession,
    data_dir: str,
    manifest_dir: str,
    key: int,
    cap: int = ZONE_MANIFEST_CAP,
) -> DataFrame:
    """Query phase of the zone map: manifest lookup → bounded path
    list → pruned scan, with the unselective-predicate fallback."""
    matching = (
        spark.read.parquet(manifest_dir)
        .filter((F.col("lo") <= key) & (F.col("hi") >= key))
        .select("path")
    )
    out_cols = ("o_orderkey", "o_custkey", "o_totalprice")
    # ONE manifest job answers both "over the cap?" and "which paths":
    # collect cap+1 rows — the driver never holds more than cap+1
    # paths, and a separate count() job is avoided
    rows = matching.limit(cap + 1).collect()
    if len(rows) > cap:
        return (
            spark.read.parquet(data_dir)
            .filter(F.col("o_custkey") == key)
            .select(*out_cols)
        )
    paths = [r["path"] for r in rows]
    if not paths:
        # no zone intersects the key ⇒ the key is absent from the
        # table and the correct (oracle-matching) answer is empty —
        # returned explicitly, since spark.read.parquet() needs ≥1 path
        return local_frame(
            spark, [], "o_orderkey bigint, o_custkey bigint, o_totalprice double"
        )
    return (
        spark.read.parquet(*paths)
        .filter(F.col("o_custkey") == key)
        .select(*out_cols)
    )


#: `corpus_delete`'s erasure request: every customer key in
#: [CDEL_LO, CDEL_HI] — a contiguous range, because the artifact being
#: maintained is RANGE-clustered (scan_zone_map's layout): a range
#: delete is the case where file-level pruning pays (a uniformly
#: random key set touches every ranged file in any system, Iceberg
#: included). The range is non-empty at every testdata SF.
CDEL_LO = 100
CDEL_HI = 199


def _cdel_dirs(sf_dir: str) -> dict[str, str]:
    """`corpus_delete`'s artifact layout, shared with tests: the
    immutable v1 file set + manifest + counter card, the post-delete
    delta files and v2 manifest/card, and the audit sidecar."""
    base = scratch_dir(f"cdel_{CDEL_LO}_{CDEL_HI}_v1", sf_dir, "orders")
    return {
        "base": base,
        "files": f"{base}/files",
        "manifest_v1": f"{base}/manifest_v1",
        "card_v1": f"{base}/card_v1",
        "delta": f"{base}/delta",
        "manifest_v2": f"{base}/manifest_v2",
        "card_v2": f"{base}/card_v2",
        "audit": f"{base}/audit",
    }


def _manifest_paths(spark: SparkSession, manifest_dir: str) -> list[str]:
    """All file paths a manifest version points at, capped by the
    zone-map driver-side discipline (ZONE_MANIFEST_CAP). Unlike the
    zone scan there is NO full-directory fallback: after a delete the
    directory still holds the pre-delete bytes of rewritten files, so
    reading anything but the manifest's exact path set would
    resurrect erased rows — at 100 TB this list lives in the metadata
    layer (the `latest_snapshot` discipline), never on the driver."""
    rows = (
        spark.read.parquet(manifest_dir)
        .select("path")
        .limit(ZONE_MANIFEST_CAP + 1)
        .collect()
    )
    if len(rows) > ZONE_MANIFEST_CAP:
        raise RuntimeError(
            f"manifest over the {ZONE_MANIFEST_CAP}-path driver cap; "
            "a metadata-layer reader is required at this file count"
        )
    return [r["path"] for r in rows]


@query(
    "corpus_delete",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           COUNT(DISTINCT o_custkey) AS n_custkeys,
           {sql_dsum('o_totalprice')} AS sum_price
    FROM orders
    WHERE o_custkey NOT BETWEEN {CDEL_LO} AND {CDEL_HI}
    GROUP BY o_orderstatus
    """,
)
def corpus_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation:
    an erasure request — every customer key in [CDEL_LO, CDEL_HI] —
    propagated through the DERIVED artifacts persisted for a
    range-clustered table, touching only what the request requires:

    1. **Data files, metadata-proportionally.** The zone-map manifest
       (`scan_zone_map`'s per-file min/max) names exactly which
       ranged files intersect the erased range; ONLY those are
       rewritten (anti-filtered) into a delta directory. Every other
       file is never read, never rewritten — its manifest-v2 row
       keeps the ORIGINAL path, the Iceberg/Delta metadata-swap shape
       (`latest_snapshot`'s pin discipline; `snapshot_expire`'s
       metadata-proportional rule). Tests pin the untouched-path
       contract and that a deleted key zone-scans to zero rows.
    2. **Derived counters, by subtraction.** The per-status card's
       counters are additive, so the delete folds in as ONE aggregate
       over the (pruned-read) deleted rows, negated — O(erased rows),
       never a recompute of the surviving 100 TB. card_v2 must equal
       a fresh aggregate of the surviving scan (tested).
    3. **Audit sidecar.** Per erased key: rows removed and the file
       count touched — the erasure receipt a compliance pipeline
       persists.

    The registered query scans the POST-DELETE table through
    manifest v2 and aggregates it; the oracle aggregates the source
    minus the erased range — any resurrected row, lost survivor, or
    drifted counter is a hash mismatch.
    """
    dirs = _cdel_dirs(sf_dir)
    in_range = (F.col("o_custkey") >= CDEL_LO) & (
        F.col("o_custkey") <= CDEL_HI
    )

    def build() -> None:
        (
            load_table(spark, sf_dir, "orders")
            .repartitionByRange(16, "o_custkey")
            .write.mode("overwrite")
            .parquet(dirs["files"])
        )
        man = (
            spark.read.parquet(dirs["files"])
            .groupBy(F.input_file_name().alias("path"))
            .agg(
                F.min("o_custkey").alias("lo"),
                F.max("o_custkey").alias("hi"),
            )
        )
        man.coalesce(1).write.mode("overwrite").parquet(
            dirs["manifest_v1"]
        )
        full = spark.read.parquet(dirs["files"])
        full.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        ).coalesce(1).write.mode("overwrite").parquet(dirs["card_v1"])

        # ---- the erasure job ----
        man1 = spark.read.parquet(dirs["manifest_v1"])
        hit = (F.col("lo") <= CDEL_HI) & (F.col("hi") >= CDEL_LO)
        touched = [r["path"] for r in man1.filter(hit).collect()]
        assert touched, "erased range hit no file — vacuous delete"
        touched_df = spark.read.parquet(*touched)
        touched_df.filter(~in_range).coalesce(
            max(1, len(touched))
        ).write.mode("overwrite").parquet(dirs["delta"])
        delta_man = (
            spark.read.parquet(dirs["delta"])
            .groupBy(F.input_file_name().alias("path"))
            .agg(
                F.min("o_custkey").alias("lo"),
                F.max("o_custkey").alias("hi"),
            )
        )
        man1.filter(~hit).unionByName(delta_man).coalesce(
            1
        ).write.mode("overwrite").parquet(dirs["manifest_v2"])
        erased = touched_df.filter(in_range)
        erased.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_rows_erased"),
            F.max(F.lit(len(touched))).alias("n_files_touched"),
        ).coalesce(1).write.mode("overwrite").parquet(dirs["audit"])
        neg = erased.groupBy("o_orderstatus").agg(
            (-F.count(F.lit(1))).alias("n_orders"),
            (-dsum("o_totalprice")).alias("sum_price"),
        )
        (
            spark.read.parquet(dirs["card_v1"])
            .unionByName(neg)
            .groupBy("o_orderstatus")
            .agg(
                F.sum("n_orders").cast("long").alias("n_orders"),
                dsum_merge("sum_price").alias("sum_price"),
            )
            .filter(F.col("n_orders") > 0)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(dirs["card_v2"])
        )

    build_once(dirs["base"], build)
    paths = _manifest_paths(spark, dirs["manifest_v2"])
    return (
        spark.read.parquet(*paths)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_custkeys"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


@query(
    "window_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id, CAST(MIN(date_trunc('day', ts)) AS DATE) AS cohort_day
        FROM events GROUP BY user_id
    ), activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS active_day
        FROM events
    )
    SELECT f.cohort_day,
           date_diff('day', f.cohort_day, a.active_day) AS day_offset,
           COUNT(*) AS n_users
    FROM firsts f JOIN activity a ON f.user_id = a.user_id
    WHERE date_diff('day', f.cohort_day, a.active_day) <= 7
    GROUP BY f.cohort_day, day_offset
    """,
)
def window_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day,
    counted on each of their next 7 active days.

    The product-analytics staple the reference's daily-snapshot
    architecture cannot answer without rescanning all history per
    cohort. Two hash aggregates (first-seen day per user; distinct
    user-days) plus one join on user_id — the join key is the
    aggregation key, so AQE can plan the join off the already-hashed
    sides; no per-day self-joins, no window over all history.
    `activity` is COUNT-DISTINCT-shaped state: O(users × active
    days), the minimum information retention semantics need.
    """
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    firsts = events.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = events.select("user_id", day.alias("active_day")).distinct()
    offset = F.datediff("active_day", "cohort_day")
    return (
        firsts.join(activity, "user_id")
        .where(offset <= 7)
        .groupBy("cohort_day", offset.alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "window_active_users",
    oracle="""
    WITH user_days AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    ), all_days AS (
        SELECT DISTINCT d FROM user_days
    ), contrib AS (
        SELECT w.d AS window_day, u.user_id
        FROM user_days u
        JOIN all_days w
          ON w.d >= u.d AND w.d <= u.d + INTERVAL 6 DAY
    )
    SELECT c.window_day,
           dau.n AS dau,
           COUNT(DISTINCT c.user_id) AS wau
    FROM contrib c
    JOIN (
        SELECT d, COUNT(DISTINCT user_id) AS n FROM user_days GROUP BY d
    ) dau ON dau.d = c.window_day
    GROUP BY c.window_day, dau.n
    """,
)
def window_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU per day — rolling DISTINCT actives.

    Rolling distinct is the aggregate SQL window functions cannot
    express (COUNT(DISTINCT) OVER a range frame is unsupported), and
    the naive day×day range self-join is quadratic in history length.
    The scale shape used here: each distinct (user, day) observation
    EXPLODES into the ≤7 trailing window-days it contributes to, then
    one hash aggregate counts distincts per window day. The fan-out
    is a fixed ×7 map-side multiplier on already-deduped user-days —
    linear, shuffle bounded by 7·|user_days| — and the window length
    is a literal, so Catalyst folds the generated day array. DAU
    rides the same user_days frame; both the dedup aggregate and the
    distinct counts are map-side-combining hash aggregates. (At very
    long windows — 90d MAU — the same shape holds; sketch-merge,
    `agg_sketch_rollup`, is the approximate alternative when ×W
    fan-out bites.)
    """
    events = load_table(spark, sf_dir, "events")
    user_days = (
        events.select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("d")
        ).distinct()
    )
    all_days = user_days.select("d").distinct()
    contributes = (
        user_days.withColumn(
            "window_day",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(6)),
                    lambda i: F.date_add(F.col("d"), i),
                )
            ),
        )
        # only days that actually exist in the data (mirrors the
        # oracle's all_days join; trailing days past the horizon would
        # otherwise report partial windows)
        .join(
            all_days.select(F.col("d").alias("window_day")), "window_day"
        )
    )
    dau = user_days.groupBy(F.col("d").alias("window_day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    wau = contributes.groupBy("window_day").agg(
        F.countDistinct("user_id").alias("wau")
    )
    return (
        dau.join(wau, "window_day")
        .select("window_day", "dau", "wau")
    )


HOUR_US = 3_600_000_000


#: Shared dense-grid prelude for the gap-filling family: hourly
#: aggregate -> per-type bounds -> generated hour grid -> left-joined
#: observations (NULL avg_value marks a gap). ONE definition — grid
#: semantics (bucket width, bounds rule, the zero-coalesce) change in
#: every oracle and its Spark twin together (same drift-prevention
#: rationale as graph.py's _SQL_UND_BASE/_und_edges).
_SQL_GRID_BASE = f"""hourly AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) AS BIGINT) AS hour_us,
               COUNT(*)::BIGINT AS n_events,
               {sql_davg('value')} AS avg_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, MIN(hour_us) AS lo, MAX(hour_us) AS hi
        FROM hourly GROUP BY 1
    ), grid AS (
        SELECT b.event_type, b.lo + {HOUR_US} * u.i AS hour_us
        FROM bounds b,
             unnest(range((b.hi - b.lo) // {HOUR_US} + 1)) AS u(i)
    ), joined AS (
        SELECT g.event_type, g.hour_us,
               COALESCE(h.n_events, 0)::BIGINT AS n_events,
               h.avg_value
        FROM grid g LEFT JOIN hourly h USING (event_type, hour_us)
    )"""


def _hourly_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_SQL_GRID_BASE`: the densified hourly frame
    (event_type, hour_us, n_events, avg_value-or-NULL)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.unix_micros(F.date_trunc("hour", "ts")).alias("hour_us"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        davg("value").alias("avg_value"),
    )
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour_us").alias("lo"), F.max("hour_us").alias("hi")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.lit(HOUR_US))
        ).alias("hour_us"),
    )
    return grid.join(hourly, ["event_type", "hour_us"], "left").select(
        "event_type",
        "hour_us",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "avg_value",
    )


@query(
    "window_gap_fill",
    oracle=f"""
    WITH {_SQL_GRID_BASE}
    SELECT event_type, hour_us, n_events,
           LAST_VALUE(avg_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hour_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS avg_value_ffill
    FROM joined
    """,
)
def window_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: densify each event type's hourly
    series to EVERY hour between its first and last observation,
    zero-filling counts and forward-filling the hourly average — the
    hypertable `time_bucket_gapfill` / `locf` operation, rebuilt from
    sequence-explode + a window.

    Shape: hourly aggregate (one corpus shuffle) → per-type
    min/max bounds (tiny) → `sequence` + explode generates the dense
    hour grid WITHOUT a driver loop or a calendar table — O(hours)
    rows per type, computed where the data lives → left join actual
    hours → `last(ignorenulls)` running window carries the previous
    observed average across the gap. Dashboards and training-feature
    pipelines both need this: a missing hour must read as "0 events,
    value unchanged", not silently vanish from the frame. The first
    grid hour per type is its first OBSERVED hour, so the fill never
    fabricates a leading value.
    """
    from pyspark.sql import Window

    from crime_data_batch_processing_spark.functions.exact import davg

    joined = _hourly_grid(spark, sf_dir)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour_us",
        "n_events",
        F.last("avg_value", ignorenulls=True).over(w).alias("avg_value_ffill"),
    )


@query(
    "window_interpolate",
    oracle=f"""
    WITH {_SQL_GRID_BASE}, spanned AS (
        SELECT event_type, hour_us, n_events, avg_value,
               LAST_VALUE(avg_value IGNORE NULLS) OVER wp AS pv,
               LAST_VALUE(CASE WHEN avg_value IS NOT NULL THEN hour_us END
                          IGNORE NULLS) OVER wp AS ph,
               FIRST_VALUE(avg_value IGNORE NULLS) OVER wn AS nv,
               FIRST_VALUE(CASE WHEN avg_value IS NOT NULL THEN hour_us END
                           IGNORE NULLS) OVER wn AS nh
        FROM joined
        WINDOW wp AS (PARTITION BY event_type ORDER BY hour_us
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY event_type ORDER BY hour_us
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, hour_us, n_events,
           CASE WHEN avg_value IS NOT NULL THEN avg_value
                ELSE pv + (nv - pv)
                     * (CAST(hour_us - ph AS DOUBLE)
                        / CAST(nh - ph AS DOUBLE))
           END AS value_interp,
           avg_value IS NOT NULL AS observed
    FROM spanned
    """,
)
def window_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling by LINEAR INTERPOLATION: densify each
    event type's hourly series and fill missing hours with the
    time-weighted line between the surrounding observations — the
    hypertable `interpolate()` sibling of `window_gap_fill`'s locf
    (carry-forward reads a sensor's last value as still true; a rate
    or price series wants the trend line instead).

    Shape: identical dense-grid build (hourly aggregate → per-type
    bounds → `sequence`-explode grid → left join), then TWO frame
    specs over the SAME (partition, order): a backward running
    `last(ignorenulls)` for the previous observation (value + hour)
    and a forward `first(ignorenulls)` for the next. Spark plans both
    under ONE window shuffle — the frames differ, the partitioning
    does not. The grid spans first..last OBSERVED hour per type, so a
    gap row always has both neighbors; observed rows pass through
    untouched (`observed` flags them).

    Bit-exactness: neighbor values are davg outputs (identical
    doubles both engines); hour arithmetic is exact int64
    microseconds; the interpolation is a fixed parse tree —
    pv + (nv − pv) · ((hour−ph)/(nh−ph)) — of IEEE ops on identical
    inputs, spelled with the same parenthesization in both engines
    (neither fuses a*b+c into FMA), so every filled value matches
    bit-for-bit. No accumulation anywhere → no decimal detour needed
    beyond the davg the hourly table already does.
    """
    joined = _hourly_grid(spark, sf_dir)
    wp = (
        Window.partitionBy("event_type")
        .orderBy("hour_us")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("event_type")
        .orderBy("hour_us")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hour = F.when(F.col("avg_value").isNotNull(), F.col("hour_us"))
    pv = F.last("avg_value", ignorenulls=True).over(wp)
    ph = F.last(obs_hour, ignorenulls=True).over(wp)
    nv = F.first("avg_value", ignorenulls=True).over(wn)
    nh = F.first(obs_hour, ignorenulls=True).over(wn)
    ratio = (F.col("hour_us") - F.col("ph")).cast("double") / (
        F.col("nh") - F.col("ph")
    ).cast("double")
    return (
        joined.select(
            "event_type",
            "hour_us",
            "n_events",
            "avg_value",
            pv.alias("pv"),
            ph.alias("ph"),
            nv.alias("nv"),
            nh.alias("nh"),
        )
        .select(
            "event_type",
            "hour_us",
            "n_events",
            F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
            .otherwise(
                F.col("pv") + (F.col("nv") - F.col("pv")) * ratio
            )
            .alias("value_interp"),
            F.col("avg_value").isNotNull().alias("observed"),
        )
    )


@query(
    "window_attribution",
    oracle="""
    WITH t AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_id END IGNORE NULLS) OVER w
                   AS touch_event,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN event_type END IGNORE NULLS) OVER w
                   AS touch_type,
               last_value(CASE WHEN event_type IN ('view', 'click')
                               THEN epoch_us(ts) END IGNORE NULLS) OVER w
                   AS touch_us
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, value, touch_event, touch_type,
           ts_us - touch_us AS latency_us
    FROM t WHERE event_type = 'purchase'
    """,
)
def window_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credited to the
    user's most recent preceding view/click.

    The naive formulation is a per-purchase correlated "latest touch
    before me" subquery — a time-range self-join that explodes at
    scale. The window formulation does it in ONE shuffle: partition by
    user, order by (ts, event_id), and `last(..., ignorenulls=True)`
    over the strictly-preceding frame carries the latest touch forward
    to every row. All three attributes come off the same window spec,
    so Catalyst reuses one exchange + sort. Purchases with no prior
    touch keep NULL attribution (organic conversions) — they must
    stay visible, not be dropped by an inner join.

    The strictly-preceding ROWS frame (not -1 microsecond on a RANGE
    frame) makes "before" well-defined even when a touch and a
    purchase share a timestamp: the event_id tie-breaker decides, and
    the output is a pure function of the data.
    """
    touch = F.col("event_type").isin("view", "click")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts_us"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    # all three attributes in ONE projection so CollapseWindow folds
    # them into a single Window node (chained withColumns interpose
    # Projects that defeat the collapse → three sort passes)
    return (
        ev.select(
            "event_id", "user_id", "event_type", "value", "ts_us",
            F.last(F.when(touch, F.col("event_id")), ignorenulls=True)
            .over(w).alias("touch_event"),
            F.last(F.when(touch, F.col("event_type")), ignorenulls=True)
            .over(w).alias("touch_type"),
            F.last(F.when(touch, F.col("ts_us")), ignorenulls=True)
            .over(w).alias("touch_us"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id", "user_id", "value", "touch_event", "touch_type",
            (F.col("ts_us") - F.col("touch_us")).alias("latency_us"),
        )
    )


#: Path analysis: consecutive-step gap bound and path length.
PATH_GAP_US = 30 * 60 * 1_000_000
PATH_TOP = 15


@query(
    "window_paths",
    oracle=f"""
    WITH e AS (
        SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
        FROM events
    ), lagged AS (
        SELECT user_id, event_type,
               LAG(event_type, 2) OVER w AS t2,
               LAG(event_type, 1) OVER w AS t1,
               ts_us - LAG(ts_us, 1) OVER w AS gap1,
               LAG(ts_us, 1) OVER w - LAG(ts_us, 2) OVER w AS gap2
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ), paths AS (
        SELECT user_id, t2 || '>' || t1 || '>' || event_type AS path
        FROM lagged
        WHERE t2 IS NOT NULL
          AND gap1 < {PATH_GAP_US} AND gap2 < {PATH_GAP_US}
    )
    SELECT path, COUNT(*) AS n_walks,
           COUNT(DISTINCT user_id) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_walks DESC, path ASC
    LIMIT {PATH_TOP}
    """,
)
def window_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path analysis: the top 3-step event paths walked
    within a session gap — the exploratory sibling of `window_funnel`
    (which checks ONE known sequence; this surfaces which sequences
    exist, the data behind flow/sankey views).

    One (user, ts) window serves both lagged types and both step
    gaps (shared spec → single exchange + sort); a path qualifies only
    if each consecutive step falls within the session gap, so paths
    never bridge separate visits. The corpus-wide tally is one
    map-combining aggregate keyed by the path string (bounded: at most
    |event types|^3 keys), and the tie-broken top-k folds into
    TakeOrderedAndProject. Longer paths are the same plan with more
    lag columns; the shuffle stays one exchange regardless.
    """
    w = Window.partitionBy("user_id").orderBy(F.col("ts_us"), F.col("event_id"))
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id",
        F.unix_micros("ts").alias("ts_us"),
    )
    lagged = e.select(
        "user_id",
        "event_type",
        F.lag("event_type", 2).over(w).alias("t2"),
        F.lag("event_type", 1).over(w).alias("t1"),
        (F.col("ts_us") - F.lag("ts_us", 1).over(w)).alias("gap1"),
        (
            F.lag("ts_us", 1).over(w) - F.lag("ts_us", 2).over(w)
        ).alias("gap2"),
    )
    paths = lagged.where(
        F.col("t2").isNotNull()
        & (F.col("gap1") < PATH_GAP_US)
        & (F.col("gap2") < PATH_GAP_US)
    ).select(
        "user_id",
        F.concat_ws(">", "t2", "t1", "event_type").alias("path"),
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_walks"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.desc("n_walks"), F.asc("path"))
        .limit(PATH_TOP)
    )


@query(
    "window_daily_kpis",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY 1
    )
    SELECT day, n_orders, revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(28,6))) OVER (
               ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS DOUBLE) AS cum_revenue,
           CAST(SUM(CAST(revenue AS DECIMAL(28,6))) OVER (
               ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS DOUBLE)
             / COUNT(*) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING
                              AND CURRENT ROW) AS ma7_revenue
    FROM daily
    """,
)
def window_daily_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BI daily-KPI triple: per-day revenue, running cumulative,
    and 7-day moving average — the first dashboard every warehouse
    serves.

    Two layers with different cardinalities: the per-day aggregate is
    the corpus-sized work (one map-combining hash aggregate — the
    shuffle carries one row per (task, day)); the windows then run
    over the DAILY frame, whose row count is bounded by the calendar
    (~thousands of rows at ANY data volume), so the unpartitioned
    ordered window here — normally this engine's forbidden pattern —
    is safe by construction and stays safe at 100 TB: time, not data,
    bounds it. Running sums accumulate in DECIMAL so cumulative
    revenue is order-independent; the moving average divides two
    frame aggregates sharing one spec.
    """
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("revenue"),
        )
    )
    # windows over the bounded daily frame (calendar-sized, see above)
    w_cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_ma = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    return daily.select(
        "day",
        "n_orders",
        "revenue",
        F.sum(F.col("revenue").cast("decimal(28,6)"))
        .over(w_cum)
        .cast("double")
        .alias("cum_revenue"),
        (
            F.sum(F.col("revenue").cast("decimal(28,6)"))
            .over(w_ma)
            .cast("double")
            / F.count(F.lit(1)).over(w_ma)
        ).alias("ma7_revenue"),
    )
