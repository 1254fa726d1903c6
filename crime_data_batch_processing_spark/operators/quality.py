"""Data-quality expectation suite — the Deequ / dbt-test /
Great-Expectations shape: declarative rules evaluated in bulk, one
result row per rule.

The reference has no data validation of any kind: a malformed source
row flows straight into the snapshot (its only guard is a try/except
around DDL, /root/reference/spark_ingest_script.py:76-82). At 100 TB
unvalidated ingest is how a silent upstream change poisons every
downstream table, so a rules pass over each new snapshot — BEFORE the
latest-pointer flips (the O12 protocol) — is table stakes.

Scale shape: all single-column rules for a table fold into ONE
conditional-aggregate pass (a scan emitting one row however many rules
there are), so the suite costs one scan per table + one join per
referential rule. Rule results are tiny; the expensive thing — the
scan — is never repeated per rule. Violation counts (not just
booleans) make triage proportional: `ok` tells the gate, the count
tells the operator whether it is one bad row or a broken upstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.functions.exact import (
    with_scalars,
)
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    local_frame,
)


def _rule_rows(agged: DataFrame, n_col: str, rules: list[str]) -> DataFrame:
    """Unpivot one (n, rule_a, rule_b, ...) aggregate row into
    (rule, n_checked, violations) rows — post-aggregate, so the stack
    touches one row per table, not the data."""
    stacked = ", ".join(f"'{r}', {r}" for r in rules)
    return agged.select(
        F.expr(
            f"stack({len(rules)}, {stacked}) AS (rule, violations)"
        ),
        F.col(n_col).alias("n_checked"),
    ).select("rule", "n_checked", "violations")


@query(
    "quality_expectations",
    oracle="""
    WITH o AS (
        SELECT COUNT(*) AS n,
               COUNT(*) - COUNT(DISTINCT o_orderkey) AS orders_orderkey_unique,
               COUNT(*) FILTER (WHERE o_custkey IS NULL)
                   AS orders_custkey_not_null,
               COUNT(*) FILTER (WHERE o_totalprice < 0
                                   OR o_totalprice > 1000000)
                   AS orders_totalprice_range,
               COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
                   AS orders_status_domain
        FROM orders
    ), l AS (
        SELECT COUNT(*) AS n,
               COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                   AS lineitem_quantity_range,
               COUNT(*) FILTER (WHERE l_discount > 0.08)
                   AS lineitem_discount_cap
        FROM lineitem
    ), c AS (
        SELECT COUNT(*) AS n,
               COUNT(*) FILTER (WHERE c_acctbal < 0)
                   AS customer_acctbal_nonneg
        FROM customer
    ), ri AS (
        SELECT COUNT(*) AS n,
               COUNT(*) FILTER (WHERE cu.c_custkey IS NULL)
                   AS orders_custkey_ri_customer
        FROM orders o
        LEFT JOIN customer cu ON o.o_custkey = cu.c_custkey
    ), long AS (
        SELECT 'orders_orderkey_unique' AS rule, n AS n_checked,
               orders_orderkey_unique AS violations FROM o
        UNION ALL SELECT 'orders_custkey_not_null', n,
               orders_custkey_not_null FROM o
        UNION ALL SELECT 'orders_totalprice_range', n,
               orders_totalprice_range FROM o
        UNION ALL SELECT 'orders_status_domain', n,
               orders_status_domain FROM o
        UNION ALL SELECT 'lineitem_quantity_range', n,
               lineitem_quantity_range FROM l
        UNION ALL SELECT 'lineitem_discount_cap', n,
               lineitem_discount_cap FROM l
        UNION ALL SELECT 'customer_acctbal_nonneg', n,
               customer_acctbal_nonneg FROM c
        UNION ALL SELECT 'orders_custkey_ri_customer', n,
               orders_custkey_ri_customer FROM ri
    )
    SELECT rule, n_checked, violations, violations = 0 AS ok FROM long
    """,
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk expectation suite: uniqueness, completeness, ranges, value
    domains, and referential integrity — one result row per rule.

    Single-column rules fold into one conditional-aggregate scan per
    table (orders carries 4 rules in one pass); the referential rule
    is one left join + conditional count (Catalyst picks broadcast
    when the dimension fits). Two rules fail by design on this data
    (discount cap, negative balances) so the suite demonstrably
    distinguishes pass from fail rather than rubber-stamping.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cu = load_table(spark, sf_dir, "customer")
    viol = lambda cond: F.count(F.when(cond, 1))  # noqa: E731

    o_agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias(
            "orders_orderkey_unique"
        ),
        viol(F.col("o_custkey").isNull()).alias("orders_custkey_not_null"),
        viol(
            (F.col("o_totalprice") < 0) | (F.col("o_totalprice") > 1_000_000)
        ).alias("orders_totalprice_range"),
        viol(~F.col("o_orderstatus").isin("F", "O", "P")).alias(
            "orders_status_domain"
        ),
    )
    l_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        viol(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("lineitem_quantity_range"),
        viol(F.col("l_discount") > 0.08).alias("lineitem_discount_cap"),
    )
    c_agg = cu.agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("c_acctbal") < 0).alias("customer_acctbal_nonneg"),
    )
    # left join (not anti) so one pass yields BOTH the checked-row
    # count and the violation count — c_custkey is unique, so the
    # join is 1:1 and COUNT(*) stays the orders count. (The anti-join
    # + scalar crossJoin form plans a 1x1 BroadcastNestedLoopJoin and
    # scans orders twice.)
    ri_agg = o.join(
        cu.select("c_custkey"),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        viol(F.col("c_custkey").isNull()).alias(
            "orders_custkey_ri_customer"
        ),
    )
    long = (
        _rule_rows(
            o_agg,
            "n",
            [
                "orders_orderkey_unique",
                "orders_custkey_not_null",
                "orders_totalprice_range",
                "orders_status_domain",
            ],
        )
        .unionByName(
            _rule_rows(
                l_agg, "n",
                ["lineitem_quantity_range", "lineitem_discount_cap"],
            )
        )
        .unionByName(_rule_rows(c_agg, "n", ["customer_acctbal_nonneg"]))
        .unionByName(
            _rule_rows(ri_agg, "n", ["orders_custkey_ri_customer"])
        )
    )
    return long.select(
        "rule", "n_checked", "violations", (F.col("violations") == 0).alias("ok")
    )


#: Drift detection geometry: price-distribution buckets and the two
#: snapshot years compared. Shares in basis points with floor
#: division — integer end-to-end (PSI's log-ratio is libm; total
#: variation distance carries the same decision signal exactly).
DRIFT_BUCKET = 50_000
DRIFT_Y1, DRIFT_Y2 = 1996, 1997
DRIFT_ALERT_BP = 500


@query(
    "profile_drift",
    oracle=f"""
    WITH b AS (
        SELECT CAST(FLOOR(o_totalprice / {DRIFT_BUCKET}) AS BIGINT) AS bucket,
               COUNT(*) FILTER (WHERE YEAR(o_orderdate) = {DRIFT_Y1})
                   AS n_base,
               COUNT(*) FILTER (WHERE YEAR(o_orderdate) = {DRIFT_Y2})
                   AS n_new
        FROM orders
        WHERE YEAR(o_orderdate) IN ({DRIFT_Y1}, {DRIFT_Y2})
        GROUP BY 1
    ), t AS (
        SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
               CAST(SUM(n_new) AS BIGINT) AS tn
        FROM b
    ), s AS (
        SELECT bucket, n_base, n_new,
               10000 * n_base // tb AS bp_base,
               10000 * n_new // tn AS bp_new
        FROM b, t
    ), d AS (
        SELECT CAST(SUM(ABS(bp_base - bp_new)) AS BIGINT) AS l1_bp FROM s
    )
    SELECT s.bucket, s.n_base, s.n_new, s.bp_base, s.bp_new,
           d.l1_bp // 2 AS tv_bp,
           d.l1_bp // 2 >= {DRIFT_ALERT_BP} AS drifted
    FROM s, d
    """,
)
def profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection between two snapshot slices — the
    monitoring query that catches a silent upstream change before it
    poisons downstream consumers (the gap `quality_expectations`'
    row-level rules can't see: every row valid, the DISTRIBUTION
    shifted).

    One conditional-aggregate pass buckets the metric for BOTH slices
    (never a scan per slice); shares are basis-point integers (floor
    division agrees across engines), and the drift score is the total
    variation distance in basis points — the same alert signal as PSI
    without PSI's libm log-ratio, so the verdict is exact and
    reproducible. The bucket table is bounded (metric range /
    DRIFT_BUCKET), so the grand totals and the L1 fold are single-row
    broadcasts, not corpus shuffles.
    """
    o = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate").isin(DRIFT_Y1, DRIFT_Y2)
    )
    b = o.groupBy(
        F.floor(F.col("o_totalprice") / DRIFT_BUCKET)
        .cast("long")
        .alias("bucket")
    ).agg(
        F.count(F.when(F.year("o_orderdate") == DRIFT_Y1, 1)).alias("n_base"),
        F.count(F.when(F.year("o_orderdate") == DRIFT_Y2, 1)).alias("n_new"),
    )
    t = b.agg(
        F.sum("n_base").alias("tb"), F.sum("n_new").alias("tn")
    )
    s = with_scalars(b, t).select(
        "bucket",
        "n_base",
        "n_new",
        F.expr("10000 * n_base div tb").alias("bp_base"),
        F.expr("10000 * n_new div tn").alias("bp_new"),
    )
    d = s.agg(
        F.sum(F.abs(F.col("bp_base") - F.col("bp_new"))).alias("l1_bp")
    )
    return with_scalars(s, d).select(
        "bucket",
        "n_base",
        "n_new",
        "bp_base",
        "bp_new",
        F.expr("l1_bp div 2").alias("tv_bp"),
        (F.expr("l1_bp div 2") >= DRIFT_ALERT_BP).alias("drifted"),
    )


def observed_orders(spark: SparkSession, sf_dir: str):
    """(Observation, observed frame) that `profile_observe` writes —
    exposed as the unit the plan test pins: the metric aggregates must
    be a CollectMetrics node ON this frame (folded by the writing
    tasks), never a second aggregation job over the table."""
    from pyspark.sql import Observation

    from crime_data_batch_processing_spark.functions.exact import dsum

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("write_qc")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_nonpositive_price"),
        F.coalesce(
            F.sum(
                F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_bad_status"),
        dsum("o_totalprice").alias("sum_price"),
        F.unix_micros(F.min("o_orderdate").cast("timestamp")).alias(
            "min_ts_us"
        ),
        F.unix_micros(F.max("o_orderdate").cast("timestamp")).alias(
            "max_ts_us"
        ),
    )
    return obs, observed


@query(
    "profile_observe",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(COALESCE(SUM(CASE WHEN o_totalprice <= 0
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_nonpositive_price,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P')
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
               AS n_bad_status,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS sum_price,
           epoch_us(MIN(o_orderdate)) AS min_ts_us,
           epoch_us(MAX(o_orderdate)) AS max_ts_us
    FROM orders
    """,
)
def profile_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass pipeline QC metrics via `Dataset.observe` — the
    zero-extra-scan monitoring primitive `quality_expectations`'
    docstring costs at one scan per table: `observe` attaches the
    metric aggregates to a job the pipeline ALREADY runs (here the
    snapshot write, stood in by a noop-format write), so at 100 TB
    the quality counters are free — collected by the same tasks that
    write the data, no second read of anything.

    This is Spark's CollectMetrics operator: each task folds the
    metric expressions over the rows it streams through, the driver
    merges the partials, and `Observation.get` blocks until the
    action completes. Constraints encoded here: every expression must
    be an aggregate, distinct aggregates are not allowed, and the
    metrics see exactly the rows the action materialized — making
    this the audit trail for WHAT a write actually wrote (a filter
    pushed below the observe point would be invisible; the observe
    sits directly on the written frame).

    Metrics chosen as a write-gate row: row count, two violation
    counters (nonpositive price, out-of-domain status), the exact
    decimal price total, and the event-time span as epoch
    microseconds (integer — no timestamp-formatting parity risk).
    The returned single-row frame is driver-built from the observed
    values — a bounded orchestration scalar, same class as
    `scan_zone_map`'s manifest fetch. The oracle recomputes the same
    aggregates from source, so a metrics pass that dropped or
    double-counted rows during the write hash-fails.
    """
    obs, observed = observed_orders(spark, sf_dir)
    # the job the metrics ride on: the pipeline's own write (noop
    # format = full materialization, no output cost)
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return local_frame(
        spark,
        [
            (
                m["n_rows"],
                m["n_nonpositive_price"],
                m["n_bad_status"],
                m["sum_price"],
                m["min_ts_us"],
                m["max_ts_us"],
            )
        ],
        "n_rows bigint, n_nonpositive_price bigint, n_bad_status bigint,"
        " sum_price double, min_ts_us bigint, max_ts_us bigint",
    )
