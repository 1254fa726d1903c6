"""Composed analytics queries: multi-join + aggregate + top-k shapes.

The reference executes exactly one composed query (filter → group →
count, /root/reference/spark_process_script.py:37) and leaves every
richer analytics shape to "write your own SQL against the snapshot
tables" (/root/reference/README.md architecture section). This module
is that promise made concrete: four classic warehouse query shapes
(patterned on TPC-H Q3/Q5/Q10/Q18, adapted to the testdata's column
subset) composed entirely from the engine's primitive operators —
dimension-filtered joins, decimal-exact revenue aggregation, grouped
HAVING, and tie-broken top-k.

Scale notes (the point of composing these natively rather than
hand-staging them):

* Join ordering and broadcast selection are left to Catalyst + AQE.
  The tiny dims (region 5 rows, nation 25, supplier 100·sf) get
  explicit `broadcast()` hints — at any realistic scale they fit in
  an executor; customer/orders/lineitem joins stay shuffle hash /
  sort-merge and AQE re-plans them from runtime stats.
* Every filter sits directly on the scan side of its join, so
  predicate pushdown reaches the parquet reader and partition-prunes
  before the first shuffle (the Q3 segment filter cuts customer 5×
  before it ever moves).
* Revenue sums accumulate in DECIMAL (functions/exact.py) — at 100 TB
  the aggregation tree's shape is nondeterministic, and IEEE-double
  sums would differ run to run; decimal accumulation is
  order-independent, so results are stable AND oracle-bit-exact.
* Top-k carries a total-order tiebreak, so `LIMIT` is deterministic
  — `TakeOrderedAndProject`, no global sort materialization.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.functions.exact import dcol, dsum, sql_dsum, with_scalars
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import load_table

_REVENUE = "l_extendedprice * (1 - l_discount)"


@query(
    "analytics_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {sql_dsum(_REVENUE)} AS revenue,
           CAST(o_orderdate AS DATE) AS order_date,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, order_date ASC, l_orderkey ASC
    LIMIT 10
    """,
)
def analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped-order revenue for one market segment.

    Three-table join where every table is filtered BEFORE the join, so
    pushdown does the heavy lifting; the grouped revenue then feeds a
    tie-broken top-10 (TakeOrderedAndProject — the limit folds into
    the sort, no full-result materialization).
    """
    cutoff = F.lit("1998-06-01 00:00:00").cast("timestamp")
    customer = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    return (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_orderpriority",
        )
        .agg(dsum(F.expr(_REVENUE)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("order_date"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
    )


@query(
    "analytics_regional_revenue",
    oracle=f"""
    SELECT n_name, {sql_dsum(_REVENUE)} AS revenue
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
)
def analytics_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue per nation in one region.

    Six-table snowflake join. region/nation/supplier are broadcast —
    they are bounded dims (5 / 25 / 100·sf rows) at every scale that
    matters; the customer⋈orders⋈lineitem spine stays shuffled and
    AQE picks its physical strategy. The `s_nationkey = c_nationkey`
    equi-condition rides on the supplier join (local-supplier
    semantics, same as Q5's).
    """
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        customer.join(
            F.broadcast(nation.join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(dsum(F.expr(_REVENUE)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


@query(
    "analytics_returned_revenue",
    oracle=f"""
    SELECT c_custkey, c_name, n_name,
           {sql_dsum(_REVENUE)} AS revenue,
           c_acctbal
    FROM customer
    JOIN nation   ON n_nationkey = c_nationkey
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1999-07-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def analytics_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns, per customer, top 20.

    The half-year order window and the R-flag filter both push to
    their scans; nation broadcasts; the grouped output carries the
    customer attributes through the aggregate (grouping on them is
    free — c_custkey is the real key and determines the rest).
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1999-07-01 00:00:00").cast("timestamp"))
    )
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        customer.join(F.broadcast(nation), F.col("n_nationkey") == F.col("c_nationkey"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(F.expr(_REVENUE)).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
    )


@query(
    "analytics_large_orders",
    oracle=f"""
    SELECT c_custkey, c_name, o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           o_totalprice,
           {sql_dsum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(28,6))) > 250
    )
    GROUP BY c_custkey, c_name, o_orderkey, CAST(o_orderdate AS DATE),
             o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 100
    """,
)
def analytics_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers who placed very large orders.

    The HAVING subquery becomes a grouped pre-aggregate LEFT SEMI
    joined back onto lineitem's own order key — one extra hash
    aggregate instead of a correlated subquery, and Spark's partial
    aggregation means the per-order quantity sums combine map-side
    before the shuffle. Quantity accumulates in DECIMAL so the
    HAVING threshold cuts identically in both engines (an IEEE sum
    straddling the threshold could disagree in the last ulp).
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(dsum("l_quantity").alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        customer.join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            lineitem.join(big, "l_orderkey", "left_semi"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
        )
        .agg(dsum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select(
            "c_custkey", "c_name", "o_orderkey", "order_date",
            "o_totalprice", "total_qty",
        )
    )


#: Q21 adaptation: the testdata has no receipt/commit dates, so "late"
#: is shipped more than LATE_DAYS after the order date.
LATE_DAYS = 90


@query(
    "analytics_waiting_suppliers",
    oracle=f"""
    WITH base AS (
        SELECT l.l_orderkey, l.l_suppkey,
               l.l_shipdate > o.o_orderdate + INTERVAL {LATE_DAYS} DAY
                   AS is_late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    ), late AS (
        SELECT DISTINCT l_orderkey, l_suppkey FROM base WHERE is_late
    )
    SELECT s.s_name,
           COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM base l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey != l1.l_suppkey
    )
    AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey != l1.l_suppkey
    )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name ASC
    LIMIT 20
    """,
)
def analytics_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    finalized multi-supplier orders — the canonical EXISTS/NOT-EXISTS
    composition.

    Both quantifiers become joins, never per-row subquery re-execution:
    "some other supplier on the order" is a left-semi join of late
    lines against all lines (inequality on suppkey inside the join
    condition), "no other LATE supplier" a left-anti join against the
    late set. Each is an equi-join on l_orderkey with a residual
    suppkey!=, so the plan is hash/sort-merge joins keyed on the
    order — the shape that scales; a correlated rewrite would rescan
    lineitem per row. Distinct (orderkey, suppkey) pre-aggregation
    keeps the quantifier joins on order-level cardinality rather than
    line-level.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    base = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
            ).alias("is_late"),
        )
    )
    pairs = base.select("l_orderkey", "l_suppkey").distinct()
    late = (
        base.where("is_late").select("l_orderkey", "l_suppkey").distinct()
    )
    l1 = late.alias("l1")
    has_other = l1.join(
        pairs.alias("l2"),
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    sole_late = has_other.alias("l1").join(
        late.alias("l3"),
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        sole_late.join(
            F.broadcast(supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "analytics_nation_volume",
    oracle=f"""
    SELECT cn.n_name AS cust_nation,
           sn.n_name AS supp_nation,
           YEAR(o.o_orderdate) AS o_year,
           {sql_dsum(_REVENUE)} AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
    WHERE (cn.n_name = 'NATION_12' AND sn.n_name = 'NATION_13')
       OR (cn.n_name = 'NATION_13' AND sn.n_name = 'NATION_12')
    GROUP BY cn.n_name, sn.n_name, YEAR(o.o_orderdate)
    """,
)
def analytics_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations per
    year — a snowflake where BOTH legs of the fact need a nation
    lookup and the pair predicate is disjunctive across the legs.

    Every dimension (nation x2, filtered customer, filtered supplier)
    broadcasts; the disjunctive pair filter evaluates after both legs
    resolve, but each leg is pre-filtered to the two nations of
    interest, so the fact rows surviving to the pair check are already
    the ~2/25 nation slice — predicate pushdown through a snowflake,
    not a post-join filter over everything.
    """
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_12", "NATION_13")
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("c_nk"),
                F.col("n_name").alias("cust_nation"),
            )),
            F.col("c_nationkey") == F.col("c_nk"),
        )
        .select("c_custkey", "cust_nation")
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select(
                F.col("n_nationkey").alias("s_nk"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("s_nk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    pair = (
        (F.col("cust_nation") == "NATION_12")
        & (F.col("supp_nation") == "NATION_13")
    ) | (
        (F.col("cust_nation") == "NATION_13")
        & (F.col("supp_nation") == "NATION_12")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .where(pair)
        .groupBy("cust_nation", "supp_nation", "o_year")
        .agg(dsum(F.expr(_REVENUE)).alias("revenue"))
    )


@query(
    "analytics_customer_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def analytics_customer_distribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer —
    including the customers with ZERO qualifying orders, which is the
    whole point and the part an inner join silently drops.

    Two-level aggregation: LEFT join customer→orders with the filter
    in the JOIN CONDITION (in the WHERE it would turn the outer join
    back into an inner one — the classic outer-join-filter bug), then
    COUNT(o_orderkey) per customer (NULL-skipping, so no-order
    customers count 0), then the histogram over those counts. First
    aggregate shuffles on custkey; the second is tiny (distinct count
    values), so the plan is join + two hash aggregates — no windows,
    no skew risk beyond the join key itself.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


#: Q11 adaptation (no partsupp table in the testdata): a part is
#: "important" when its revenue exceeds IMPORTANT_AVG_MULT times the
#: AVERAGE part revenue. Q11's spec threshold (FRACTION of the total)
#: is deliberately SF-divided in TPC-H because a fixed fraction goes
#: vacuous as the part count grows — a fixed-ppm form returns 0 rows
#: at sf0.1, vacuously matching an equally-empty oracle. A multiple of the
#: average is the scale-invariant statement of "above-average
#: concentration": non-empty at every test SF (2 / 29 / 252 rows).
#: 1.5 is a dyadic rational — exactly representable, IEEE-identical
#: threshold arithmetic in both engines.
IMPORTANT_AVG_MULT = 1.5


@query(
    "analytics_important_parts",
    oracle=f"""
    WITH per_part AS (
        SELECT l_partkey,
               {sql_dsum(_REVENUE)} AS revenue
        FROM lineitem GROUP BY l_partkey
    ), total AS (
        SELECT {sql_dsum('revenue')} AS trev,
               CAST(COUNT(*) AS BIGINT) AS np
        FROM per_part
    )
    SELECT p.l_partkey, p.revenue
    FROM per_part p, total t
    WHERE p.revenue * t.np > t.trev * {IMPORTANT_AVG_MULT}
    """,
)
def analytics_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups kept only if they exceed a multiple of
    the global average — the HAVING-against-scalar-subquery pattern.

    The global total/count is one single-row aggregate over the
    per-group frame, broadcast against it (never a re-scan per group,
    never a driver round trip); the plan is two hash aggregates + a
    broadcast filter. The comparison is cross-multiplied
    (revenue·n_parts > mult·total) so no division enters the chain —
    a fixed IEEE multiply tree over exact decimal-summed revenues,
    identical in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        dsum(F.expr(_REVENUE)).alias("revenue")
    )
    # trev re-quantizes the per-part doubles through the exact
    # decimal accumulator — a plain double SUM would be partition-
    # order-dependent and drift from the oracle
    total = per_part.agg(
        dsum(F.col("revenue")).alias("trev"),
        F.count(F.lit(1)).alias("np"),
    )
    return (
        with_scalars(per_part, total)
        .where(
            F.col("revenue") * F.col("np")
            > F.col("trev") * F.lit(IMPORTANT_AVG_MULT)
        )
        .select("l_partkey", "revenue")
    )


#: Q8 parameters: target supplier nation inside the customer region's
#: market, one part type, a two-year window. NATION_12 is the pair
#: already proven populated at every sf (analytics_nation_volume).
MKT_REGION = "ASIA"
MKT_NATION = "NATION_12"
MKT_TYPE = "ECONOMY"


@query(
    "analytics_market_share",
    oracle=f"""
    SELECT EXTRACT(year FROM o_orderdate) AS o_year,
           CAST(SUM(CAST(CASE WHEN sn.n_name = '{MKT_NATION}'
                              THEN {_REVENUE} ELSE 0 END
                         AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(CAST({_REVENUE} AS DECIMAL(28,6))) AS DOUBLE)
               AS mkt_share,
           {sql_dsum(_REVENUE)} AS total_volume
    FROM region
    JOIN nation cn  ON cn.n_regionkey = r_regionkey
    JOIN customer   ON c_nationkey = cn.n_nationkey
    JOIN orders     ON o_custkey = c_custkey
    JOIN lineitem   ON l_orderkey = o_orderkey
    JOIN part       ON p_partkey = l_partkey
    JOIN supplier   ON s_suppkey = l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s_nationkey
    WHERE r_name = '{MKT_REGION}'
      AND p_type = '{MKT_TYPE}'
      AND EXTRACT(year FROM o_orderdate) IN (1995, 1996)
    GROUP BY 1
    ORDER BY 1
    """,
)
def analytics_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a nation's market share inside a region's
    market for one part type, per year — the eight-table snowflake
    with TWO roles for the nation dim (customer side fixes the
    market's region; supplier side labels whose volume it is) and a
    conditional-over-total ratio readout.

    Scale shape: the widest join in the analytics family, and still
    one pass — every dim filter (region name, part type) sits on its
    scan before its join; nation×2/region/supplier are broadcast
    (bounded dims); the orders⋈lineitem spine is the only shuffled
    fact join and the year predicate prunes it first. The share is
    numerator/denominator of two decimal-exact sums folded in the
    SAME aggregate (a CASE inside one dsum, not a second scan or a
    self-join), then ONE IEEE division of identical doubles on both
    engines — the `davg` bit-exactness pattern; Q8's classic
    formulation as two aggregates over a subquery collapses into it.
    """
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == MKT_REGION
    )
    cnation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_regionkey").alias("cn_region"),
    )
    snation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("sn_name"),
    )
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == MKT_TYPE
    )
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate").cast("long")
    ).filter(F.col("o_year").isin(1995, 1996))
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = F.expr(_REVENUE)
    return (
        customer.join(
            F.broadcast(
                cnation.join(
                    F.broadcast(region),
                    F.col("cn_region") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .join(orders, F.col("o_custkey") == F.col("c_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(
            F.broadcast(snation), F.col("sn_key") == F.col("s_nationkey")
        )
        .groupBy("o_year")
        .agg(
            (
                dsum(
                    F.when(F.col("sn_name") == MKT_NATION, rev).otherwise(0.0)
                )
                / dsum(rev)
            ).alias("mkt_share"),
            dsum(rev).alias("total_volume"),
        )
        .orderBy("o_year")
    )


#: Q17 parameters: one brand's small-quantity orders. Brand#13 + the
#: size cap is populated at every generated sf (probed before landing).
SQ_BRAND = "Brand#13"
SQ_MAX_SIZE = 25


@query(
    "analytics_small_qty_revenue",
    oracle=f"""
    WITH pavg AS (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(28,6))) AS sq,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_partkey
    )
    SELECT COUNT(*) AS n_items,
           {sql_dsum('l.l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
             AND p.p_brand = '{SQ_BRAND}' AND p.p_size <= {SQ_MAX_SIZE}
    JOIN pavg a ON a.l_partkey = l.l_partkey
    WHERE CAST(5 * a.cnt AS DECIMAL(14,0))
          * CAST(l.l_quantity AS DECIMAL(12,6)) < a.sq
    """,
)
def analytics_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue lost if small-quantity orders
    (below 20% of the part's own average order quantity) moved to a
    cheaper channel — the CORRELATED SCALAR-AVG THRESHOLD idiom:
    `l_quantity < (SELECT 0.2*AVG(l_quantity) WHERE l_partkey = p)`.

    Decorrelation discipline (same as `analytics_large_orders`): the
    per-part average is ONE grouped pre-aggregate over lineitem joined
    back on the part key — never a per-row re-execution of the inner
    query. Spark's partial aggregation combines the per-part sums
    map-side before the single shuffle; the brand/size-filtered probe
    side joins against the broadcast part dim first, so only matching
    parts reach the threshold join — and the pre-aggregate itself is
    restricted by the same broadcast part set (LEFT SEMI before the
    groupBy), so the corpus-scale shuffle carries only surviving
    parts' sums (values identical on every part the query consults).

    Exactness: the 0.2×avg comparison is restated multiplicatively —
    `5 · cnt · qty < sum_qty` — in bounded-width DECIMALs on BOTH
    engines, so the threshold never touches a division or an IEEE
    rounding; widths are chosen to stay under both engines' 38-digit
    cap ((14,0)×(12,6) → (27,6) product vs the (38,6) sum). The final
    `avg_yearly` is one identical double division (/7.0) of the
    decimal-exact revenue sum — the `davg` pattern.

    Reference parity: the reference's engine answers only its one
    COUNT query (/root/reference/spark_process_script.py:37); this is
    a capability extension named by SURVEY.md §2.3.
    """
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == SQ_BRAND) & (F.col("p_size") <= SQ_MAX_SIZE)
    ).select("p_partkey")
    lineitem = load_table(spark, sf_dir, "lineitem")
    # the threshold is only ever consulted for parts surviving the
    # brand/size filter, so pre-restrict the corpus-scale aggregate
    # with a broadcast semi-join — per-part sums for surviving parts
    # are unchanged (the oracle aggregates ALL parts; values agree on
    # every part the query reads), while the shuffle shrinks by the
    # part-filter selectivity (~25x here) at any scale
    pavg = (
        lineitem.join(
            F.broadcast(part),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(dcol("l_quantity")).alias("sq"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    probe = lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
    return (
        probe.join(F.broadcast(part), probe.l_partkey == part.p_partkey)
        .join(pavg, "l_partkey")
        .filter(
            (F.col("cnt") * 5).cast("decimal(14,0)")
            * F.col("l_quantity").cast("double").cast("decimal(12,6)")
            < F.col("sq")
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            (dsum("l_extendedprice") / 7.0).alias("avg_yearly"),
        )
    )


#: Q20 parameters: parts by name pattern, one ship year, and the
#: "dominant supplier" threshold (shipped more than half the part's
#: total) standing in for TPC-H's partsupp.ps_availqty/2 — the
#: testdata has no partsupp table.
PROMO_NAME_PAT = "%widget%"
PROMO_YEAR_LO = "1997-01-01"
PROMO_YEAR_HI = "1998-01-01"


@query(
    "analytics_part_promotion",
    oracle=f"""
    WITH sp AS (
        SELECT l_partkey, l_suppkey,
               SUM(CAST(l_quantity AS DECIMAL(28,6))) AS q
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{PROMO_YEAR_LO} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{PROMO_YEAR_HI} 00:00:00'
        GROUP BY l_partkey, l_suppkey
    ), tot AS (
        SELECT l_partkey, SUM(q) AS tq FROM sp GROUP BY l_partkey
    )
    SELECT s.s_name, n.n_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_nationkey % 2 = 0
      AND s.s_suppkey IN (
          SELECT sp.l_suppkey
          FROM sp
          JOIN tot ON tot.l_partkey = sp.l_partkey
          JOIN part p ON p.p_partkey = sp.l_partkey
                     AND p.p_name LIKE '{PROMO_NAME_PAT}'
          WHERE sp.q > tot.tq - sp.q
      )
    ORDER BY s.s_name, s.s_acctbal
    """,
)
def analytics_part_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers worth a promotion offer — the
    DOUBLE-NESTED SEMI-JOIN WITH AGGREGATE THRESHOLD idiom: suppliers
    (filtered by nation) semi-joined to the set of (part, supplier)
    pairs whose shipped quantity in the window exceeds an
    aggregate-derived threshold, itself restricted to a name-pattern
    part set. The testdata has no partsupp, so the availqty/2
    threshold is restated on lineitem itself: a supplier qualifies if
    it shipped MORE THAN HALF of the part's total windowed quantity
    (the "dominant supplier" reading — same plan shape, same
    decorrelation problem).

    Plan discipline: both aggregates are grouped pre-aggregates — the
    per-(part,supplier) sums feed a SECOND fold to per-part totals
    (vocabulary-sized input, not a second corpus scan), joined back
    and threshold-filtered; the qualifying supplier keys then drive a
    LEFT SEMI join against the broadcast-sized supplier⋈nation dim.
    No correlated re-execution anywhere; the ship-date window is
    pushed to the parquet scan. The half-share comparison is restated
    subtraction-side — q > tq − q (⇔ 2q > tq) — at the sums' NATIVE
    (38,6) width: since 0 ≤ tq − q ≤ tq, the subtraction can never
    overflow at ANY data scale, so there is no down-cast whose
    overflow behavior diverges between engines (Spark non-ANSI NULLs,
    DuckDB errors). Exact in both engines, no
    division, no multiplication.
    """
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= PROMO_YEAR_LO)
        & (F.col("l_shipdate") < PROMO_YEAR_HI)
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(PROMO_NAME_PAT)
    ).select("p_partkey")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_nationkey") % 2 == 0
    )
    sp = lineitem.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dcol("l_quantity")).alias("q")
    )
    tot = sp.groupBy("l_partkey").agg(F.sum("q").alias("tq"))
    qualifying = (
        sp.join(F.broadcast(part), sp.l_partkey == part.p_partkey)
        .join(tot, "l_partkey")
        .filter(F.col("q") > F.col("tq") - F.col("q"))
        .select("l_suppkey")
    )
    return (
        supplier.join(
            F.broadcast(nation),
            F.col("n_nationkey") == F.col("s_nationkey"),
        )
        .join(
            qualifying,
            F.col("s_suppkey") == F.col("l_suppkey"),
            "left_semi",
        )
        .select("s_name", "n_name", "s_acctbal")
        .orderBy("s_name", "s_acctbal")
    )


#: Q19 branch parameters: three (brand, max size, quantity window)
#: disjuncts — every branch proven populated at every generated sf.
DISJ_BRANCHES = (
    ("Brand#12", 15, 1, 11),
    ("Brand#23", 20, 10, 20),
    ("Brand#3", 25, 20, 30),
)


def _disj_sql() -> str:
    return " OR ".join(
        f"(p_brand = '{b}' AND p_size BETWEEN 1 AND {sz}"
        f" AND l_quantity BETWEEN {qlo} AND {qhi})"
        for b, sz, qlo, qhi in DISJ_BRANCHES
    )


@query(
    "analytics_disjunctive_revenue",
    oracle=f"""
    SELECT COUNT(*) AS n_items,
           {sql_dsum(_REVENUE)} AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE {_disj_sql()}
    """,
)
def analytics_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue over an OR-of-ANDs
    predicate spanning BOTH join sides — the disjunctive-predicate
    stress test: three (brand, size-range, quantity-window) branches
    OR'd together, each mixing part columns and lineitem columns.

    Why this shape matters at 100 TB: a naive planner treats the
    disjunction as a join condition and falls into a nested loop.
    Catalyst instead extracts the conjunctive equi-key
    (p_partkey = l_partkey) for a hash join and evaluates the
    disjunction as a post-join filter; additionally, the
    per-side implications of the OR (p_brand IN (...) with its size
    bounds on the part scan, the union quantity window on lineitem)
    are derivable via CNF conversion. The plan test asserts the join
    stays hash/broadcast (no BroadcastNestedLoopJoin, no
    CartesianProduct) — the property that survives scale-up.

    Exactness: COUNT + decimal-exact dsum of the discount revenue;
    BETWEEN bounds are integers against integer-valued doubles, so
    branch membership is exact in both engines.
    """
    part = load_table(spark, sf_dir, "part")
    lineitem = load_table(spark, sf_dir, "lineitem")
    disj = None
    for b, sz, qlo, qhi in DISJ_BRANCHES:
        branch = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(1, sz)
            & F.col("l_quantity").between(qlo, qhi)
        )
        disj = branch if disj is None else (disj | branch)
    return (
        lineitem.join(
            F.broadcast(part),
            (F.col("p_partkey") == F.col("l_partkey")) & disj,
        )
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.expr(_REVENUE)).alias("revenue"),
        )
    )


#: Q22 parameters: the "country code" pool and the recency cutoff
#: that defines a sleeping customer (no order on/after it). The
#: testdata's every customer has SOME order, so TPC-H's "never
#: ordered" anti-join is restated as "no recent order" — same plan
#: shape (anti-join against a filtered orders scan), non-vacuous at
#: every generated sf.
SLEEP_NATIONS = (1, 3, 5, 7, 9, 11, 13)
SLEEP_CUTOFF = "2000-06-01"


@query(
    "analytics_sleeping_customers",
    oracle=f"""
    WITH pool AS (
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer
        WHERE c_nationkey IN {SLEEP_NATIONS}
          AND c_acctbal > 0
    ), thr AS (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)
               / COUNT(*) AS t
        FROM pool
    )
    SELECT c_nationkey,
           COUNT(*) AS n_custs,
           {sql_dsum('c_acctbal')} AS total_acctbal
    FROM pool, thr
    WHERE c_acctbal > thr.t
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '{SLEEP_CUTOFF} 00:00:00'
      )
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def analytics_sleeping_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: high-balance customers gone quiet — the
    GLOBAL-AVG SCALAR THRESHOLD + ANTI-JOIN composition closing out
    the decorrelation family (Q17 per-group scalar, Q20 nested
    semi-join, Q21 double quantifier, Q22 global scalar + NOT
    EXISTS): positive-balance customers in a nation pool whose
    balance exceeds the pool's average and who placed no order since
    the cutoff.

    Plan discipline: the scalar average is ONE single-row aggregate
    broadcast back over the pool (never a re-scan per row — the
    `analytics_important_parts` pattern); NOT EXISTS becomes a LEFT
    ANTI join whose right side is the orders scan with the recency
    predicate PUSHED DOWN (the anti-join sees only recent orders,
    a fraction of the fact at any scale); final fold is a tiny
    per-nation aggregate. Threshold exactness: davg's decimal-exact
    sum over one IEEE division — identical doubles both engines, so
    the > cut is bit-deterministic.
    """
    pool = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(*SLEEP_NATIONS) & (F.col("c_acctbal") > 0)
    )
    thr = pool.agg(
        (dsum("c_acctbal") / F.count(F.lit(1))).alias("t")
    )
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= f"{SLEEP_CUTOFF} 00:00:00"
    ).select("o_custkey")
    return (
        pool.join(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("t"))
        .join(recent, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum("c_acctbal").alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


#: Q12 parameters: the late-shipment threshold (days past order date)
#: and the ship-year window — both proven populated at every sf.
Q12_LATE_DAYS = 60
Q12_YEAR_LO = "1996-01-01"
Q12_YEAR_HI = "1997-01-01"
HIGH_PRIORITIES = ("1-URGENT", "2-HIGH")


@query(
    "analytics_late_shipments",
    oracle=f"""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN
                         ('{HIGH_PRIORITIES[0]}', '{HIGH_PRIORITIES[1]}')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN
                         ('{HIGH_PRIORITIES[0]}', '{HIGH_PRIORITIES[1]}')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
      AND l_shipdate >= TIMESTAMP '{Q12_YEAR_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{Q12_YEAR_HI} 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def analytics_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order-priority mix of LATE shipments per line
    status — the CONDITIONAL TWO-WAY COUNT idiom (one pass, two CASE
    counters) over a join predicate that COMPARES COLUMNS FROM BOTH
    SIDES (`l_shipdate > o_orderdate + 60 days`). The testdata has no
    l_shipmode/l_commitdate, so the category is l_linestatus and
    "late" is restated against the order date — same plan shape.

    Scale shape: the ship-year window is a single-side predicate, so
    it pushes to the lineitem parquet scan and prunes BEFORE the
    shuffle; the cross-side lateness predicate cannot push (it needs
    both tables) and correctly stays a post-join filter on the one
    equi-join. Both priority counters fold in the SAME grouped
    aggregate — one pass, map-side partials, never two scans. Counts
    are exact longs (BIGINT-cast in the oracle: DuckDB SUM(int) is
    HUGEINT, which its pandas bridge would narrow to float64).

    Reference parity: the reference's one query counts rows per group
    (/root/reference/spark_process_script.py:37); this is the
    capability extension named by SURVEY.md §2.3.
    """
    high = F.col("o_orderpriority").isin(*HIGH_PRIORITIES)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lineitem = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= f"{Q12_YEAR_LO} 00:00:00")
            & (F.col("l_shipdate") < f"{Q12_YEAR_HI} 00:00:00")
        )
        .select("l_orderkey", "l_shipdate", "l_linestatus")
    )
    return (
        orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr(f"INTERVAL {Q12_LATE_DAYS} DAYS")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


#: Q14 parameters: the promo part type (an exact category in the
#: generated p_type domain — six values, no prefixes) and one ship
#: month, proven populated at every sf.
PROMO_TYPE = "PROMO"
PROMO_MONTH_LO = "1996-03-01"
PROMO_MONTH_HI = "1996-04-01"


@query(
    "analytics_promo_share",
    oracle=f"""
    SELECT CAST(SUM(CAST(CASE WHEN p_type = '{PROMO_TYPE}'
                          THEN {_REVENUE} ELSE 0 END
                          AS DECIMAL(28,6))) AS DOUBLE)
           / CAST(SUM(CAST({_REVENUE} AS DECIMAL(28,6))) AS DOUBLE)
           * 100.0 AS promo_share,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '{PROMO_MONTH_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{PROMO_MONTH_HI} 00:00:00'
    """,
)
def analytics_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: percentage of one month's revenue from promo
    parts — the CASE-RATIO readout (conditional sum over total sum,
    scaled to percent) that `analytics_market_share` uses per-group,
    here as a single global aggregate.

    Scale shape: the month window pushes to the lineitem scan
    (~1/80th of the fact survives before the join); part is the
    broadcast dim; numerator and denominator fold in ONE aggregate (a
    CASE inside the same dsum — never two scans or a self-join). Both
    sums are decimal-exact, then exactly one IEEE division and one
    multiply of identical doubles on both engines — bit-deterministic
    without any float accumulation order dependence.
    """
    rev = F.expr(_REVENUE)
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= f"{PROMO_MONTH_LO} 00:00:00")
        & (F.col("l_shipdate") < f"{PROMO_MONTH_HI} 00:00:00")
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        lineitem.join(
            F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .agg(
            (
                dsum(
                    F.when(F.col("p_type") == PROMO_TYPE, rev).otherwise(0.0)
                )
                / dsum(rev)
                * 100.0
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


#: Q15 parameters: the top-supplier revenue quarter.
TOPSUPP_LO = "1996-01-01"
TOPSUPP_HI = "1996-04-01"


@query(
    "analytics_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               {sql_dsum(_REVENUE)} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '{TOPSUPP_LO} 00:00:00'
          AND l_shipdate <  TIMESTAMP '{TOPSUPP_HI} 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def analytics_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with maximum quarterly revenue
    — the AGGREGATE-OVER-AGGREGATE scalar idiom (the classic CREATE
    VIEW revenue / WHERE total_revenue = (SELECT MAX(...) FROM view)
    formulation), keeping ALL ties like the spec's equality predicate.

    Plan discipline: the revenue view is ONE grouped pre-aggregate of
    the window-pruned lineitem scan; the scalar max is a single-row
    aggregate of that (supplier-cardinality) frame broadcast back over
    it — never a window over an unpartitioned sort (which would funnel
    every supplier row through one task at scale) and never a re-scan.
    The equality join on the revenue value is exact: both sides are
    the SAME decimal-exact double values, so max-equality is
    bit-deterministic in both engines. The supplier dim joins
    broadcast to the one surviving row group.
    """
    rev = F.expr(_REVENUE)
    lineitem = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= f"{TOPSUPP_LO} 00:00:00")
        & (F.col("l_shipdate") < f"{TOPSUPP_HI} 00:00:00")
    )
    revenue = lineitem.groupBy(
        F.col("l_suppkey").alias("supplier_no")
    ).agg(dsum(rev).alias("total_revenue"))
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name"
    )
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(
            F.broadcast(supplier),
            F.col("s_suppkey") == F.col("supplier_no"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


#: Q16 parameters: the excluded brand/type, the size list, and the
#: "complaints" stand-in (the testdata has no s_comment — low account
#: balance marks the excluded suppliers; threshold chosen so the
#: exclusion set is non-empty from sf0.01 up).
VARIETY_EXCL_BRAND = "Brand#45"
VARIETY_EXCL_TYPE = "PROMO"
VARIETY_SIZES = (1, 4, 9, 14, 19, 23, 36, 45)
VARIETY_BAL_CUT = 500.0


@query(
    "analytics_supplier_variety",
    oracle=f"""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> '{VARIETY_EXCL_BRAND}'
      AND p_type <> '{VARIETY_EXCL_TYPE}'
      AND p_size IN {VARIETY_SIZES}
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < {VARIETY_BAL_CUT}
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def analytics_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can deliver each
    (brand, type, size) bucket, excluding one brand/type, a size list,
    and a "complaints" supplier set — the COUNT-DISTINCT-PER-GROUP +
    NOT-IN idiom. The testdata has no partsupp, so the part–supplier
    relation is lineitem's (l_partkey, l_suppkey) pairs; no s_comment,
    so the excluded set is low-balance suppliers.

    Scale shape: the part predicate (brand/type/size-list) joins
    broadcast FIRST, cutting the fact by the size-list selectivity
    (8/50) before any shuffle; NOT IN becomes a LEFT ANTI join against
    the tiny filtered supplier set (broadcast — and safe for NOT IN
    semantics here because s_suppkey is a non-null key column). The
    distinct count is Spark's two-phase distinct aggregate: partial
    dedup of (group, suppkey) map-side, then one shuffle on the group
    key — never a driver-side distinct. Count BIGINT-cast on the
    oracle side as usual.
    """
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != VARIETY_EXCL_BRAND)
        & (F.col("p_type") != VARIETY_EXCL_TYPE)
        & F.col("p_size").isin(*VARIETY_SIZES)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    complaints = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < VARIETY_BAL_CUT
    ).select("s_suppkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    return (
        lineitem.join(
            F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(
            F.broadcast(complaints),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


#: Q2 parameters: one part size/type and the supplier region. The
#: partsupp stand-in derives (part, supplier, cost) from lineitem:
#: supplycost := MIN(l_extendedprice) over the pair's lines (MIN of
#: doubles is selection, not accumulation — bit-exact cross-engine
#: with no decimal detour).
MINCOST_SIZE = 15
MINCOST_TYPE = "STANDARD"
MINCOST_REGION = "EUROPE"


@query(
    "analytics_min_cost_supplier",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
        FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
        SELECT s_suppkey, s_name, s_acctbal, n_name
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = '{MINCOST_REGION}'
    ), best AS (
        SELECT ps.l_partkey, MIN(ps.supplycost) AS min_cost
        FROM ps JOIN eu ON eu.s_suppkey = ps.l_suppkey
        GROUP BY ps.l_partkey
    )
    SELECT s_acctbal, s_name, n_name, p_partkey, p_name, supplycost
    FROM ps
    JOIN eu   ON eu.s_suppkey = ps.l_suppkey
    JOIN best ON best.l_partkey = ps.l_partkey
             AND ps.supplycost = best.min_cost
    JOIN part ON p_partkey = ps.l_partkey
    WHERE p_size = {MINCOST_SIZE} AND p_type = '{MINCOST_TYPE}'
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    """,
)
def analytics_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each part of one size/type, the
    minimum-cost supplier within one region — the CORRELATED MIN
    SUBQUERY idiom (`ps_supplycost = (SELECT MIN(ps_supplycost) ...
    WHERE same part, region suppliers)`), keeping all ties. The
    testdata has no partsupp: the pair relation and its cost come
    from lineitem (supplycost := MIN price over the pair's lines).

    Decorrelation discipline (the family's standard): the per-part
    regional minimum is ONE grouped aggregate joined back on
    (partkey, cost-equality) — never a per-part re-execution. The
    corpus-scale pair aggregate is pre-restricted by BOTH broadcast
    semi-joins (the size/type part set, ~1/300 selectivity, and the
    region's supplier set, 1/5) before its shuffle — value-preserving
    because the query only ever consults pairs passing both filters
    (the oracle aggregates all pairs, then applies the same filters
    via joins; surviving pairs' MINs agree because MIN commutes with
    the row filter on the pair's OWN group). Cost equality on doubles
    is exact: MIN is selection of an input value, both engines pick
    the identical bit pattern.
    """
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == MINCOST_SIZE)
        & (F.col("p_type") == MINCOST_TYPE)
    ).select("p_partkey", "p_name")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == MINCOST_REGION
    )
    nation = load_table(spark, sf_dir, "nation")
    eu = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                nation.join(
                    F.broadcast(region),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    ps = (
        lineitem.join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(
            F.broadcast(eu.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supplycost"))
    )
    best = ps.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("supplycost").alias("min_cost")
    )
    return (
        ps.join(
            F.broadcast(best),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(eu), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
            "supplycost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


#: Q9 parameters: the part-name family whose profit is reported. The
#: partsupp stand-in derives unit supply cost from lineitem in INTEGER
#: CENTS: unitcost_cents := MIN(round(price·100) floor-div qty) over
#: the pair's lines. Pure integer algebra — the float-division form
#: (MIN(price/qty)) produced non-terminating decimals that landed
#: within an ULP of the DECIMAL(28,6) half-boundary, where Spark's
#: shortest-string and DuckDB's binary-expansion double→decimal casts
#: disagree (caught by the sf0.001/sf0.1 strict sweeps; sf0.01 passed
#: by luck — the same class of drift text_tfidf's log table fixed).
PROFIT_NAME_PAT = "%gear%"


@query(
    "analytics_nation_profit",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey, l_suppkey,
               MIN(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                   // CAST(l_quantity AS BIGINT)) AS unitcost_cents
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)'
                     ' - CAST(ps.unitcost_cents'
                     ' * CAST(l.l_quantity AS BIGINT) AS DOUBLE) / 100.0')}
               AS profit
    FROM lineitem l
    JOIN part     ON p_partkey = l.l_partkey
                 AND p_name LIKE '{PROFIT_NAME_PAT}'
    JOIN supplier ON s_suppkey = l.l_suppkey
    JOIN nation   ON n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l.l_orderkey
    JOIN ps       ON ps.l_partkey = l.l_partkey
                 AND ps.l_suppkey = l.l_suppkey
    GROUP BY n_name, EXTRACT(year FROM o_orderdate)
    ORDER BY n_name, o_year
    """,
)
def analytics_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product family per supplier nation
    and order year — the LINE-LEVEL COST ATTRIBUTION idiom (revenue
    minus `ps_supplycost · l_quantity`, grouped by the supplier's
    nation and the order's year). The testdata has no partsupp, so
    unit cost is the pair's cheapest observed unit price, derived in
    integer cents (see the parameter note above on WHY integer: the
    IEEE-division form drifted a final ULP at the decimal cast).

    Scale shape: the cost table is ONE grouped pre-aggregate over
    lineitem — pre-restricted by a broadcast semi-join on the
    name-filtered part set (value-preserving: the query only consults
    pairs of surviving parts, and MIN commutes with filtering the
    pair's own group) — joined back on the pair key; part (name
    pattern), supplier, and nation broadcast; orders⋈lineitem is the
    one large fact join. Exactness: unit cost is integer cents
    (round-to-cents is unambiguous — prices carry 2-decimal content,
    so price·100 sits within 1e-9 of an integer, never near a tie;
    floor-div of positive BIGINTs agrees between Spark's `div` and
    DuckDB's `//`); the cents·qty product stays integer (≤5e8, no
    overflow), one exact /100.0 division and the subtraction are IEEE
    ops on identical doubles; the per-group fold is decimal-exact
    dsum of summands with terminating ≤4-decimal content.
    """
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like(PROFIT_NAME_PAT)
    ).select("p_partkey")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ps = (
        lineitem.join(
            F.broadcast(part),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(
            F.min(
                F.expr(
                    "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"
                    " div CAST(l_quantity AS BIGINT)"
                )
            ).alias("unitcost_cents")
        )
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    profit_expr = (
        F.expr(_REVENUE)
        - (
            F.col("unitcost_cents") * F.col("l_quantity").cast("bigint")
        ).cast("double")
        / 100.0
    )
    return (
        lineitem.join(
            F.broadcast(part), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(
            F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey")
        )
        .join(
            F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey")
        )
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            ps,
            (F.col("ps_partkey") == F.col("l_partkey"))
            & (F.col("ps_suppkey") == F.col("l_suppkey")),
        )
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(dsum(profit_expr).alias("profit"))
        .orderBy("nation", "o_year")
    )


#: Q4 parameters: the order-date quarter; "late line" reuses the Q21
#: lateness threshold (l_shipdate > o_orderdate + LATE_DAYS, the
#: testdata's stand-in for commitdate < receiptdate).
PRIO_QTR_LO = "1996-07-01"
PRIO_QTR_HI = "1996-10-01"


@query(
    "analytics_priority_orders",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{PRIO_QTR_LO} 00:00:00'
      AND o_orderdate <  TIMESTAMP '{PRIO_QTR_HI} 00:00:00'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey
            AND l_shipdate > o_orderdate + INTERVAL {LATE_DAYS} DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def analytics_priority_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders per priority that had at least one late
    line in a quarter — the CORRELATED EXISTS WITH CROSS-SIDE
    INEQUALITY idiom: the inner predicate compares an inner column to
    an OUTER column (`l_shipdate > o_orderdate + 90 days` — Q21's
    LATE_DAYS threshold, not Q12's 60), so the
    decorrelation must carry the inequality into the semi-join
    condition, not just the key.

    Plan discipline: LEFT SEMI join on the order key with the
    lateness inequality as a residual join condition — each order is
    emitted at most once however many late lines it has (EXISTS
    semantics for free, no post-join distinct); the quarter window
    pushes to the orders scan, cutting the probe side ~20× before
    the join. One grouped count after. Counts are exact longs
    (COUNT(*) is BIGINT in both engines).
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= f"{PRIO_QTR_LO} 00:00:00")
        & (F.col("o_orderdate") < f"{PRIO_QTR_HI} 00:00:00")
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    lineitem = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    return (
        orders.join(
            lineitem,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr(f"INTERVAL {LATE_DAYS} DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


#: Q6 parameters: ship year, discount band, quantity cap. The 0.05 /
#: 0.07 literals are spelled identically in Spark and SQL — both
#: parsers bind the same doubles, so the BETWEEN cut is
#: bit-deterministic.
FC_YEAR_LO = "1996-01-01"
FC_YEAR_HI = "1997-01-01"
FC_DISC_LO = "0.05"
FC_DISC_HI = "0.07"
FC_QTY_CAP = 24


@query(
    "analytics_forecast_revenue",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount')} AS revenue_delta,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{FC_YEAR_LO} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{FC_YEAR_HI} 00:00:00'
      AND l_discount BETWEEN {FC_DISC_LO} AND {FC_DISC_HI}
      AND l_quantity < {FC_QTY_CAP}
    """,
)
def analytics_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue gained if mid-band discounts on small
    orders had not been granted — the FULLY-PUSHED SINGLE-SCAN
    AGGREGATE: every predicate is a single-column comparison, so the
    entire WHERE clause reaches the parquet reader as pushed filters
    and the plan is scan → one partial+final aggregate. No joins, no
    shuffle beyond the single-row final fold.

    At 100 TB this is the shape that proves the scan path: with
    min/max row-group statistics the ship-year window skips ~6/7 of
    the row groups outright; the aggregate itself is
    whole-stage-codegen'd JVM arithmetic with a decimal-exact fold.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= f"{FC_YEAR_LO} 00:00:00")
            & (F.col("l_shipdate") < f"{FC_YEAR_HI} 00:00:00")
            & (F.col("l_discount") >= float(FC_DISC_LO))
            & (F.col("l_discount") <= float(FC_DISC_HI))
            & (F.col("l_quantity") < FC_QTY_CAP)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "revenue_delta"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
