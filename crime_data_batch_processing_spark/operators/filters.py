"""Filter / predicate operators.

Reference capability: O6 — a single case-sensitive string-equality
predicate `WHERE arrest='False'`
(/root/reference/spark_process_script.py:37). Generalized here to the
full predicate algebra (AND/OR/NOT, range, IN, NULL tests).

Scale notes: every predicate below is a Catalyst expression, so it
participates in predicate pushdown — `.explain("formatted")` shows it
in `PushedFilters` on the parquet scan, meaning row groups whose
min/max statistics exclude the predicate are never read. At 100 TB
that is the difference between scanning terabytes and scanning
gigabytes; never wrap a filter in a Python UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.functions.exact import dsum, with_scalars
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    local_frame,
)


@query(
    "filter_eq",
    oracle="SELECT * FROM orders WHERE o_orderstatus = 'F'",
)
def filter_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-sensitive string equality (O6 semantics).

    Same shape as the reference's `arrest='False'`
    (spark_process_script.py:37): equality on a categorical string
    column; NULL and case-variant rows are excluded, per ANSI
    three-valued logic.
    """
    return load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")


#: Knuth multiplicative-hash constants: 64-bit products taken mod 2^32
#: mix the high bits, so the kept keys are scattered, not striped.
SAMPLE_A = 2654435761
SAMPLE_M = 1 << 32
SAMPLE_KEEP = SAMPLE_M // 10  # 10% sample


def sample_hash32(key: F.Column) -> F.Column:
    """(key · SAMPLE_A) mod 2^32 without int64 overflow.

    The naive product overflows int64 for keys above ~3.47e9 — Spark
    (non-ANSI) would wrap silently while DuckDB raises, breaking
    cross-engine determinism exactly at the key ranges a 100 TB table
    reaches. Splitting the reduced key into 16-bit halves keeps every
    intermediate below 2^48:

        k = key mod 2^32;  k = hi·2^16 + lo
        h = ((hi·A mod 2^16)·2^16 + lo·A) mod 2^32  ==  k·A mod 2^32

    Identical to the naive form wherever it didn't overflow, so the
    sampled row set is unchanged. Keys are non-negative ids (both
    engines agree on % for those).
    """
    k = key.cast("long") % SAMPLE_M
    hi = F.shiftrightunsigned(k, 16)
    lo = k.bitwiseAND(F.lit(65535).cast("long"))
    return ((hi * SAMPLE_A) % 65536 * 65536 + lo * SAMPLE_A) % SAMPLE_M


def sql_sample_hash32(expr: str) -> str:
    """DuckDB rendering of :func:`sample_hash32` (same algebra)."""
    k = f"(({expr}) % {SAMPLE_M})"
    return (
        f"((({k} >> 16) * {SAMPLE_A}) % 65536 * 65536"
        f" + ({k} & 65535) * {SAMPLE_A}) % {SAMPLE_M}"
    )


@query(
    "sample_hash",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE {sql_sample_hash32('o_orderkey')} < {SAMPLE_KEEP}
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% hash sample keyed on the primary key.

    `df.sample()` draws from a per-partition RNG — the row set changes
    with partition layout, which breaks re-runs, oracle comparison,
    and (at 100 TB) any join between two independently sampled tables.
    A multiplicative hash on the key gives the same sample on every
    engine, every run, and every partitioning, and lets two tables be
    co-sampled consistently (sample orders and lineitem by orderkey →
    the join of the samples IS the sample of the join). Pure int64
    arithmetic, stays inside whole-stage codegen.
    """
    keep = sample_hash32(F.col("o_orderkey")) < SAMPLE_KEEP
    return (
        load_table(spark, sf_dir, "orders")
        .filter(keep)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    "filter_compound",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal, c_mktsegment
    FROM customer
    WHERE (c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
           OR c_acctbal BETWEEN 1000.0 AND 5000.0)
      AND NOT c_name LIKE '%7'
      AND c_nationkey IS NOT NULL
    """,
)
def filter_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: AND/OR/NOT, IN, BETWEEN, LIKE, NULL test."""
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        (
            F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
            | F.col("c_acctbal").between(1000.0, 5000.0)
        )
        & ~F.col("c_name").like("%7")
        & F.col("c_nationkey").isNotNull()
    ).select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")


#: Per-stratum keep fractions, in units of SAMPLE_M. The shape every
#: training-data pipeline needs: head-heavy classes downsampled hard,
#: rare classes kept whole.
STRATA_KEEP = {
    "view": SAMPLE_M // 10,       # 10%
    "click": SAMPLE_M // 4,       # 25%
    "error": SAMPLE_M // 2,       # 50%
    "purchase": SAMPLE_M,         # keep all
    "signup": SAMPLE_M,           # keep all
}

_SQL_STRATA_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in STRATA_KEEP.items()
)


@query(
    "sample_stratified",
    oracle=f"""
    SELECT event_id, event_type, user_id, value
    FROM events
    WHERE {sql_sample_hash32('event_id')}
          < CASE event_type {_SQL_STRATA_CASE} ELSE 0 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: a different keep-rate per
    stratum, decided by the same multiplicative hash as `sample_hash`.

    This is class rebalancing for training data — downsample the
    head (views to 10%, clicks to 25%) while keeping every rare
    example — done as a pure filter: no shuffle, no `sampleBy` RNG
    (whose row set changes with partition layout), fully pushdown-
    eligible, and reproducible across engines and runs. Because the
    hash is keyed on event_id, re-running on a grown table keeps
    every previously-kept row — the sample only ever extends, which
    makes downstream caches and dedup state reusable at 100 TB.
    """
    threshold = F.lit(0)
    for k, v in STRATA_KEEP.items():
        threshold = F.when(F.col("event_type") == k, F.lit(v)).otherwise(threshold)
    keep = sample_hash32(F.col("event_id")) < threshold
    return (
        load_table(spark, sf_dir, "events")
        .filter(keep)
        .select("event_id", "event_type", "user_id", "value")
    )


#: Target language mixture in basis points (sums to 10000) and the
#: overall sampling budget: the output should be ~3/10 of the corpus,
#: distributed across languages per the weights (English-heavy corpora
#: get downsampled toward the target; scarce languages keep everything
#: they have — the `LEAST(10000, ...)` cap).
MIXTURE_BP = {"en": 4000, "de": 1500, "es": 1500, "fr": 1500, "zh": 1500}
MIXTURE_BUDGET_NUM, MIXTURE_BUDGET_DEN = 3, 10


def mixture_sample(docs: DataFrame) -> DataFrame:
    """The mixture-rate stage over a (doc_id, lang) frame: per-lang
    keep thresholds computed from the frame's own counts, then the
    hash-keep filter, as (doc_id, lang) rows.

    rate = min(1, budget·weight / observed), so over-represented
    strata are cut to the target and under-represented ones keep all
    rows. Two passes: a tiny per-stratum count aggregate (broadcast
    back onto the frame), then the same deterministic
    multiplicative-hash keep decision as `sample_hash` — re-runnable,
    partition-layout-independent, co-samplable with any other table
    keyed the same way. All rate math is int64 (basis points,
    truncating division — Spark `div` and DuckDB `//` agree on
    non-negatives), so thresholds are bit-identical cross-engine;
    bounds: 10^4 · budget < 2^63 keeps every intermediate exact past
    10^14-row corpora.
    """
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    w_bp = F.coalesce(
        *[
            F.when(F.col("lang") == k, F.lit(v))
            for k, v in MIXTURE_BP.items()
        ],
        F.lit(0),
    ).cast("long")
    rates = (
        with_scalars(counts, total)
        .withColumn("w_bp", w_bp)
        .withColumn(
            "thr",
            F.expr(
                f"{SAMPLE_M}L * least(10000L, "
                f"10000L * ((total * {MIXTURE_BUDGET_NUM} "
                f"div {MIXTURE_BUDGET_DEN}) * w_bp div 10000) "
                f"div cnt) div 10000"
            ),
        )
        .select("lang", "thr")
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(sample_hash32(F.col("doc_id")) < F.col("thr"))
        .select("doc_id", "lang")
    )


def sql_mixture_sample(source: str) -> str:
    """The SQL twin of `mixture_sample` over a `{source}(doc_id, lang)`
    relation: the `counts`, `tot` and `rates` CTEs plus the final
    SELECT."""
    case = " ".join(f"WHEN '{k}' THEN {v}" for k, v in MIXTURE_BP.items())
    return f"""counts AS (
        SELECT lang, COUNT(*) AS cnt FROM {source} GROUP BY lang
    ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts
    ), rates AS (
        SELECT lang,
               {SAMPLE_M} * LEAST(10000,
                   10000 * ((total * {MIXTURE_BUDGET_NUM}
                             // {MIXTURE_BUDGET_DEN})
                            * (CASE lang {case} ELSE 0 END)
                            // 10000)
                   // cnt) // 10000 AS thr
        FROM counts, tot
    )
    SELECT d.doc_id, d.lang
    FROM {source} d JOIN rates r ON d.lang = r.lang
    WHERE {sql_sample_hash32('d.doc_id')} < r.thr"""


@query("sample_mixture", oracle=f"WITH {sql_mixture_sample('documents')}")
def sample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-targeted sampling: hit a TARGET language mix, not fixed
    per-stratum rates (`sample_stratified` is the fixed-rate cousin).
    The domain/language-rebalancing pass of a pretraining pipeline,
    over the whole corpus (`mixture_sample`)."""
    return mixture_sample(load_table(spark, sf_dir, "documents"))


#: Exact-size deterministic sample: the BOTTOM_K smallest hash values.
BOTTOM_K = 1000


@query(
    "sample_bottomk",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_totalprice,
           {sql_sample_hash32('o_orderkey')} AS h
    FROM orders
    ORDER BY h ASC, o_orderkey ASC
    LIMIT {BOTTOM_K}
    """,
)
def sample_bottomk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n deterministic sample: bottom-k by the multiplicative
    hash — `sample_hash`'s rate knob replaced with a size knob.

    A rate-based sample of a growing table grows with it; evaluation
    sets, debugging slices, and progressive pipelines want "exactly
    1000 rows, the SAME 1000 every run" no matter how the table grows
    or repartitions. Bottom-k over a deterministic key hash gives
    that: the plan is TakeOrderedAndProject (per-partition local
    top-k + merge of k rows per partition, no global sort), and
    because smaller tables' bottom-k is a subset of larger tables'
    candidate set under the same hash, the selection is stable as
    data arrives. Ties (hash collisions) break on the key, so the
    sample is a total-order prefix — identical in both engines.
    """
    h = sample_hash32(F.col("o_orderkey"))
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", h.alias("h"))
        .orderBy(F.col("h").asc(), F.col("o_orderkey").asc())
        .limit(BOTTOM_K)
    )


#: Split boundaries in units of SAMPLE_M: [0,80%) train, [80,90%) val,
#: [90,100%) test — disjoint and exhaustive by construction.
SPLIT_TRAIN_HI = SAMPLE_M * 8 // 10
SPLIT_VAL_HI = SAMPLE_M * 9 // 10


@query(
    "sample_split",
    oracle=f"""
    SELECT CASE WHEN h < {SPLIT_TRAIN_HI} THEN 'train'
                WHEN h < {SPLIT_VAL_HI} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)
               AS sum_price
    FROM (SELECT o_totalprice,
                 {sql_sample_hash32('o_orderkey')} AS h
          FROM orders)
    GROUP BY 1
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by key hash.

    The split every training pipeline needs, with the property
    `df.randomSplit` cannot give: membership is a pure function of
    the PRIMARY KEY, so it survives reruns, repartitioning, engine
    changes, and incremental data arrival (a row never migrates
    between splits when the table grows — no eval-set contamination).
    Same multiplicative hash as `sample_hash`, so co-keyed tables
    (orders + lineitem by orderkey) land on the SAME side of the
    split and can be joined within a split without leakage.

    One scan, one map-side-combined aggregation over 3 groups; the
    per-split decimal-exact totals are the checksum a pipeline stores
    to prove two runs produced identical splits.
    """
    h = sample_hash32(F.col("o_orderkey"))
    split = (
        F.when(h < SPLIT_TRAIN_HI, "train")
        .when(h < SPLIT_VAL_HI, "val")
        .otherwise("test")
    )
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(split.alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            dsum("o_totalprice").alias("sum_price"),
        )
    )


#: Temperature sampling: target share ∝ count^ALPHA with ALPHA = 1/2,
#: so the share is sqrt(count) — a correctly-rounded IEEE op both
#: engines agree on bit-for-bit (libm pow would not be). Budget is
#: half the corpus.
TEMP_BUDGET_DEN = 2


@query(
    "sample_temperature",
    oracle=f"""
    WITH counts AS (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
    ), s AS (
        SELECT lang, cnt, sqrt(CAST(cnt AS DOUBLE)) AS sv FROM counts
    ), tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) // {TEMP_BUDGET_DEN} AS b,
               list_reduce(list(sv ORDER BY lang), (a, x) -> a + x) AS ssum
        FROM s
    ), rates AS (
        SELECT lang,
               CAST(floor({SAMPLE_M} * LEAST(1.0,
                   (CAST(b AS DOUBLE) * (sv / ssum))
                       / CAST(cnt AS DOUBLE))) AS BIGINT) AS thr
        FROM s, tot
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {sql_sample_hash32('d.doc_id')} < r.thr
    """,
)
def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha) sampling — the multilingual rebalance rule
    LM pipelines use (mC4/XLM-R): keep-rate makes each stratum's share
    proportional to count^alpha, softening head-language dominance
    without flattening to uniform. `sample_mixture` hits EXPLICIT
    target shares; this derives the shares from the data itself.

    alpha = 1/2, deliberately: count^0.5 is `sqrt`, an IEEE
    correctly-rounded op identical in Spark and DuckDB, where a
    general `pow` is a libm call with no cross-engine guarantee. The
    share denominator folds the per-stratum sqrts in sorted-lang
    order via an explicit array fold — fixed association, so the sum
    is the same double everywhere; every other step is integer or a
    shared expression tree. The keep decision is the engine's
    standard multiplicative-hash threshold: deterministic,
    partition-independent, co-samplable.

    Cost: one tiny stratum-count aggregate folded to ONE broadcast
    rate row per stratum, then a map-only filtered scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
    s = counts.select(
        "lang", "cnt", F.sqrt(F.col("cnt").cast("double")).alias("sv")
    )
    tot = s.agg(
        (F.sum("cnt").cast("long") / F.lit(TEMP_BUDGET_DEN))
        .cast("long")
        .alias("b"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "sv"))),
                lambda x: x["sv"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("ssum"),
    )
    rates = (
        with_scalars(s, tot)
        .select(
            "lang",
            F.floor(
                F.lit(float(SAMPLE_M))
                * F.least(
                    F.lit(1.0),
                    (F.col("b").cast("double") * (F.col("sv") / F.col("ssum")))
                    / F.col("cnt").cast("double"),
                )
            ).cast("long").alias("thr"),
        )
    )
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(sample_hash32(F.col("doc_id")) < F.col("thr"))
        .select("doc_id", "lang")
    )


#: Efraimidis–Spirtes weighted sample: exact size + u-quantization.
ES_K = 100
ES_U_BITS = 12
ES_U_DOM = 1 << ES_U_BITS  # 4096 u-buckets from the hash's TOP bits


@query(
    "sample_weighted",
    oracle=f"""
    SELECT doc_id, lang, n_chars,
           ln((({sql_sample_hash32('doc_id')} >> {32 - ES_U_BITS}) + 0.5)
              / {ES_U_DOM}.0) / n_chars AS es_key
    FROM documents
    ORDER BY es_key DESC, doc_id ASC
    LIMIT {ES_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k WEIGHTED sample without replacement (weight =
    n_chars), via the Efraimidis–Spirtes exponential-key trick: draw
    u_i ~ Uniform(0,1] per row, rank by u_i^(1/w_i), keep the top k —
    provably a weighted sample without replacement, in ONE pass with
    no sequential state. The family's missing rung: `sample_hash` is
    a rate knob, `sample_bottomk` a size knob, both UNIFORM; training
    mixtures usually want size-k biased by length/quality/score.

    Determinism (no RNG): u comes from the engine's multiplicative
    key hash — the TOP ES_U_BITS bits (the well-mixed ones; a
    multiplicative hash's low bits are striped), so u_i =
    (h_top + 0.5)/4096 ∈ (0,1) is a pure function of doc_id, stable
    across runs, partitionings, and engines, like every sample_* key.
    The interval is OPEN at both ends on purpose: mapping the top
    bucket to u=1 would make ln(u)=0 — the global maximum — for
    every doc in that bucket REGARDLESS of weight, so once the
    corpus exceeds ~ES_K*4096 docs all k winners would come from
    bucket 4095 tie-broken by doc_id, a weight-blind sample.
    Efraimidis–Spirtes requires u in (0,1); the half-bucket offset
    keeps every u strictly inside it.

    Bit-exactness: rank by the monotone-equivalent ln(u)/w rather
    than u^(1/w) — `pow` is a libm call with no cross-engine
    guarantee (the `sample_temperature` docstring's rule). ln(u) is
    looked up from a CONSTANT 4096-entry table computed with driver
    Python's glibc `math.log` (= DuckDB's ln; the `text_tfidf`
    log-table discipline, here with zero collect — the domain is
    fixed, not data-dependent) over arguments that are exact doubles
    ((h+0.5)/2^12: power-of-two division). The final ln(u)/w is one
    IEEE double division of identical operands on both engines; ties
    (same u-bucket, same weight) break on doc_id, a total order.

    Scale shape: map-only scan → broadcast join against the CONSTANT
    4096-row table → TakeOrderedAndProject (per-partition top-k heap
    + k-row merge at the driver; no global sort, no shuffle of the
    corpus). At 100 TB the cost is one pass over (doc_id, lang,
    n_chars) — three pruned columns — plus k rows of driver traffic.
    """
    import math

    lnu_table = local_frame(
        spark,
        [(b, math.log((b + 0.5) / ES_U_DOM)) for b in range(ES_U_DOM)],
        "ub bigint, lnu double",
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "n_chars",
        F.shiftrightunsigned(
            sample_hash32(F.col("doc_id")), 32 - ES_U_BITS
        ).alias("ub"),
    )
    return (
        docs.join(F.broadcast(lnu_table), "ub")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("lnu") / F.col("n_chars")).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), F.col("doc_id").asc())
        .limit(ES_K)
    )
