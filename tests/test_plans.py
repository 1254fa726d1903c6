"""Plan-quality assertions — the 100 TB sanity checks.

Correctness says the answer is right; these say the *plan* is right:
filters reach the parquet scan, projections prune columns, small
dimensions broadcast. A query that passes the oracle but fails these
would fall over at scale.
"""

from __future__ import annotations

from crime_data_batch_processing_spark import registry
from crime_data_batch_processing_spark.plans import (
    has_pushed_filters,
    scan_read_schema,
)
from crime_data_batch_processing_spark.session import scoped_conf

registry.load_all_operators()


def test_filter_eq_pushes_down(spark, sf_dir):
    df = registry.QUERIES["filter_eq"](spark, sf_dir)
    assert has_pushed_filters(df), "equality predicate must reach the parquet scan"


def test_flagship_prunes_columns(spark, sf_dir):
    df = registry.QUERIES["agg_count_filter"](spark, sf_dir)
    schemas = scan_read_schema(df)
    assert schemas, "expected a file scan in the plan"
    # Only the group key + filter column should be read; never all 6
    # orders columns for a 2-column query.
    assert all(
        "o_totalprice" not in s and "o_orderdate" not in s for s in schemas
    ), f"column pruning failed: {schemas}"


def test_flagship_pushes_filter(spark, sf_dir):
    df = registry.QUERIES["agg_count_filter"](spark, sf_dir)
    assert has_pushed_filters(df)


def test_dimension_joins_broadcast(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["join_broadcast"](spark, sf_dir)
    assert uses_broadcast_join(df), "5/25-row dims must be broadcast, never shuffled"


def test_sort_limit_is_take_ordered(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["sort_limit"](spark, sf_dir)
    assert "TakeOrderedAndProject" in physical_plan(df), (
        "ORDER BY + LIMIT must plan as top-k, not a global sort"
    )


def test_tfidf_broadcasts_df_table(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["text_tfidf"](spark, sf_dir)
    assert uses_broadcast_join(df), (
        "vocabulary-sized document-frequency table must broadcast"
    )


def test_sim_search_broadcasts_queries(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["sim_search"](spark, sf_dir)
    assert uses_broadcast_join(df), "the small query set must broadcast"


def test_no_row_at_a_time_python_udfs(spark, sf_dir):
    """Python appears in plans ONLY as Arrow-vectorized nodes
    (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) — never
    row-at-a-time BatchEvalPython, which serializes per row and is
    banned from this engine's hot paths."""
    from crime_data_batch_processing_spark.plans import physical_plan

    streaming_keys = {"stream_events", "stream_stateful"}  # memory-sink tables
    offenders = []
    for key, fn in sorted(registry.QUERIES.items()):
        if key in streaming_keys:
            continue
        plan = physical_plan(fn(spark, sf_dir))
        if "BatchEvalPython" in plan:
            offenders.append(key)
    assert not offenders, f"row-at-a-time Python UDFs in: {offenders}"


def test_pivot_is_single_aggregate(spark, sf_dir):
    """Explicit pivot values → exactly one aggregate pass over the
    fact table (no distinct-values pre-job materialized in the plan)."""
    from crime_data_batch_processing_spark.plans import scan_read_schema

    df = registry.QUERIES["pivot_wide"](spark, sf_dir)
    scans = scan_read_schema(df)
    assert len(scans) == 1, f"expected one lineitem scan, got {scans}"


def test_bucketed_join_has_no_join_exchange(spark, sf_dir):
    """The whole point of bucketing: the join itself must not shuffle.
    Broadcast is disabled so Catalyst can't sidestep the check by
    broadcasting the (locally tiny) dimension — at scale both sides
    are big and the bucketed sort-merge path is what matters. The
    only Exchange in the plan is the final groupBy's."""
    from crime_data_batch_processing_spark.plans import count_nodes, physical_plan

    with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        df = registry.QUERIES["join_bucketed"](spark, sf_dir)
        plan = physical_plan(df)
        assert "SortMergeJoin" in plan, plan
        n = count_nodes(df, "Exchange")
        assert n <= 1, f"expected only the aggregate's shuffle, found {n}"


def test_cdc_upsert_single_shuffle(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import count_nodes

    df = registry.QUERIES["cdc_upsert"](spark, sf_dir)
    assert count_nodes(df, "Exchange") == 1, (
        "latest-per-key must shuffle exactly once (on the key)"
    )


def test_subquery_exists_plans_as_anti_join(spark, sf_dir):
    """Catalyst must decorrelate NOT EXISTS into a left-anti join —
    never a per-row re-execution or a nested loop over the full
    inner table."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["subquery_exists"](spark, sf_dir))
    assert "LeftAnti" in plan, plan


def test_subquery_in_plans_as_semi_join(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["subquery_in"](spark, sf_dir))
    assert "LeftSemi" in plan, plan


def test_subquery_scalar_aggregates_inner_once(spark, sf_dir):
    """The correlated scalar subquery must become ONE grouped
    aggregate over the inner table joined back — O(|inner|), not
    O(|outer|·|inner|) re-execution."""
    from crime_data_batch_processing_spark.plans import count_nodes, physical_plan

    df = registry.QUERIES["subquery_scalar"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Join" in plan, plan
    # partial+final of a single aggregate, not one aggregate per row
    assert count_nodes(df, "HashAggregate") <= 2, plan


def test_grouping_sets_single_expand(spark, sf_dir):
    """Three grouping sets must cost one Expand + one aggregate, not
    three scans unioned."""
    from crime_data_batch_processing_spark.plans import count_nodes

    df = registry.QUERIES["agg_grouping_sets"](spark, sf_dir)
    assert count_nodes(df, "Expand") == 1
    assert count_nodes(df, "Scan parquet") == 1


def test_sample_hash_stays_in_codegen(spark, sf_dir):
    """The hash-sample predicate is pure integer arithmetic — it must
    evaluate inside whole-stage codegen, not fall back to an
    interpreted filter or a Python UDF."""
    import re

    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["sample_hash"](spark, sf_dir))
    # the `*` prefix marks a node inside a whole-stage-codegen span
    assert re.search(r"\* Filter", plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_broadcasts_centroids_and_probes(spark, sf_dir):
    """IVF routing must broadcast the tiny centroid/probe sides —
    a shuffle there would dwarf the work it saves."""
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["sim_search_ivf"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_salted_join_joins_on_salt(spark, sf_dir):
    """The salted join must actually key on (event_type, salt) — if a
    rewrite ever drops the salt from the join condition, the operator
    silently degrades back to the skewed single-key join."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["join_salted"](spark, sf_dir))
    assert "salt" in plan, plan
    # the replicated DIM must be the broadcast build side — without
    # the explicit hint Catalyst broadcasts the fact at test scale,
    # which inverts at 100 TB
    assert "BuildRight" in plan, plan


def test_bottomk_sample_is_take_ordered(spark, sf_dir):
    """Exactly-n sampling must plan as top-k (per-partition bottom-k +
    k-row merge), never a global sort of the table."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["sample_bottomk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_is_broadcast_topk(spark, sf_dir):
    """The Efraimidis–Spirtes sample must plan as a broadcast join
    against the CONSTANT 4096-row ln(u) table plus a top-k — never a
    shuffle of the corpus or a global sort. The only Exchange allowed
    is the BroadcastExchange feeding the table side."""
    import re

    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["sample_weighted"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    exchanges = re.findall(r"\b(\w*Exchange)\b", plan)
    assert set(exchanges) <= {"BroadcastExchange"}, plan


def test_weighted_sample_favors_heavy_rows(spark, sf_dir):
    """Weightedness invariant: with weight = n_chars, the sampled
    mean length must exceed the corpus mean (the whole point of the
    exponential-key trick vs the uniform sample_* keys)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_mean = docs.agg(F.avg("n_chars")).first()[0]
    sample = registry.QUERIES["sample_weighted"](spark, sf_dir)
    sample_mean = sample.agg(F.avg("n_chars")).first()[0]
    assert sample_mean > corpus_mean, (
        f"weighted sample mean {sample_mean} should exceed corpus "
        f"mean {corpus_mean}"
    )


def test_weighted_sample_u_interval_is_open(spark, sf_dir):
    """Regression (r10 advisor): u must lie strictly inside (0,1).
    Mapping the top hash bucket to u=1 makes ln(u)=0 — the global
    maximum regardless of weight — so past ~ES_K*4096 docs every
    winner would come from that one bucket, a weight-blind sample.
    With the half-bucket offset every es_key = ln(u)/w is strictly
    negative; es_key == 0.0 can only mean u=1 leaked back in."""
    from pyspark.sql import functions as F

    sample = registry.QUERIES["sample_weighted"](spark, sf_dir)
    max_key = sample.agg(F.max("es_key")).first()[0]
    assert max_key < 0.0, (
        f"max es_key {max_key} must be strictly negative — a zero "
        "means some u-bucket mapped to u=1 (weight-blind winners)"
    )


def test_stratified_sample_stays_in_codegen(spark, sf_dir):
    """Per-stratum thresholds compile to a CASE inside the same
    codegen'd filter as the hash — no UDF, no extra stage."""
    import re

    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["sample_stratified"](spark, sf_dir))
    assert re.search(r"\* Filter", plan), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scan_jdbc_reads_in_stride_partitions(spark, sf_dir):
    """The JDBC scan must plan JDBC_PARTITIONS parallel stride tasks —
    one task pulling the whole table is the reference's scalability
    gap (spark_ingest_script.py:59) this reader exists to fix."""
    from crime_data_batch_processing_spark.operators.scans import JDBC_PARTITIONS

    df = registry.QUERIES["scan_jdbc"](spark, sf_dir)
    assert df.rdd.getNumPartitions() == JDBC_PARTITIONS


def test_spread_skips_shuffle_on_presplit_input(spark, sf_dir):
    """spread() exists to parallelize single-split local inputs; on an
    input already split across the cluster it must be a no-op — an
    unconditional repartition would insert a full-corpus Exchange."""
    from crime_data_batch_processing_spark.sources.tables import (
        load_table,
        spread,
    )

    cores = spark.sparkContext.defaultParallelism
    presplit = load_table(spark, sf_dir, "documents").repartition(cores)
    assert spread(presplit, spark) is presplit

    single = load_table(spark, sf_dir, "documents").coalesce(1)
    assert spread(single, spark).rdd.getNumPartitions() == cores


def test_range_join_avoids_nested_loop(spark, sf_dir):
    """The bucketized range join must plan as a hash/sort-merge join
    on the bucket key — the naive pure-range predicate would force
    BroadcastNestedLoop (quadratic fact-to-fact at scale)."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["join_range_bucketed"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_aqe_splits_skewed_join_without_salting(spark, sf_dir):
    """join_salted proves MANUAL skew handling; this proves the runtime
    alternative: on the same hot-key shape, AQE's OptimizeSkewedJoin
    must split the oversized shuffle partition — final adaptive plan
    shows SortMergeJoin(skew=true) over a skewed AQEShuffleRead — with
    no salting code at all. Thresholds are testdata-scaled (shuffle
    partitions here are KBs, not the 256 MB production default)."""
    from crime_data_batch_processing_spark.operators.scale_patterns import (
        _AQE_SKEW_TEST_CONF,
        skewed_type_join,
    )

    with scoped_conf(spark, _AQE_SKEW_TEST_CONF):
        df = skewed_type_join(spark, sf_dir)
        df.collect()  # AQE decides at runtime; must materialize first
        final = df._jdf.queryExecution().executedPlan().toString()
    assert "skew=true" in final, final
    assert "skewed" in final, final  # the AQEShuffleRead carries splits


def test_bloom_filter_injected_into_fact_scan(spark, sf_dir):
    """Runtime row-level filtering must engage: the executed plan
    carries a `bloom_filter_agg` built from the filtered orders side
    and a `might_contain` predicate on the lineitem side, so
    non-joining fact rows die at the scan, not after the shuffle."""
    from crime_data_batch_processing_spark.operators.scale_patterns import (
        _BLOOM_TEST_CONF,
        bloom_gated_join,
    )

    with scoped_conf(spark, _BLOOM_TEST_CONF):
        df = bloom_gated_join(spark, sf_dir)
        df.collect()  # injection is decided for the executed plan
        final = df._jdf.queryExecution().executedPlan().toString()
    assert "bloom_filter_agg" in final, final
    assert "might_contain" in final, final


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    """The benchmark 5-gram set is eval-suite-sized (MBs) against a
    corpus-sized probe side — it must broadcast; a shuffled join on
    gram strings would move the whole exploded corpus."""
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["text_decontaminate"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_sample_mixture_broadcasts_rates(spark, sf_dir):
    """Per-stratum keep thresholds are a handful of rows — the join
    back to the corpus scan must broadcast, keeping the sampling pass
    map-only (scan → broadcast join → filter, no corpus shuffle)."""
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["sample_mixture"](spark, sf_dir)
    assert uses_broadcast_join(df)


def test_analytics_top_k_is_take_ordered(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    for key in ("analytics_shipping_priority", "analytics_returned_revenue",
                "analytics_large_orders"):
        df = registry.QUERIES[key](spark, sf_dir)
        assert "TakeOrderedAndProject" in physical_plan(df), (
            f"{key}: grouped top-k must fold the limit into the sort"
        )


def test_analytics_pushes_filters_and_broadcasts_dims(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["analytics_regional_revenue"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert uses_broadcast_join(df), "region/nation/supplier must broadcast"
    assert "PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)" in plan or (
        "EqualTo(r_name,ASIA)" in plan
    ), "region filter must reach its scan"

    df3 = registry.QUERIES["analytics_shipping_priority"](spark, sf_dir)
    p3 = df3._jdf.queryExecution().executedPlan().toString()
    assert "EqualTo(c_mktsegment,BUILDING)" in p3, (
        "segment filter must reach the customer scan"
    )


def test_window_funnel_single_shuffle(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["window_funnel"](spark, sf_dir)
    plan = physical_plan(df)
    # one shuffle on user_id for the array aggregation; the fold and
    # the stage filters are map-side — no per-stage self-join shuffles
    assert plan.count("Exchange") <= 2, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, (
        "funnel must not plan as per-stage self-joins"
    )


def test_ngrams_ranks_after_top_k(spark, sf_dir):
    """The rank window must consume the top-20 output, never the full
    distinct-bigram set: in the physical tree the Window node sits
    ABOVE TakeOrderedAndProject (i.e. executes after the limit), so
    its single-partition Exchange only ever carries 20 rows."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["text_ngrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" in plan, plan
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), (
        "rank window precedes the limit — every distinct bigram would "
        f"cross one partition at scale:\n{plan}"
    )


def test_zone_map_scan_reads_file_subset(spark, sf_dir):
    df = registry.QUERIES["scan_zone_map"](spark, sf_dir)
    files = {r[0] for r in df.select(
        __import__("pyspark.sql.functions", fromlist=["F"]).input_file_name()
    ).distinct().collect()}
    # the manifest pruned the read down to the zone(s) holding the key
    assert 1 <= len(files) <= 2, files


def test_compaction_meets_file_count_contract(spark, sf_dir):
    """The compacted sink must hold exactly ceil(bytes/target) files —
    strictly fewer than the fragmented input — with no rows lost."""
    import math

    from crime_data_batch_processing_spark.fixtures import scratch_dir
    from crime_data_batch_processing_spark.operators.sinks import (
        FRAGMENT_FILES,
        TARGET_FILE_BYTES,
        parquet_file_sizes,
    )

    registry.QUERIES["sink_compacted"](spark, sf_dir)  # build fixture
    base = scratch_dir("compact", sf_dir, "orders")
    frag = parquet_file_sizes(f"{base}/fragmented")
    comp = parquet_file_sizes(f"{base}/compacted")
    assert len(frag) == FRAGMENT_FILES
    expected = max(1, math.ceil(sum(frag) / TARGET_FILE_BYTES))
    assert len(comp) == expected, (len(comp), expected)
    assert len(comp) < len(frag)
    n_frag = spark.read.parquet(f"{base}/fragmented").count()
    n_comp = spark.read.parquet(f"{base}/compacted").count()
    assert n_frag == n_comp


def test_index_maintain_meets_file_count_contract(spark, sf_dir):
    """Index-artifact maintenance (r13 verdict item 1) must actually
    shrink the file inventory: each maintained artifact holds at most
    ceil(pre-purge bytes / target) files and strictly fewer than the
    append-grown original (base write + ingest-A append), while every
    surviving row is exactly the grown set minus the audit-sidecar
    drop set."""
    import math

    from crime_data_batch_processing_spark.operators.llm_dedup import (
        _maintain_dirs,
    )
    from crime_data_batch_processing_spark.operators.sinks import (
        TARGET_FILE_BYTES,
        parquet_file_sizes,
    )

    registry.QUERIES["sim_search_index_maintain"](spark, sf_dir)
    dirs = _maintain_dirs(sf_dir)
    dropped = {
        r.vec_id
        for r in spark.read.parquet(dirs["dropped"]).collect()
    }
    assert dropped, "curation dropped nothing — vacuous maintenance"
    for grown_key, m_key in [("index", "index_m"), ("bands", "bands_m")]:
        grown = parquet_file_sizes(dirs[grown_key])
        maint = parquet_file_sizes(dirs[m_key])
        cap = max(1, math.ceil(sum(grown) / TARGET_FILE_BYTES))
        assert len(maint) <= cap, (m_key, len(maint), cap)
        assert len(maint) < len(grown), (m_key, len(maint), len(grown))
        grown_ids = {
            r.vec_id
            for r in spark.read.parquet(dirs[grown_key])
            .select("vec_id")
            .distinct()
            .collect()
        }
        maint_ids = {
            r.vec_id
            for r in spark.read.parquet(dirs[m_key])
            .select("vec_id")
            .distinct()
            .collect()
        }
        assert maint_ids == grown_ids - dropped, m_key


def test_corpus_delete_erasure_contracts(spark, sf_dir):
    """The right-to-be-forgotten key's four contracts: an erased key
    zone-scans to ZERO rows through manifest v2 while a surviving key
    is untouched; files outside the erased range keep their ORIGINAL
    paths in manifest v2 (metadata-proportional — never rewritten);
    the subtracted counter card equals a fresh aggregate of the
    surviving scan; and the audit sidecar accounts for every erased
    row, all keys inside the requested range."""
    from pyspark.sql import functions as F

    from crime_data_batch_processing_spark.functions.exact import dsum
    from crime_data_batch_processing_spark.operators.timeseries import (
        CDEL_HI,
        CDEL_LO,
        _cdel_dirs,
        _manifest_paths,
        _zone_pruned_scan,
    )

    registry.QUERIES["corpus_delete"](spark, sf_dir)  # build fixture
    dirs = _cdel_dirs(sf_dir)
    # (1) erasure visible through the zone scan
    erased_key = CDEL_LO + 20
    assert (
        _zone_pruned_scan(
            spark, dirs["files"], dirs["manifest_v2"], key=erased_key
        ).count()
        == 0
    )
    survivor_key = 42
    before = _zone_pruned_scan(
        spark, dirs["files"], dirs["manifest_v1"], key=survivor_key
    ).collect()
    after = _zone_pruned_scan(
        spark, dirs["files"], dirs["manifest_v2"], key=survivor_key
    ).collect()
    assert before and sorted(map(tuple, before)) == sorted(
        map(tuple, after)
    )
    # (2) untouched files keep their original paths; only
    # range-intersecting files were rewritten
    m1 = {
        (r.path, r.lo, r.hi)
        for r in spark.read.parquet(dirs["manifest_v1"]).collect()
    }
    m2 = {
        (r.path, r.lo, r.hi)
        for r in spark.read.parquet(dirs["manifest_v2"]).collect()
    }
    hit1 = {t for t in m1 if t[1] <= CDEL_HI and t[2] >= CDEL_LO}
    assert hit1 and (m1 - hit1) < m1, "no pruning to prove"
    assert (m1 - hit1) <= m2, "an untouched file was rewritten"
    rewritten = m2 - (m1 - hit1)
    assert rewritten and all(
        "/delta/" in t[0] for t in rewritten
    ), rewritten
    # (3) the subtracted card equals a fresh surviving aggregate
    surviving = spark.read.parquet(
        *_manifest_paths(spark, dirs["manifest_v2"])
    )
    fresh = {
        (r.o_orderstatus, r.n_orders, float(r.sum_price))
        for r in surviving.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice").alias("sum_price"),
        )
        .collect()
    }
    card2 = {
        (r.o_orderstatus, r.n_orders, float(r.sum_price))
        for r in spark.read.parquet(dirs["card_v2"]).collect()
    }
    assert card2 == fresh
    # (4) audit accounts for every erased row
    audit = spark.read.parquet(dirs["audit"]).collect()
    n_v1 = spark.read.parquet(dirs["files"]).count()
    assert sum(r.n_rows_erased for r in audit) == n_v1 - surviving.count()
    assert all(CDEL_LO <= r.o_custkey <= CDEL_HI for r in audit)


def test_zone_map_unselective_predicate_falls_back(spark, sf_dir):
    """When more manifest entries match than the driver-side cap, the
    scan must degrade to the full directory read (correct, file-level
    pruning lost) instead of collecting an unbounded path list — same
    rows either way."""
    from crime_data_batch_processing_spark.fixtures import scratch_dir
    from crime_data_batch_processing_spark.operators.timeseries import (
        _zone_pruned_scan,
    )

    registry.QUERIES["scan_zone_map"](spark, sf_dir)  # ensure fixture built
    base = scratch_dir("zonemap", sf_dir, "orders")
    pruned = _zone_pruned_scan(spark, f"{base}/data", f"{base}/manifest", key=42)
    capped = _zone_pruned_scan(
        spark, f"{base}/data", f"{base}/manifest", key=42, cap=0
    )
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, pruned.collect())
    )


def test_profile_stats_branches_prune_to_one_column(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import scan_read_schema

    df = registry.QUERIES["profile_stats"](spark, sf_dir)
    schemas = scan_read_schema(df)
    # One branch per profiled column, each scan pruned to EXACTLY its
    # own column — together the branches read the same bytes as one
    # 5-column scan, without the SortAggregate trap the combined
    # multi-distinct aggregate falls into (see module docstring).
    assert len(schemas) == 5, schemas
    for s in schemas:
        assert s.count(":") == 1, f"branch scan must read one column: {s}"
    # the trap's signature is the multi-distinct Expand (6x row
    # replication keyed on all columns at once); single-distinct
    # branches need no Expand at all
    from crime_data_batch_processing_spark.plans import count_nodes

    assert count_nodes(df, "Expand") == 0


def test_agg_cube_single_expand_and_scan(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import count_nodes

    df = registry.QUERIES["agg_cube"](spark, sf_dir)
    assert count_nodes(df, "Expand") == 1, (
        "CUBE must plan as one Expand, not a scan per grouping set"
    )
    assert count_nodes(df, "Scan parquet") == 1


def test_sample_split_stays_in_codegen(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["sample_split"](spark, sf_dir)
    plan = physical_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
        "split hashing must be JVM-side Catalyst arithmetic"
    )
    # partial aggregation before the 3-group shuffle
    assert "partial" in plan.lower()


def test_window_anomaly_single_shuffle(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import count_nodes

    df = registry.QUERIES["window_anomaly"](spark, sf_dir)
    # All three frame aggregates share one (user_id) exchange + sort.
    assert count_nodes(df, "Exchange") == 1, (
        "the three frame aggregates must share a single window exchange"
    )
    assert count_nodes(df, "Window") == 1


def test_multimodal_dedup_single_shuffle(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import count_nodes

    df = registry.QUERIES["multimodal_dedup"](spark, sf_dir)
    assert count_nodes(df, "Exchange") == 1, (
        "digest dedup is one shuffle on the content hash"
    )


def test_partition_prune_reads_only_target_year(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["scan_partition_prune"](spark, sf_dir)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "1995" in plan, (
        "the year predicate must prune directories at listing time"
    )
    # the partition column never appears as a data filter
    assert "PushedFilters: [IsNotNull(o_year)" not in plan


def test_pysource_plans_no_residual_filter(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["scan_pysource"](spark, sf_dir)
    plan = physical_plan(df)
    # The lang/n_chars comparisons are consumed by pushFilters and
    # re-applied exactly inside the source's read(), so they must not
    # reappear as residual Filter conditions. (The isnotnull guards
    # are deliberately handed back to Spark and may remain.)
    assert "= en" not in plan and ">= 200" not in plan, (
        f"pushed comparisons must not leave residual filters:\n{plan}"
    )


def test_domain_mix_two_level_aggregation(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import count_nodes, physical_plan

    df = registry.QUERIES["text_domain_mix"](spark, sf_dir)
    assert count_nodes(df, "Scan parquet") == 1
    assert "partial" in physical_plan(df).lower(), (
        "both aggregation levels must map-side combine"
    )


def test_hll_intersection_broadcasts_sketch_row(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import uses_broadcast_join

    df = registry.QUERIES["agg_hll_intersection"](spark, sf_dir)
    assert uses_broadcast_join(df), (
        "the single merged-sketch row must broadcast onto the exact counts"
    )


def test_dataset_card_single_scan_and_broadcast_total(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import count_nodes, uses_broadcast_join

    df = registry.QUERIES["pipeline_dataset_card"](spark, sf_dir)
    assert uses_broadcast_join(df), "grand total must broadcast, not shuffle"
    assert count_nodes(df, "Scan parquet") <= 2  # flags + total reuse one scan each


def test_udf_arrow_plans_arrow_eval(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["udf_arrow"](spark, sf_dir))
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan, (
        "useArrow=True UDFs must take the Arrow batch path"
    )


def test_scd2_join_is_equi_not_nested_loop(spark, sf_dir):
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["join_scd2"](spark, sf_dir))
    # the interval predicate must ride an equi-join on the key as a
    # residual condition — never BroadcastNestedLoopJoin over versions
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan


def test_zorder_files_are_rectangles_in_both_dims(spark, sf_dir):
    """Every z-ordered file must cover a small rectangle of
    (custkey, orderdate) space — the property that makes min-max
    stats prunable in BOTH dimensions. With 8 range-partitioned
    files (3 Morton bits) each file's span is bounded by ~1/2 of the
    global span per dimension; 0.75 leaves slack for range-partition
    boundary estimation."""
    import glob

    import pyarrow.parquet as pq

    from crime_data_batch_processing_spark.fixtures import scratch_dir
    from crime_data_batch_processing_spark.operators.sinks import ZORDER_KIND

    registry.QUERIES["sink_zorder"](spark, sf_dir)  # build fixture
    # the kind is imported from the operator, never spelled here: the
    # round-5 v2 bump left a literal 'zorder' globbing the PRE-bump
    # path, where this test silently validated stale round-4 files
    # until the leftover /tmp state aged out (round-11)
    zdir = f"{scratch_dir(ZORDER_KIND, sf_dir, 'orders')}/zorder"
    files = sorted(glob.glob(f"{zdir}/part-*.parquet"))
    assert len(files) > 1
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        cmins, cmaxs, dmins, dmaxs = [], [], [], []
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name == "o_custkey":
                    cmins.append(col.statistics.min)
                    cmaxs.append(col.statistics.max)
                elif name == "o_orderdate":
                    dmins.append(col.statistics.min)
                    dmaxs.append(col.statistics.max)
        spans.append(
            (
                min(cmins), max(cmaxs),
                min(dmins), max(dmaxs),
            )
        )
    g_cmin = min(s[0] for s in spans)
    g_cmax = max(s[1] for s in spans)
    g_dmin = min(s[2] for s in spans)
    g_dmax = max(s[3] for s in spans)
    c_span = g_cmax - g_cmin
    d_span = (g_dmax - g_dmin).total_seconds()
    both = 0
    for cmin, cmax, dmin, dmax in spans:
        c_ok = (cmax - cmin) <= 0.75 * c_span
        d_ok = (dmax - dmin).total_seconds() <= 0.75 * d_span
        # a file straddling an equal-count partition boundary that
        # crosses a Morton bit flip legitimately widens in ONE
        # dimension — but never both, and straddlers are rare
        assert c_ok or d_ok, (cmin, cmax, dmin, dmax)
        both += c_ok and d_ok
    assert both >= 0.75 * len(spans), (both, len(spans))


def test_udtf_plans_arrow_eval(spark, sf_dir):
    """The UDTF key must plan on the Arrow transfer path, not
    pickled row-at-a-time Python."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["udtf_token_spans"](spark, sf_dir))
    assert "ArrowEvalPythonUDTF" in plan, plan
    assert "BatchEvalPythonUDTF" not in plan, plan


def test_interval_overlap_is_hash_join(spark, sf_dir):
    """The bucketed rewrite must plan as an equi (hash) join — a
    nested-loop or cartesian plan means the bucket key stopped being
    an equi condition and the operator degenerated to all-pairs."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["join_interval_overlap"](spark, sf_dir)
    )
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan


def test_attribution_single_window_exchange(spark, sf_dir):
    """All three last(ignorenulls) attributes must share ONE window
    spec: one Window node over one Exchange, not three."""
    from crime_data_batch_processing_spark.plans import count_nodes

    df = registry.QUERIES["window_attribution"](spark, sf_dir)
    assert count_nodes(df, "Window") == 1
    assert count_nodes(df, "Exchange") == 1


def test_bitmap_distinct_no_expand(spark, sf_dir):
    """The bitmap path must NOT plan the COUNT(DISTINCT) Expand —
    avoiding that per-distinct row expansion is the operator's point;
    two hash aggregates (words, then groups) carry the whole query."""
    from crime_data_batch_processing_spark.plans import count_nodes

    df = registry.QUERIES["agg_bitmap_distinct"](spark, sf_dir)
    assert count_nodes(df, "Expand") == 0
    assert count_nodes(df, "HashAggregate") >= 2


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """No registered query may plan a CartesianProduct — the
    non-broadcast all-pairs join that cannot survive any scale.
    (BroadcastNestedLoopJoin is allowed: its build side is broadcast
    by construction, and every occurrence in this engine is a
    deliberately tiny frame — scalar totals, per-dim stats rows,
    k-row centroid tables — crossed against the scan map-side.)"""
    from crime_data_batch_processing_spark import cachekit
    from crime_data_batch_processing_spark.plans import physical_plan

    streaming_keys = {"stream_events", "stream_stateful"}
    offenders = []
    for key, fn in sorted(registry.QUERIES.items()):
        if key in streaming_keys:
            continue
        try:
            if "CartesianProduct" in physical_plan(fn(spark, sf_dir)):
                offenders.append(key)
        finally:
            cachekit.release_all()
    assert not offenders, f"CartesianProduct in: {offenders}"


def test_sort_keyset_is_pushed_filter_plus_top_k(spark, sf_dir):
    """Keyset pagination's scale claim: the cursor predicate reaches
    the parquet scan (row-group stats skip everything above the
    cursor) and the page is a TakeOrderedAndProject — no OFFSET scan,
    no global sort, depth-independent cost."""
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["sort_keyset"](spark, sf_dir)
    plan = physical_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert has_pushed_filters(df), (
        "the compound keyset predicate must reach the scan"
    )
    # assert the offset absence DIRECTLY, covering BOTH rendering
    # forms: TakeOrderedAndProject prints "offset=N", while
    # CollectLimit/GlobalLimit print it positionally as the second
    # argument ("CollectLimit <limit>, <offset>") — empirically
    # df.offset(2).limit(4) plans as "CollectLimit 6, 2" with no
    # "offset=" literal, so the keyword regex alone misses that path
    import re

    lplan = plan.lower()
    offsets = set(re.findall(r"offset=(\d+)", lplan))
    offsets |= {
        m.group(2)
        for m in re.finditer(r"(collectlimit|globallimit) \d+, (\d+)", lplan)
    }
    assert offsets <= {"0"}, f"offset-bearing page scan: {offsets}\n{plan}"


def test_join_dpp_prunes_partitions_dynamically(spark, sf_dir):
    """Dynamic partition pruning must fire: the fact scan's
    PartitionFilters carry a dynamicpruning expression fed by the
    dim broadcast — no static o_year predicate exists in the query,
    so without DPP every partition would be read."""
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["join_dpp"](spark, sf_dir)
    plan = physical_plan(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_snapshot_expire_deletes_dirs_and_writes_manifest(spark, sf_dir):
    """The expiry's side effects, checked on disk: expired partition
    directories are GONE (storage actually reclaimed), survivors
    remain, and the audit sidecar records exactly the policy's
    verdict. The registered query's oracle already pins survivor
    CONTENT; this pins the lifecycle."""
    import json
    import os

    from crime_data_batch_processing_spark.fixtures import scratch_dir
    from crime_data_batch_processing_spark.operators.sinks import (
        expired_manifest_path,
    )

    df = registry.QUERIES["snapshot_expire"](spark, sf_dir)
    run_dates = sorted(r["run_date"] for r in df.collect())
    assert run_dates == [20260810, 20260811, 20260812]

    base = scratch_dir("snapexpire", sf_dir, "orders") + "/orders"
    assert not os.path.exists(f"{base}/y=2026/m=8/d=8")
    assert not os.path.exists(f"{base}/y=2026/m=8/d=9")
    assert os.path.isdir(f"{base}/y=2026/m=8/d=10")
    assert os.path.isdir(f"{base}/y=2026/m=8/d=12")
    with open(expired_manifest_path(base)) as f:
        manifest = json.load(f)
    assert manifest == {
        "expired": [20260808, 20260809],
        "retained": [20260810, 20260811, 20260812],
    }


def test_snapshot_restore_is_pruned_and_preserves_history(spark, sf_dir):
    """The restored-latest read must touch only the restore date's
    directory (O(run), not O(history)), and the rollback must be
    restore-as-new-version: the corrupted run stays on disk for
    forensics, readable via snapshot_as_of-style pruned reads."""
    import os

    from crime_data_batch_processing_spark.fixtures import scratch_dir

    df = registry.QUERIES["snapshot_restore"](spark, sf_dir)
    # the scan's file index holds the restore day's files alone: no
    # other run under the base is listed, let alone read
    files = df.inputFiles()
    assert files and all("/y=2026/m=8/d=13/" in f for f in files), files

    base = scratch_dir("snaprestore", sf_dir, "orders") + "/orders"
    # history intact: good, bad, and restored runs all present
    for day in (10, 11, 12, 13):
        assert os.path.isdir(f"{base}/y=2026/m=8/d={day}"), day


def test_observe_metrics_ride_the_write_plan(spark, sf_dir):
    """profile_observe's claim is zero-extra-scan: the metrics must be
    a CollectMetrics node inside the written frame's own plan (folded
    by the writing tasks), not a second aggregation job. Pinned on the
    SAME `observed_orders` unit the operator writes — a regression to
    a separate metrics job would strip CollectMetrics from this frame
    and fail here."""
    from crime_data_batch_processing_spark.operators.quality import (
        observed_orders,
    )
    from crime_data_batch_processing_spark.plans import physical_plan

    _, observed = observed_orders(spark, sf_dir)
    plan = physical_plan(observed)
    assert "CollectMetrics" in plan
    # all six metrics fold in the one node; no aggregate/shuffle of
    # their own anywhere in the written frame's plan
    assert "HashAggregate" not in plan and "Exchange" not in plan, plan
    # and the registered query returns exactly one bounded metrics row
    df = registry.QUERIES["profile_observe"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["n_rows"] > 0


def test_stream_file_sink_commits_through_metadata_log(spark, sf_dir):
    """The streaming parquet sink must publish through FileStreamSink's
    _spark_metadata transaction log (readers list committed files only),
    and the double-run build must be an exactly-once no-op: the sink's
    row count equals the source's exactly — never doubled."""
    import os

    from pyspark.sql import functions as F

    from crime_data_batch_processing_spark.fixtures import scratch_dir
    from crime_data_batch_processing_spark.sources.tables import load_table

    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["stream_file_sink"](spark, sf_dir)
    # the batch read resolves files through the sink's transaction
    # log, not a raw directory listing
    assert "MetadataLogFileIndex" in physical_plan(df)
    sink_events = df.agg(F.sum("n_events")).first()[0]
    src_events = load_table(spark, sf_dir, "events").count()
    assert sink_events == src_events, "duplicate or lost micro-batch"

    base = scratch_dir("streamfilesink", sf_dir, "events")
    assert os.path.isdir(f"{base}/out/_spark_metadata")


def test_small_qty_revenue_decorrelates_to_one_aggregate(spark, sf_dir):
    """Q17's correlated 0.2*AVG threshold must plan as ONE grouped
    pre-aggregate over lineitem joined back (plus the final global
    fold) — never a per-row re-execution of the inner query — with
    the brand/size part filter broadcast against the probe side."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_small_qty_revenue"](spark, sf_dir)
    plan = physical_plan(df)
    # partial+final of the per-part aggregate and of the global sum:
    # at most 4 HashAggregates, not one per probe row
    assert count_nodes(df, "HashAggregate") <= 4, plan
    assert uses_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_part_promotion_semi_join_and_single_fact_scan(spark, sf_dir):
    """Q20's nested IN must plan as a LEFT SEMI join driven by the
    pre-aggregated qualifying keys; the per-part total folds FROM the
    per-(part,supplier) aggregate (vocabulary-sized), and the
    ship-date window is pushed to the lineitem scan."""
    from crime_data_batch_processing_spark.plans import (
        has_pushed_filters,
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_part_promotion"](spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert uses_broadcast_join(df), plan
    assert has_pushed_filters(df), plan
    assert "CartesianProduct" not in plan, plan


def test_disjunctive_join_stays_hash_not_nested_loop(spark, sf_dir):
    """Q19's OR-of-ANDs spanning both join sides must NOT degrade the
    join: Catalyst extracts the conjunctive equi-key for a
    hash/broadcast join and evaluates the disjunction as a filter."""
    from crime_data_batch_processing_spark.plans import (
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_disjunctive_revenue"](spark, sf_dir)
    plan = physical_plan(df)
    assert uses_broadcast_join(df), plan
    assert "BroadcastNestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # Catalyst derives each side's implication of the OR and pushes it
    # into that side's scan: the lineitem scan gets the union quantity
    # windows, the part scan the brand/size disjunction. Assert on the
    # pushed COLUMNS inside PushedFilters sections, not on Catalyst's
    # exact Or/And toString nesting (a Spark-version-dependent
    # rendering that would spuriously fail across upgrades).
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_quantity" in ln for ln in pushed), plan
    assert any("p_brand" in ln for ln in pushed), plan


def test_sleeping_customers_anti_join_with_pushed_recency(spark, sf_dir):
    """Q22's NOT EXISTS must plan as a LEFT ANTI join whose orders
    side carries the recency predicate into the scan, and the scalar
    average must be one single-row aggregate (broadcast), never a
    per-row re-scan."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
    )

    df = registry.QUERIES["analytics_sleeping_customers"](spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert "o_orderdate" in plan and "PushedFilters" in plan, plan
    # pool aggregate (partial+final), threshold single-row aggregate
    # (partial+final), final per-nation fold (partial+final) ≤ 6 —
    # never one aggregate per customer row
    assert count_nodes(df, "HashAggregate") <= 6, plan


def test_late_shipments_pushes_window_keeps_equi_join(spark, sf_dir):
    """Q12's single-side ship-year window must push to the lineitem
    scan; the cross-side lateness predicate (l_shipdate vs
    o_orderdate+60d) cannot push and must stay a filter on the ONE
    equi-join — never a nested loop; both CASE counters fold in one
    grouped aggregate (partial+final = 2)."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        has_pushed_filters,
        physical_plan,
    )

    df = registry.QUERIES["analytics_late_shipments"](spark, sf_dir)
    plan = physical_plan(df)
    assert has_pushed_filters(df), plan
    assert "l_shipdate" in plan, plan
    assert count_nodes(df, "HashAggregate") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan


def test_promo_share_single_aggregate_single_scan(spark, sf_dir):
    """Q14's ratio must fold numerator and denominator in ONE
    aggregate over ONE month-pruned scan (CASE inside the sum), with
    the part dim broadcast — never two scans or a self-join."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        has_pushed_filters,
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_promo_share"](spark, sf_dir)
    plan = physical_plan(df)
    assert uses_broadcast_join(df), plan
    assert has_pushed_filters(df), plan
    # one global aggregate, partial+final
    assert count_nodes(df, "HashAggregate") <= 2, plan
    # exactly one lineitem scan feeds it
    assert plan.count("lineitem.parquet") == 1, plan


def test_top_supplier_scalar_max_not_global_window(spark, sf_dir):
    """Q15's MAX-of-view threshold must be a single-row aggregate
    broadcast back over the revenue view — never a window over an
    unpartitioned sort (which funnels every supplier through one
    task) and never a re-scan of lineitem per comparison."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_top_supplier"](spark, sf_dir)
    plan = physical_plan(df)
    assert "Window" not in plan, plan
    assert uses_broadcast_join(df), plan
    # revenue view (partial+final, statically planned on BOTH consumer
    # branches — AQE reuses the exchange at runtime) + scalar max
    # (partial+final) = 6; the bound is O(1), never one per supplier
    assert count_nodes(df, "HashAggregate") <= 6, plan
    assert plan.count("lineitem.parquet") <= 2, plan


def test_supplier_variety_anti_join_broadcast_part_first(spark, sf_dir):
    """Q16's NOT IN must plan as LEFT ANTI against the broadcast
    filtered supplier set, with the brand/type/size-list part
    predicate applied via a broadcast join BEFORE the distinct-count
    shuffle; the distinct count stays Spark's two-phase distinct
    aggregate, never a driver-side distinct."""
    from crime_data_batch_processing_spark.plans import (
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_supplier_variety"](spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftAnti" in plan, plan
    assert uses_broadcast_join(df), plan
    assert "CartesianProduct" not in plan, plan


def test_min_cost_supplier_semi_restricted_pre_aggregate(spark, sf_dir):
    """Q2's correlated MIN must decorrelate to one grouped aggregate
    joined back on (part, cost-equality); the corpus-scale pair
    aggregate must be pre-restricted by BOTH broadcast semi-joins
    (part set, region supplier set) BEFORE its shuffle."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_min_cost_supplier"](spark, sf_dir)
    plan = physical_plan(df)
    assert plan.count("LeftSemi") >= 2, plan
    assert uses_broadcast_join(df), plan
    # pair aggregate (partial+final, statically planned on BOTH
    # consumer branches — AQE reuses the exchange at runtime) +
    # per-part min (partial+final) = 6; O(1), never one per part
    assert count_nodes(df, "HashAggregate") <= 6, plan
    assert "CartesianProduct" not in plan, plan


def test_entropy_broadcast_log_tables_over_persisted_fold(spark, sf_dir):
    """agg_entropy's ln values must join as broadcast metadata tables
    over the PERSISTED per-user fold — the corpus-touching work is the
    two cached aggregates, never re-run per consumer and never a
    per-row p·ln p pass (no Python eval anywhere: global plan test)."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["agg_entropy"](spark, sf_dir)
    plan = physical_plan(df)
    assert uses_broadcast_join(df), plan
    assert "InMemoryTableScan" in plan, plan
    # two corpus aggregates (counts, per-user fold), partial+final,
    # statically visible across cached-lineage branches — a small
    # constant, never one aggregate per user/row
    assert count_nodes(df, "HashAggregate") <= 8, plan


def test_nation_profit_semi_restricted_cost_table(spark, sf_dir):
    """Q9's cost table must be ONE pair-grouped pre-aggregate,
    semi-restricted by the broadcast name-filtered part set BEFORE its
    shuffle; dims broadcast; never a per-row cost re-derivation."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["analytics_nation_profit"](spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert uses_broadcast_join(df), plan
    # pair-cost aggregate (partial+final) + final profit fold
    # (partial+final) — O(1), never per pair-row
    assert count_nodes(df, "HashAggregate") <= 4, plan
    assert "CartesianProduct" not in plan, plan


def test_priority_orders_exists_is_semi_join_with_residual(spark, sf_dir):
    """Q4's correlated EXISTS (inner column vs OUTER column inequality)
    must decorrelate to a LEFT SEMI join carrying the inequality as a
    residual join condition — one emission per order, no post-join
    distinct; the quarter window pushes to the orders scan."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        has_pushed_filters,
        physical_plan,
    )

    df = registry.QUERIES["analytics_priority_orders"](spark, sf_dir)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert has_pushed_filters(df), plan
    assert count_nodes(df, "HashAggregate") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_forecast_revenue_fully_pushed_single_scan(spark, sf_dir):
    """Q6 is the scan-path proof: every predicate is single-column, so
    the ENTIRE where clause reaches the parquet reader; the plan is
    scan -> partial aggregate -> single-row final. One scan, one
    exchange, zero joins."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        has_pushed_filters,
        physical_plan,
        scan_read_schema,
    )

    df = registry.QUERIES["analytics_forecast_revenue"](spark, sf_dir)
    plan = physical_plan(df)
    assert has_pushed_filters(df), plan
    assert "l_discount" in plan.split("PushedFilters")[1][:400], plan
    assert len(scan_read_schema(df)) == 1, plan
    assert count_nodes(df, "HashAggregate") <= 2, plan
    assert "Join" not in plan, plan


def test_interpolate_single_window_shuffle(spark, sf_dir):
    """window_interpolate's backward (prev observation) and forward
    (next observation) frame specs share one (partition, order) —
    Spark must merge them into ONE Window operator over ONE window
    exchange, never two sort+shuffle passes; the per-type bounds side
    broadcasts into the grid join."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
    )

    df = registry.QUERIES["window_interpolate"](spark, sf_dir)
    plan = physical_plan(df)
    assert count_nodes(df, "Window") == 1, plan
    # hourly aggregate + the window's partitioning — nothing else
    assert count_nodes(df, "Exchange") <= 2, plan
    assert "BroadcastExchange" in plan, plan


def test_framesample_map_only_no_shuffle(spark, sf_dir):
    """The 1:N frame-sampling transform is map-only: Arrow MapInPandas
    directly over the scan, ZERO exchanges — the fan-out happens
    inside the batch, never through a shuffle."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
    )

    df = registry.QUERIES["multimodal_framesample"](spark, sf_dir)
    plan = physical_plan(df)
    assert "MapInPandas" in plan, plan
    assert count_nodes(df, "Exchange") == 0, plan
    assert "BatchEvalPython" not in plan, plan


def test_bpe_apply_corpus_path_stays_jvm_side(spark, sf_dir):
    """The tokenize-with-merges pass must keep the corpus path pure
    codegen: explode + chained replace expressions + ONE per-doc fold
    (single exchange), with no Python eval node anywhere (training's
    argmax collects happen at build time, not in this plan)."""
    from crime_data_batch_processing_spark.plans import (
        count_nodes,
        physical_plan,
    )

    df = registry.QUERIES["text_bpe_apply"](spark, sf_dir)
    plan = physical_plan(df)
    assert count_nodes(df, "Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert "MapInPandas" not in plan, plan
    assert "replace" in plan, plan


def test_near_dup_pair_base_joins_on_bands_not_shingles(spark, sf_dir):
    """The shared near-dup pair base (round 8) must generate
    candidates from the banded-MinHash self-join — join keys `band`
    and `bhash`, 8 rows/doc — never from a raw-shingle equi-join
    whose candidate mass is sum_g df(g)^2 (measured quadratic on the
    vocabulary-saturated soak tiers; BASELINE.md round-8 section).
    The only shingle-set join allowed is the bounded exact-Jaccard
    VERIFY of already-banded candidate pairs (an array_intersect
    projection, not a join keyed on the shingle)."""
    from crime_data_batch_processing_spark.operators.llm_dedup import (
        near_dup_pairs,
    )
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(near_dup_pairs(spark, sf_dir))
    assert "band" in plan and "bhash" in plan, plan
    # the exact twin's candidate join explodes shingles and joins on
    # the shingle value column `g`; the banded base must not
    assert " g#" not in plan and "(g#" not in plan, plan
    assert "array_intersect" in plan, plan  # the verify projection
    assert "CartesianProduct" not in plan, plan


def test_interval_overlap_never_broadcasts_fact(spark, sf_dir):
    """The interval-overlap join's fact side is EXPLODED lineitem —
    corpus-sized — and explode defeats Catalyst's sizeInBytes
    estimate (the child's estimate is kept), so without a pinned
    strategy the planner broadcast a multi-million-row build side at
    the soak's s3 tier (driver OOM at real scale). The join must plan
    as a distributed ShuffledHashJoin."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["join_interval_overlap"](spark, sf_dir)
    )
    assert "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_embedding_lsh_prod_candidates_carry_ids_only(spark, sf_dir):
    """The production-regime LSH key (round 9): the 64-bit signature
    is computed by ONE Arrow matmul into the persisted frame — the
    band explode and both verify join-backs must read that cache
    (InMemoryTableScan; the matmul itself runs once at
    materialization); the candidate bucket self-join is keyed on
    (band, bval) ID rows, never the 64-element quantized arrays
    (they re-attach by key join AFTER candidate dedup); nothing
    plans as a nested loop. (The plan STRING repeats the cached
    build plan under every cache reference, so counting
    ArrowEvalPython occurrences would be toString-brittle — the
    round-7 lesson; cache-once is what InMemoryTableScan + the
    materializing count() guarantee.)"""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["dedup_embedding_lsh_prod"](spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan, plan
    assert "bval" in plan, plan  # candidate join keyed on band value
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_graph_is_banded_with_group_limit(spark, sf_dir):
    """The corpus-wide kNN graph must inherit both families'
    disciplines at once: candidates come from the banded bucket
    equijoin over cached (band, bval) ID rows — never an all-pairs
    join of the corpus — and the per-src top-k must be pre-cut by
    WindowGroupLimit before the rank Exchange (at k·N output over a
    100 TB corpus the pre-cut, not the post-window filter, is what
    bounds the shuffle)."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["sim_search_knn_graph"](spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan, plan  # signature cached once
    assert "bval" in plan, plan  # candidate join keyed on band value
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_knn_inc_prod_probe_plan_disciplines(spark, sf_dir):
    """The production-geometry incremental probe must keep every
    discipline of the inc family: the increment's signature frame is
    cached once (InMemoryTableScan), candidates come from (band,
    bval)-keyed hash joins against the parquet index (never an
    all-pairs join), and the per-src top-k is pre-cut by
    WindowGroupLimit before the rank Exchange."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["sim_search_knn_inc_prod"](spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan, plan
    assert "bval" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_media_semantic_dedup_plan_disciplines(spark, sf_dir):
    """The media semantic-dedup key must plan as the prod banded
    pipeline with an Arrow (never row-at-a-time) Python embed stage:
    ArrowEvalPython/MapInPandas only, cached signature frame, banded
    ID-only candidate equijoin, no nested loop anywhere."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["multimodal_dedup_semantic"](spark, sf_dir)
    )
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "bval" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_media_semantic_wide_plan_matches_prod_shape(spark, sf_dir):
    """The 128-bit WIDE media rung must keep the exact plan shape of
    the 64-bit rung — the multi-word signature (array<int64>) must
    change only the band-extraction expressions, never the join
    strategy: Arrow embed stage, cached signature frame, ID-only
    banded equijoin, no nested loop, and the sig ARRAY must not cross
    the candidate shuffle (only band/bval and ids do)."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["multimodal_dedup_semantic_wide"](spark, sf_dir)
    )
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "bval" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_media_semantic_inc_plan_disciplines(spark, sf_dir):
    """The incremental media key must plan as: Arrow embed of the
    BATCH only (MapInPandas, never BatchEvalPython), parquet index
    scan, banded ID-only candidate equijoin, WindowGroupLimit top-k —
    no nested loop anywhere. The persisted index arrives as a parquet
    relation, the batch signature frame as InMemoryTableScan."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["multimodal_dedup_semantic_inc"](spark, sf_dir)
    )
    assert "MapInPandas" in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "bval" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_index_append_probe_plan_disciplines(spark, sf_dir):
    """The append-lifecycle probe must keep the incremental family's
    plan shape against the GROWN index: cached batch signature frame,
    banded equijoin, WindowGroupLimit, no nested loop."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["sim_search_index_append"](spark, sf_dir)
    )
    assert "InMemoryTableScan" in plan, plan
    assert "bval" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_release_semantic_gate_and_drop_join_disciplines(spark, sf_dir):
    """pipeline_release_semantic must keep pipeline_release's gate
    shape (the eval-gram side reaches the probe as a BroadcastExchange
    — the corpus streams map-only through the gate) and add the
    semantic drop list as a broadcast join, not a shuffle of the
    manifest. The ONLY nested-loop in the plan is the `with_scalars`
    1-row digest/total attach (a cross join against a literally-1-row
    broadcast — the documented scalar idiom, shared with
    pipeline_release); no data-sized nested loop may appear."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["pipeline_release_semantic"](spark, sf_dir)
    )
    import re

    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # formatted plans print each node in the tree AND a details
    # header — count unique node headers, not raw substrings
    assert (
        len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    ), plan


def test_release_semantic_prod_plan_disciplines(spark, sf_dir):
    """pipeline_release_semantic_prod must keep the release gate
    shape (broadcast eval-gram probe, broadcast semantic drop list,
    exactly one 1-row with_scalars BroadcastNestedLoopJoin) while its
    semantic branch plans as the PROD banded pipeline: cached
    signature frame, banded ID-only equijoin, WindowGroupLimit top-k
    — no CartesianProduct anywhere."""
    import re

    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["pipeline_release_semantic_prod"](spark, sf_dir)
    )
    assert "BroadcastExchange" in plan, plan
    assert "InMemoryTableScan" in plan, plan
    assert "bval" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert (
        len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1
    ), plan


def test_simhash_cap_is_single_window_with_group_limit(spark, sf_dir):
    """The per-doc output bound (round 9) must plan as ONE Window
    operator (row_number over doc_a) downstream of the pair distinct
    — and Spark's rank-limit pushdown must insert WindowGroupLimit,
    which caps each doc's group to SIMHASH_TOPK rows BEFORE full
    window evaluation (on a saturated corpus that pre-cut, not the
    filter after the window, is what keeps the cap cheap)."""
    import re

    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["dedup_simhash"](spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert len(re.findall(r"\(\d+\) Window\n", plan)) == 1, plan
    assert "row_number" in plan, plan


def test_model_iter_udf_is_arrow_map_only(spark, sf_dir):
    """The iterator-form pandas UDF must plan as ArrowEvalPython over
    the pruned 2-column scan with NO Exchange anywhere — per-worker
    model init plus streaming batches is a pure map."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(registry.QUERIES["udf_model_iter"](spark, sf_dir))
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan, plan
    assert "Exchange" not in plan, plan


def test_model_iter_udf_streams_multiple_batches(spark, sf_dir):
    """Force tiny Arrow batches so each task's iterator sees MANY
    batches, and verify the scores still match a pure-Python replay —
    catches an implementation that only consumes the first batch or
    leaks state between batches."""
    import pyarrow.parquet as pq

    from crime_data_batch_processing_spark.operators.udfs import (
        MODEL_W_CHARS,
        MODEL_W_DIGITS,
        MODEL_W_TOKENS,
        MODEL_W_UPPER,
    )

    with scoped_conf(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "16"}):
        got = {
            r.doc_id: r.model_score
            for r in registry.QUERIES["udf_model_iter"](
                spark, sf_dir
            ).collect()
        }
    tab = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    for doc_id, text in zip(
        tab.column("doc_id").to_pylist(), tab.column("text").to_pylist()
    ):
        expected = (
            MODEL_W_CHARS * len(text)
            + MODEL_W_TOKENS * (text.count(" ") + 1)
            + MODEL_W_DIGITS * sum(c.isdigit() for c in text)
            + MODEL_W_UPPER * sum("A" <= c <= "Z" for c in text)
        )
        assert got[doc_id] == expected, doc_id


def test_eval_decontaminate_broadcast_probe_and_pool_cut(spark, sf_dir):
    """The release-gate composition must keep its two scale-critical
    shapes: the eval-gram probe is a BROADCAST join (eval suites are
    MBs against a corpus-sized explode — the text_decontaminate
    shape), and the BM25 audit pool's per-query top-k window is
    pre-cut by WindowGroupLimit so pool candidates are trimmed before
    the rank shuffle, not after."""
    from crime_data_batch_processing_spark.plans import (
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["pipeline_eval_decontaminate"](spark, sf_dir)
    assert uses_broadcast_join(df)
    assert "WindowGroupLimit" in physical_plan(df)


def test_hard_negatives_broadcast_probe_and_pool_cut(spark, sf_dir):
    """The near-verbatim exclusion probe joins the corpus's exploded
    grams against the panel-sized query-gram set — that side must
    BROADCAST (a shuffled gram join would move the whole exploded
    corpus); the mining pool's per-query top-k window must pre-cut
    via WindowGroupLimit before its rank Exchange."""
    from crime_data_batch_processing_spark.plans import (
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["sample_hard_negatives"](spark, sf_dir)
    assert uses_broadcast_join(df)
    assert "WindowGroupLimit" in physical_plan(df)


def test_cluster_balanced_sample_has_group_limit(spark, sf_dir):
    """The per-cluster quota cut must plan as WindowGroupLimit:
    per-partition top-k heaps trim to CB_QUOTA before the rank
    shuffle, so the sampling pass moves O(k·quota) rows — a plain
    Window would sort and shuffle every assignment row."""
    from crime_data_batch_processing_spark.plans import physical_plan

    df = registry.QUERIES["sample_cluster_balanced"](spark, sf_dir)
    assert "WindowGroupLimit" in physical_plan(df)


def test_keyword_extract_group_limit_and_broadcasts(spark, sf_dir):
    """The per-doc keyword cut must plan as WindowGroupLimit (trim to
    k per document before the rank shuffle), riding text_tfidf's
    verified broadcast shape for the df/idf joins."""
    from crime_data_batch_processing_spark.plans import (
        physical_plan,
        uses_broadcast_join,
    )

    df = registry.QUERIES["text_keyword_extract"](spark, sf_dir)
    assert "WindowGroupLimit" in physical_plan(df)
    assert uses_broadcast_join(df)


def test_banded_candidate_distinct_keeps_compute_width(spark, sf_dir):
    """The exact-cosine stage above the banded candidate distinct is
    compute-dense (~200 long ops/pair) while the ID-pair exchange is
    ~16 B/row — AQE's byte-based coalescing shrank it to ~6 partitions
    at sf0.1 and serialized the cosine onto 6 of 32 cores (r15:
    kernel exec 1.92 s -> 0.93 s once fixed). The candidate pairs must
    therefore reach the distinct through a USER-SPECIFIED hash
    repartition on (vec_a, vec_b) — REPARTITION_BY_NUM is exempt from
    AQE coalescing and the distinct reuses the partitioning, so the
    plan keeps one exchange at compute width."""
    from crime_data_batch_processing_spark.plans import physical_plan

    plan = physical_plan(
        registry.QUERIES["dedup_embedding_lsh"](spark, sf_dir)
    )
    assert "REPARTITION_BY_NUM" in plan, plan
    # the repartition must be the keyed one feeding the distinct, not
    # only the round-robin input spread
    assert "hashpartitioning(vec_a" in plan, plan


def test_local_frame_is_a_typed_local_table_scan(spark):
    """Driver-built lookup tables must plan as a JVM-side
    LocalTableScan (never a pickled Python RDD scan, which runs
    Python-worker tasks on every evaluation), typed exactly by the
    DDL — nullability included — with empty input and None cells
    supported. A Decimal cell in a double column raises (the list
    createDataFrame raised FIELD_DATA_TYPE_UNACCEPTABLE) instead of
    being silently rounded."""
    from decimal import Decimal

    import pyarrow as pa
    import pytest
    from pyspark.sql.types import StructType

    from crime_data_batch_processing_spark.plans import physical_plan
    from crime_data_batch_processing_spark.sources.tables import local_frame

    ddl = "k bigint not null, x double, s string"
    rows = [(1, 0.5, "a"), (2, None, None)]
    df = local_frame(spark, rows, ddl)
    plan = physical_plan(df)
    assert "LocalTableScan" in plan, plan
    assert "ExistingRDD" not in plan, plan
    assert df.schema == StructType.fromDDL(ddl)
    assert [tuple(r) for r in df.collect()] == rows

    empty = local_frame(spark, [], ddl)
    assert "LocalTableScan" in physical_plan(empty)
    assert empty.schema == StructType.fromDDL(ddl)
    assert empty.collect() == []

    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, [(1, Decimal("1.5"))], "k bigint, x double")


def test_driver_tables_are_built_only_by_local_frame():
    """Source guard: under the library, `createDataFrame` appears only
    inside `sources.tables.local_frame`, and no SQL `FROM VALUES`
    literal table is built anywhere — every driver-side table takes
    the one Arrow LocalRelation path."""
    import ast
    import re
    from pathlib import Path

    lib = Path(registry.__file__).parent
    tables = lib / "sources" / "tables.py"
    fn = next(
        n
        for n in ast.parse(tables.read_text()).body
        if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )
    allowed = {(tables, i) for i in range(fn.lineno, fn.end_lineno + 1)}
    stray, values = [], []
    for path in sorted(lib.rglob("*.py")):
        text = path.read_text()
        for i, line in enumerate(text.splitlines(), 1):
            if "createDataFrame" in line and (path, i) not in allowed:
                stray.append(f"{path.relative_to(lib)}:{i}")
        for m in re.finditer(r"\bFROM\s+VALUES\b", text, re.IGNORECASE):
            line_no = text.count("\n", 0, m.start()) + 1
            values.append(f"{path.relative_to(lib)}:{line_no}")
    assert not stray, stray
    assert not values, values


def test_banded_oracles_materialize_sig_and_scored():
    """Every oracle that defines a `sig` CTE marks `sig` and `scored`
    MATERIALIZED and never `q`. DuckDB inlines a non-materialized CTE
    at every reference, so an un-hinted `sig` re-runs the per-bit
    signature expression once per band arm (the 128-bit media and
    prod-kNN oracles then exhaust memory at sf0.001), while a
    materialized `q` only slows the chain down."""
    import re

    banded = {k: v for k, v in registry.ORACLES.items() if " sig AS " in v}
    assert banded, "no banded oracle found"
    for key, sql in banded.items():
        assert re.search(r"\bsig AS MATERIALIZED \(", sql), key
        assert re.search(r"\bscored AS MATERIALIZED \(", sql), key
        assert not re.search(r"\bq AS MATERIALIZED\b", sql), key


def test_signature_index_layout_lives_in_two_functions():
    """Source guard: the persisted signature index is written only by
    `similarity.write_sig_index` and read only by
    `similarity.knn_inc_probe`. No other library function both
    computes band rows and writes, and no other function that handles
    hyperplane signatures spells an `…/index` or `…/bands` path next
    to a parquet read or write."""
    import ast
    from pathlib import Path

    lib = Path(registry.__file__).parent
    sig_names = {
        "_signature",
        "_with_sig_cols",
        "signature_frame",
        "band_rows_of",
        "write_sig_index",
        "knn_inc_probe",
    }
    writers, readers = set(), set()
    for path in sorted(lib.rglob("*.py")):
        for fn in ast.parse(path.read_text()).body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            nodes = list(ast.walk(fn))
            names = {n.id for n in nodes if isinstance(n, ast.Name)}
            attrs = {n.attr for n in nodes if isinstance(n, ast.Attribute)}
            layout = any(
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and n.value.endswith(("/index", "/bands"))
                for n in nodes
            )
            where = f"{path.relative_to(lib)}:{fn.name}"
            if "band_rows_of" in names and "write" in attrs:
                writers.add(where)
            if layout and "parquet" in attrs and names & sig_names:
                readers.add(where)
    assert writers == {"operators/similarity.py:write_sig_index"}, writers
    assert readers == {
        "operators/similarity.py:write_sig_index",
        "operators/similarity.py:knn_inc_probe",
    }, readers


def test_curation_stages_are_defined_once():
    """Source guard for the shared curation stages. Outside f-strings
    (the oracle SQL spells the same names): the `QM_W_*` quality
    weights are read only in `quality_logit`, the `release_digest`
    column is named only in `_card_finish`, and only `_keep_first`
    groups by `digest` and takes `min("doc_id")`."""
    import ast
    from pathlib import Path

    lib = Path(registry.__file__).parent
    weights, digests, keep_first = set(), set(), set()
    for path in sorted(lib.rglob("*.py")):
        for top in ast.parse(path.read_text()).body:
            nodes, todo = [], [top]
            while todo:
                n = todo.pop()
                if not isinstance(n, ast.JoinedStr):
                    nodes.append(n)
                    todo.extend(ast.iter_child_nodes(n))
            calls = [
                n
                for n in nodes
                if isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
            ]

            def called(attr, arg, calls=calls):
                return any(
                    c.func.attr == attr
                    and any(
                        isinstance(a, ast.Constant) and a.value == arg
                        for a in c.args
                    )
                    for c in calls
                )

            name = getattr(top, "name", "<module>")
            where = f"{path.relative_to(lib)}:{name}"
            if any(
                isinstance(n, ast.Name)
                and isinstance(n.ctx, ast.Load)
                and n.id.startswith("QM_W_")
                for n in nodes
            ):
                weights.add(where)
            if any(
                isinstance(n, ast.Constant) and n.value == "release_digest"
                for n in nodes
            ):
                digests.add(where)
            if called("groupBy", "digest") and called("min", "doc_id"):
                keep_first.add(where)
    assert weights == {"operators/text_analysis.py:quality_logit"}, weights
    assert digests == {"operators/pipeline.py:_card_finish"}, digests
    assert keep_first == {"operators/pipeline.py:_keep_first"}, keep_first


def test_batch_stream_twins_share_one_body():
    """Source guard for the batch/stream twins: `session_window`, the
    two-argument `window("ts", "1 hour")` and `dsum_merge("sum_value")`
    are each called in exactly one library function, and no two inline
    `@query(oracle=...)` literals of 8 or more source lines are equal
    after whitespace normalization (a twin registers the shared
    oracle instead of a copy)."""
    import ast
    from collections import defaultdict
    from pathlib import Path

    lib = Path(registry.__file__).parent

    def name_of(func):
        return getattr(func, "attr", getattr(func, "id", None))

    def consts(call):
        return [a.value if isinstance(a, ast.Constant) else None for a in call.args]

    sessions, hourly, merges = set(), set(), set()
    oracles = defaultdict(list)
    for path in sorted(lib.rglob("*.py")):
        src = path.read_text()
        for top in ast.parse(src).body:
            where = f"{path.relative_to(lib)}:{getattr(top, 'name', '<module>')}"
            for n in ast.walk(top):
                if isinstance(n, ast.Call):
                    fn = name_of(n.func)
                    if fn == "session_window":
                        sessions.add(where)
                    if fn == "window" and consts(n) == ["ts", "1 hour"]:
                        hourly.add(where)
                    if fn == "dsum_merge" and consts(n) == ["sum_value"]:
                        merges.add(where)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    for d in n.decorator_list:
                        if not (isinstance(d, ast.Call) and name_of(d.func) == "query"):
                            continue
                        for kw in d.keywords:
                            lit = kw.value
                            if kw.arg != "oracle" or not isinstance(
                                lit, (ast.Constant, ast.JoinedStr)
                            ):
                                continue
                            if lit.end_lineno - lit.lineno + 1 >= 8:
                                text = " ".join(ast.get_source_segment(src, lit).split())
                                oracles[text].append(f"{path.relative_to(lib)}:{n.name}")
    assert sessions == {"operators/time_windows.py:session_agg"}, sessions
    assert hourly == {"operators/time_windows.py:hourly_agg"}, hourly
    assert merges == {"operators/timeseries.py:fold_partials"}, merges
    copies = [fns for fns in oracles.values() if len(fns) > 1]
    assert not copies, copies


#: The library's duplicated-window count this guard holds: 8-line
#: windows, whitespace-normalized, comment and blank lines dropped,
#: at least 200 characters, counted once per distinct window seen at
#: two or more places. The four left are two windows of the import
#: block `operators/pipeline.py` and `operators/similarity.py` share
#: and two of the index-lifecycle prelude `sim_search_index_append`
#: and `sim_search_index_maintain` share.
MAX_DUPLICATED_WINDOWS = 4


def test_copied_mechanisms_are_defined_once():
    """Source guard for the mechanisms with one definition each: the
    O_EXCL lockfile election and its `os.utime` heartbeat (one
    function, `fixtures.acquire_lock`); the kNN `directed AS (` CTE
    and the quantized `CAST(SUM(__ax * __bx)` dot (one SQL builder
    each); the chunk-start `F.sequence(..., CHUNK_STRIDE)` (one
    function); `MIXTURE_BUDGET_NUM` and `MIN_DISTINCT_RATIO` (read by
    one Spark stage and one SQL builder each); and the library's
    duplicated 8-line windows, at most MAX_DUPLICATED_WINDOWS."""
    import ast
    from collections import defaultdict
    from pathlib import Path

    lib = Path(registry.__file__).parent

    def is_attr(n, base, attr):
        return (
            isinstance(n, ast.Attribute)
            and n.attr == attr
            and isinstance(n.value, ast.Name)
            and n.value.id == base
        )

    def top_name(top):
        targets = [t.id for t in getattr(top, "targets", []) if isinstance(t, ast.Name)]
        return getattr(top, "name", None) or ",".join(targets) or "<module>"

    uses = defaultdict(set)
    windows = defaultdict(set)
    for path in sorted(lib.rglob("*.py")):
        rel = str(path.relative_to(lib))
        src = path.read_text()
        for top in ast.parse(src).body:
            where = f"{rel}:{top_name(top)}"
            for n in ast.walk(top):
                if is_attr(n, "os", "O_EXCL"):
                    uses["O_EXCL"].add(where)
                if is_attr(n, "os", "utime"):
                    uses["utime"].add(where)
                if isinstance(n, ast.Constant) and isinstance(n.value, str):
                    if "directed AS (" in n.value:
                        uses["directed"].add(where)
                    if "CAST(SUM(__ax * __bx)" in n.value:
                        uses["qdot"].add(where)
                if (
                    isinstance(n, ast.Call)
                    and is_attr(n.func, "F", "sequence")
                    and any(
                        isinstance(a, ast.Name) and a.id == "CHUNK_STRIDE"
                        for arg in n.args
                        for a in ast.walk(arg)
                    )
                ):
                    uses["chunk_starts"].add(where)
                if isinstance(n, ast.Name) and n.id in (
                    "MIXTURE_BUDGET_NUM",
                    "MIN_DISTINCT_RATIO",
                ) and isinstance(n.ctx, ast.Load):
                    uses[n.id].add(where)
        lines = [
            (i, " ".join(ln.split()))
            for i, ln in enumerate(src.splitlines(), 1)
            if ln.strip() and not ln.strip().startswith("#")
        ]
        for k in range(len(lines) - 7):
            text = "\n".join(s for _, s in lines[k : k + 8])
            if len(text) >= 200:
                windows[text].add(f"{rel}:{lines[k][0]}")

    assert uses["O_EXCL"] == {"fixtures.py:acquire_lock"}, uses["O_EXCL"]
    assert uses["utime"] == {"fixtures.py:acquire_lock"}, uses["utime"]
    assert uses["directed"] == {"operators/similarity.py:sql_knn_ranked_ctes"}, uses[
        "directed"
    ]
    assert uses["qdot"] == {"functions/veckit.py:sql_qdot"}, uses["qdot"]
    assert uses["chunk_starts"] == {"operators/chunking.py:chunk_stage"}, uses[
        "chunk_starts"
    ]
    assert uses["MIXTURE_BUDGET_NUM"] == {
        "operators/filters.py:mixture_sample",
        "operators/filters.py:sql_mixture_sample",
    }, uses["MIXTURE_BUDGET_NUM"]
    assert uses["MIN_DISTINCT_RATIO"] == {
        "operators/pipeline.py:gopher_keep",
        "operators/pipeline.py:_SQL_GOPHER_KEEP",
    }, uses["MIN_DISTINCT_RATIO"]
    copies = sorted(sorted(locs) for locs in windows.values() if len(locs) > 1)
    assert len(copies) <= MAX_DUPLICATED_WINDOWS, copies


def test_verify_first_lists_registered_keys():
    """`__spark_entry__._VERIFY_FIRST` names only registered keys, each
    once, and at most 50 of them (the driver's per-run check budget);
    `_ordered` would otherwise drop a misspelt entry silently."""
    import sys
    from pathlib import Path

    root = str(Path(registry.__file__).resolve().parents[1])
    if root not in sys.path:
        sys.path.insert(0, root)
    import __spark_entry__

    first = __spark_entry__._VERIFY_FIRST
    assert len(first) <= 50, len(first)
    assert len(set(first)) == len(first), sorted(
        k for k in set(first) if first.count(k) > 1
    )
    missing = [k for k in first if k not in registry.QUERIES]
    assert not missing, missing
