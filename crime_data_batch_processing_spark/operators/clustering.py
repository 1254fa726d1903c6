"""Distributed k-means over `embeddings` — the learned-centroid path
that `sim_search_ivf`'s strided seeds stand in for (its docstring
names k-means as the production centroid source; this operator IS that
source, so the IVF family is closed end-to-end).

Semantic clustering of a training corpus drives cluster-balanced
sampling, semantic dedup blocking, and IVF index builds. The reference
has nothing learned anywhere (SURVEY.md §2.2).

Scale shape per Lloyd iteration (the classic MapReduce k-means):
* ASSIGN: broadcast the k centroids against the corpus — map-only,
  one pass, no shuffle of vectors;
* UPDATE: per-dimension sums via posexplode → ONE hash aggregate
  keyed (cid, dim) — shuffle carries k·dim rows per task (map-side
  combined), never vectors.
Iterations are a fixed, documented count (KMEANS_ITERS) — at 100 TB
you run Lloyd a bounded number of sweeps, not to convergence.

Cross-engine exactness (the interesting part — float k-means is
run-order chaos): all geometry is integer. Vectors are the standard
×10⁶ int64 quantization (functions/veckit); assignment scores are
exact integer dots over exact integer norms with one fixed IEEE
cast/÷/sqrt sequence and a (score, cid) total-order tie-break;
centroid updates are exact integer per-dim sums floor-divided by the
member count (floor via pmod, which Spark and DuckDB agree on —
truncating `div` would disagree on negative sums). Every iteration is
therefore a pure function of the data, and the DuckDB oracle replays
BOTH iterations value-for-value.

Cosine scale-invariance makes the floor-div mean valid: ranking by
cosine against floor(Σq/n) equals ranking against the true mean up to
the ±1-quantum floor error — and both engines floor identically, so
determinism survives even where the rounding lands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crime_data_batch_processing_spark import cachekit
from crime_data_batch_processing_spark.functions.veckit import idot, quantize
from crime_data_batch_processing_spark.operators.similarity import (
    _SQL_QUANT,
    EMBED_DIM,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.functions.exact import (
    with_scalars,
)
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    spread_table,
)

K_CLUSTERS = 8
KMEANS_ITERS = 2

_SQL_INSQ = (
    "(SELECT CAST(SUM(__x * __x) AS BIGINT) FROM (SELECT unnest({c}) AS __x))"
)
_SQL_IDOT = (
    "(SELECT CAST(SUM(__x * __y) AS DOUBLE) "
    "FROM (SELECT unnest({a}) AS __x, unnest({b}) AS __y))"
)


def _sql_iteration(i: int, cents: str) -> str:
    """CTE fragments for one Lloyd iteration: score against `cents`
    (cid, c, cn) → argmax assignment a{i} → per-dim floor-div mean
    centroids cents{i} (with integer norms)."""
    score = (
        f"{_SQL_IDOT.format(a='v.q', b='ct.c')}"
        " / sqrt(CAST(v.nsq AS DOUBLE) * CAST(ct.cn AS DOUBLE))"
    )
    return f"""
    score{i} AS (
        SELECT v.vec_id, ct.cid, {score} AS score
        FROM corpus v CROSS JOIN {cents} ct
    ), a{i} AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY score DESC, cid DESC) AS rn
            FROM score{i}
        ) WHERE rn = 1
    ), ex{i} AS (
        SELECT a.cid, d.d AS dim, v.q[d.d + 1] AS x
        FROM a{i} a JOIN corpus v USING (vec_id), range({EMBED_DIM}) d(d)
    ), per{i} AS (
        SELECT cid, dim, CAST(SUM(x) AS BIGINT) AS s, COUNT(*)::BIGINT AS cnt
        FROM ex{i} GROUP BY cid, dim
    ), cd{i} AS (
        SELECT cid, dim, (s - ((s % cnt) + cnt) % cnt) // cnt AS cd FROM per{i}
    ), cents{i}0 AS (
        SELECT cid, list(cd ORDER BY dim) AS c FROM cd{i} GROUP BY cid
    ), cents{i} AS (
        SELECT cid, c, {_SQL_INSQ.format(c='c')} AS cn FROM cents{i}0
    )"""


def _sql_kmeans() -> str:
    return f"""
    WITH q0 AS (
        SELECT vec_id, {_SQL_QUANT.format(e='embedding')} AS q
        FROM embeddings
    ), corpus AS (
        SELECT vec_id, q, {_SQL_INSQ.format(c='q')} AS nsq FROM q0
    ), p AS (
        SELECT GREATEST(1, COUNT(*) // {K_CLUSTERS}) AS stride FROM corpus
    ), cents0 AS (
        SELECT CAST(c.vec_id // p.stride AS INT) AS cid, c.q AS c, c.nsq AS cn
        FROM corpus c, p
        WHERE c.vec_id % p.stride = 0 AND c.vec_id // p.stride < {K_CLUSTERS}
    ), {_sql_iteration(1, 'cents0')}, {_sql_iteration(2, 'cents1')}
    SELECT a.vec_id, a.cid,
           CAST(per.cnt AS BIGINT) AS cluster_size
    FROM a2 a
    JOIN (SELECT cid, cnt FROM per2 WHERE dim = 0) per USING (cid)
    """


@query("cluster_kmeans", oracle=_sql_kmeans())
def cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two fixed Lloyd sweeps of k-means over the embedding corpus:
    strided seeds → assign → exact-integer centroid update → assign —
    returning each vector's final cluster and its cluster's size.

    See the module docstring for the scale shape (broadcast assign /
    one (cid, dim)-keyed aggregate per update) and the integer-exact
    determinism contract that lets DuckDB replay both iterations.
    Empty clusters simply drop out of the centroid table (standard
    Lloyd behavior); seeds are vec_id-strided like `sim_search_ivf`,
    production swaps in k-means++ without touching the iteration
    algebra.
    """
    emb = spread_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
    corpus = (
        corpus.select("vec_id", "q", idot(F.col("q"), F.col("q")).alias("nsq"))
        .transform(cachekit.persist)
    )
    n = corpus.count()  # also materializes the quantized corpus once
    stride = max(1, n // K_CLUSTERS)
    cents = corpus.where(
        (F.col("vec_id") % stride == 0)
        & (F.col("vec_id") / stride < K_CLUSTERS)
    ).select(
        (F.col("vec_id") / stride).cast("int").alias("cid"),
        F.col("q").alias("c"),
        F.col("nsq").alias("cn"),
    )

    def assign(cents_df: DataFrame) -> DataFrame:
        score = idot(F.col("q"), F.col("c")).cast("double") / F.sqrt(
            F.col("nsq").cast("double") * F.col("cn").cast("double")
        )
        return (
            with_scalars(corpus, cents_df)
            .select("vec_id", score.alias("score"), "cid")
            .groupBy("vec_id")
            .agg(F.max(F.struct("score", "cid")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"))
        )

    def update(assigned: DataFrame) -> DataFrame:
        ex = assigned.join(corpus, "vec_id").select(
            "cid", F.posexplode("q").alias("dim", "x")
        )
        per = ex.groupBy("cid", "dim").agg(
            F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt")
        )
        # exact floor division via pmod — `div` truncates toward zero
        # and would disagree with the oracle on negative dim-sums
        cd = per.select(
            "cid", "dim", "cnt", F.expr("(s - pmod(s, cnt)) div cnt").alias("cd")
        )
        cents_new = (
            cd.groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("dim", "cd"))).alias("a"),
                F.first("cnt").alias("cluster_size"),
            )
            .select(
                "cid",
                F.transform("a", lambda s: s["cd"]).alias("c"),
                "cluster_size",
            )
        )
        return cents_new.select(
            "cid", "c", idot(F.col("c"), F.col("c")).alias("cn"), "cluster_size"
        )

    for _ in range(KMEANS_ITERS - 1):
        cents = update(assign(cents)).select("cid", "c", "cn")
    final_assign = assign(cents)
    sizes = (
        final_assign.groupBy("cid")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return final_assign.join(sizes, "cid").select(
        "vec_id", "cid", "cluster_size"
    )


#: Incremental split for out-of-sample assignment: every 5th vector is
#: the "new batch"; the rest trained the persisted centroids.
ASSIGN_MOD = 5


def _sql_assign_incremental() -> str:
    """Replay: base-only corpus → 2 Lloyd sweeps → persisted centroids
    → map-only assignment of the increment. Reuses the per-iteration
    CTE fragments of the full k-means oracle, restricted to the
    training split.

    Seed residue is 1, NOT 0: a stride divisible by ASSIGN_MOD would
    put every residue-0 id in the increment split (excluded from the
    training corpus → zero seeds → empty everything). No ``--``
    comments inside the SQL — oracle strings are whitespace-collapsed
    downstream, and a line comment would swallow the rest of the
    query."""
    score = (
        f"{_SQL_IDOT.format(a='v.q', b='ct.c')}"
        " / sqrt(CAST(v.nsq AS DOUBLE) * CAST(ct.cn AS DOUBLE))"
    )
    return f"""
    WITH q0 AS (
        SELECT vec_id, {_SQL_QUANT.format(e='embedding')} AS q
        FROM embeddings WHERE vec_id % {ASSIGN_MOD} != 0
    ), corpus AS (
        SELECT vec_id, q, {_SQL_INSQ.format(c='q')} AS nsq FROM q0
    ), p AS (
        SELECT GREATEST(2, COUNT(*) // {K_CLUSTERS}) AS stride FROM corpus
    ), cents0 AS (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY c.vec_id) - 1 AS INT)
                   AS cid, c.q AS c, c.nsq AS cn
        FROM corpus c, p
        WHERE c.vec_id % p.stride = 1
        QUALIFY ROW_NUMBER() OVER (ORDER BY c.vec_id) <= {K_CLUSTERS}
    ), {_sql_iteration(1, 'cents0')}, {_sql_iteration(2, 'cents1')},
    inc0 AS (
        SELECT vec_id, {_SQL_QUANT.format(e='embedding')} AS q
        FROM embeddings WHERE vec_id % {ASSIGN_MOD} = 0
    ), inc AS (
        SELECT vec_id, q, {_SQL_INSQ.format(c='q')} AS nsq FROM inc0
    ), iscore AS (
        SELECT v.vec_id, ct.cid, {score} AS score
        FROM inc v CROSS JOIN cents2 ct
    )
    SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY score DESC, cid DESC) AS rn
        FROM iscore
    ) WHERE rn = 1
    """


@query("cluster_assign_incremental", oracle=_sql_assign_incremental())
def cluster_assign_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample cluster assignment: a NEW batch of vectors routed
    to PERSISTED centroids — the clustering rung of the incremental
    trilogy (`dedup_incremental` for dedup, the `*_incremental`
    streaming keys for rollups).

    Retraining k-means per ingest is O(corpus x sweeps); production
    trains on a schedule and ASSIGNS incrementally. The fixture runs
    two Lloyd sweeps over the training split once per testdata
    generation and persists the centroid table (k rows of int64
    arrays); each new batch is then map-only — broadcast the
    centroids, score, argmax — zero shuffles over the increment and
    zero touches of the training corpus. Integer-exact geometry
    end-to-end (same algebra as `cluster_kmeans`), so the DuckDB
    oracle replays training AND assignment value-for-value.
    """
    from crime_data_batch_processing_spark.fixtures import (
        build_once,
        scratch_dir,
    )

    # kind carries a build-code version: scratch keys hash inputs, not
    # code, so a changed build must bump the suffix or serve stale state
    # v3: seed-stride floor raised 1 → 2 (degenerate-guard); bump the
    # kind so cached centroids from the v2 build code can't be served
    base_dir = scratch_dir("kmassign_v3", sf_dir, "embeddings")
    cents_path = f"{base_dir}/centroids"
    emb = load_table(spark, sf_dir, "embeddings")
    is_inc = F.col("vec_id") % ASSIGN_MOD == 0

    def _corpus(df: DataFrame) -> DataFrame:
        c = df.select("vec_id", quantize(F.col("embedding")).alias("q"))
        return c.select(
            "vec_id", "q", idot(F.col("q"), F.col("q")).alias("nsq")
        )

    def score_expr():
        return idot(F.col("q"), F.col("c")).cast("double") / F.sqrt(
            F.col("nsq").cast("double") * F.col("cn").cast("double")
        )

    def assign(vecs: DataFrame, cents_df: DataFrame) -> DataFrame:
        return (
            with_scalars(vecs, cents_df)
            .select("vec_id", score_expr().alias("score"), "cid")
            .groupBy("vec_id")
            .agg(F.max(F.struct("score", "cid")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cid"))
        )

    def build() -> None:
        corpus = _corpus(emb.where(~is_inc))
        with cachekit.held(corpus):
            n = corpus.count()
            # floor of 2, NOT 1: residue-1 selection degenerates at
            # stride 1 (x % 1 == 1 is never true → zero seeds → an empty
            # result that would vacuously match the equally-empty oracle
            # on a corpus smaller than 2·K). The oracle applies the same
            # GREATEST(2, …).
            stride = max(2, n // K_CLUSTERS)
            # seeds: every stride-th TRAINING vector by rank (vec_id
            # strides don't work on the gapped split)
            from pyspark.sql import Window as W

            # seed selection: the stride-filtered frame holds ~k rows, so
            # the unpartitioned row_number window here is bounded by k,
            # never by the corpus. Residue 1, NOT 0: when stride is a
            # multiple of ASSIGN_MOD, every id with residue 0 belongs to
            # the increment split and the training corpus would yield
            # zero seeds.
            seeds = (
                corpus.where(F.col("vec_id") % stride == 1)
                .withColumn(
                    "cid",
                    (F.row_number().over(W.orderBy("vec_id")) - 1).cast(
                        "int"
                    ),
                )
                .where(F.col("cid") < K_CLUSTERS)
                .select(
                    "cid", F.col("q").alias("c"), F.col("nsq").alias("cn")
                )
            )
            c = seeds
            for _ in range(KMEANS_ITERS):
                assigned = assign(corpus, c)
                ex = assigned.join(corpus, "vec_id").select(
                    "cid", F.posexplode("q").alias("dim", "x")
                )
                per = ex.groupBy("cid", "dim").agg(
                    F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt")
                )
                cd = per.select(
                    "cid", "dim",
                    F.expr("(s - pmod(s, cnt)) div cnt").alias("cd"),
                )
                c = (
                    cd.groupBy("cid")
                    .agg(
                        F.array_sort(
                            F.collect_list(F.struct("dim", "cd"))
                        ).alias("a")
                    )
                    .select(
                        "cid", F.transform("a", lambda s: s["cd"]).alias("c")
                    )
                    .select(
                        "cid", "c", idot(F.col("c"), F.col("c")).alias("cn")
                    )
                )
            c.write.mode("overwrite").parquet(cents_path)

    build_once(base_dir, build)
    cents = spark.read.parquet(cents_path)
    inc = _corpus(emb.where(is_inc))
    return assign(inc, cents)


#: Cluster-balanced sampling quota: exactly min(CB_QUOTA, |cluster|)
#: vectors per learned cluster. 64 sits INSIDE the driver-data
#: cluster-size range (51-69 at sf0.001/sf0.01), so both behaviors
#: are exercised there — head clusters are capped, tail clusters are
#: taken whole — and every cluster caps at sf0.1 (216-293).
CB_QUOTA = 64


def _sql_cluster_balanced() -> str:
    from crime_data_batch_processing_spark.operators.filters import (
        sql_sample_hash32,
    )

    return f"""
    WITH base AS ({_sql_kmeans()})
    SELECT cid, vec_id, cluster_size, pick FROM (
        SELECT cid, vec_id, cluster_size,
               ROW_NUMBER() OVER (
                   PARTITION BY cid
                   ORDER BY {sql_sample_hash32('vec_id')} ASC, vec_id ASC
               ) AS pick
        FROM base
    ) WHERE pick <= {CB_QUOTA}
    """


@query("sample_cluster_balanced", oracle=_sql_cluster_balanced())
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling: exactly min(CB_QUOTA, |cluster|)
    vectors per LEARNED k-means cluster — the diversity-preserving
    selection a pretraining curation pass runs so head clusters
    (boilerplate-dense semantic regions) cannot dominate the sampled
    corpus, while tail clusters survive whole. `sample_stratified`
    caps strata the data DECLARES (lang); this caps strata the data
    EXHIBITS — the module docstring's "cluster-balanced sampling" use
    case, closed end-to-end (SemDeDup-adjacent curation).

    Composes verified kernels in one lazy plan: `cluster_kmeans`'s
    integer-exact assignment (broadcast-centroid, map-only — the
    oracle replays both Lloyd sweeps value-for-value), then the
    key-deterministic uniform order within each cluster
    (`sample_hash32`, the `sample_split` discipline — re-runs and
    engines agree on WHICH vectors are picked, not just how many)
    with a vec_id tie-break, cut by one per-cluster top-k window.

    Scale shape: the only work beyond the clustering itself is one
    window over (cid)-partitions, and the top-k cut plans as
    WindowGroupLimit — per-partition heaps trim to CB_QUOTA before
    the rank shuffle, so the sample pass moves O(k·quota) rows, not
    the corpus.
    """
    from crime_data_batch_processing_spark.operators.filters import (
        sample_hash32,
    )

    labels = cluster_kmeans(spark, sf_dir)
    w = Window.partitionBy("cid").orderBy(
        sample_hash32(F.col("vec_id")).asc(), F.col("vec_id").asc()
    )
    return (
        labels.withColumn("pick", F.row_number().over(w))
        .where(F.col("pick") <= CB_QUOTA)
        .select("cid", "vec_id", "cluster_size", "pick")
    )
