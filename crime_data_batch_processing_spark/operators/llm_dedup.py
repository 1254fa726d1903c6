"""Near-duplicate detection over `documents` / `embeddings`: exact
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine (P38 + the
LLM-pipeline dedup family; exact dedup lives in functions/exact —
`dedup_exact`).

The reference has no dedup of any kind (SURVEY.md §2.2). This module
implements the standard corpus-dedup ladder, each rung trading recall
for scalability:

1. `dedup_ngram_jaccard` — ground truth. All-pairs via a
   shared-shingle join. Exact, but the join blows up on common
   shingles: at 100 TB this is the oracle you sample against, not the
   operator you run.
2. `dedup_minhash` — MinHash signatures + banded LSH. Only documents
   that collide in ≥1 band meet in the shuffle; candidate pairs are
   then *verified* with the exact Jaccard, so false positives are
   eliminated and only sub-threshold recall is probabilistic. This is
   the 100 TB path: cost is linear in corpus size + collisions.
3. `dedup_simhash` — 64-bit SimHash + banded Hamming search. One
   64-bit fingerprint per doc (cheapest storage), pigeonhole banding
   guarantees recall for Hamming ≤ 7 at 8 bands.
4. `dedup_embedding` — semantic near-dup on embedding cosine; exact
   decimal math (functions/veckit) so the oracle matches bit-for-bit.
   The all-pairs form here is test-scale; `sim_search_lsh` shows the
   bucketed form.

Everything is Catalyst expressions + joins — the signature math is
JVM-side array lambdas, never Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from crime_data_batch_processing_spark.cachekit import track
from crime_data_batch_processing_spark.fixtures import build_once, scratch_dir
from crime_data_batch_processing_spark.functions.textkit import (
    SHINGLE_K,
    jaccard,
    shingles_of,
    sql_shingles,
    tokens,
)
from crime_data_batch_processing_spark.functions.veckit import (
    descale,
    idot,
    quantize,
    sql_cosine,
    sql_qdot,
)
from crime_data_batch_processing_spark.operators.similarity import (
    banded_scored_pairs,
    knn_inc_probe,
    knn_rank_directed,
    signature_frame,
    sql_knn_ranked_ctes,
    sql_pair_cand_ctes,
    sql_weak_scored_ctes,
    write_sig_index,
    _SQL_QUANT,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    spread_table,
)

JACCARD_THRESHOLD = 0.4
#: MinHash: 32 hash functions in 8 bands of 4 rows. Collision prob at
#: the 0.4 threshold: 1-(1-0.4^4)^8 ≈ 19% per band set… per-BAND
#: p=j^4, overall 1-(1-j^4)^8 — ≈0.95 at j=0.8, ≈0.999 at j=0.9; the
#: planted near-dups sit at j≈0.98 (recall asserted in tests).
MINHASH_FUNCS = 32
MINHASH_BANDS = 8
MINHASH_ROWS = MINHASH_FUNCS // MINHASH_BANDS
#: SimHash: 8 bands × 8 bits; pigeonhole ⇒ any pair with Hamming ≤ 7
#: shares at least one band, so candidate generation is lossless for
#: the ≤7 radius.
SIMHASH_BITS = 64
SIMHASH_BANDS = 8
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_THRESHOLD = 7
#: Per-doc output bound for `dedup_simhash`: each doc_a keeps its
#: SIMHASH_TOPK nearest neighbors (hamming asc, doc_b asc). On real
#: Zipfian text the radius-7 pair set is sparse and the cap never
#: binds — the max per-doc degree ever observed on driver data is 120
#: (sf0.1) — but on a vocabulary-saturated corpus every fingerprint
#: converges and the UNCAPPED pair set is quadratic (186M pairs at
#: the 500k-doc soak tier). The cap turns worst-case output
#: O(n²) into O(n·k); dedup consumers only need nearest neighbors,
#: never the full pair list.
SIMHASH_TOPK = 128
COSINE_THRESHOLD = 0.4
#: `dedup_embedding_lsh_prod`: the PRODUCTION semantic-dedup regime —
#: near-identical pairs (cos ≥ 0.85), 64-bit hyperplane signature in
#: 8 bands × 8 bits. At p = per-bit sign agreement ≥ 0.95 (cos ≥
#: 0.95), per-band collision p^8 ≈ 0.66 and recall across 8 bands ≈
#: 1-(1-0.66)^8 > 0.9999, while near-orthogonal pairs (p ≈ 0.5)
#: collide with probability ≈ 8·0.5^8 ≈ 3% — the pruning/recall
#: trade the 18-bit weak-neighbor layout cannot reach (see
#: `dedup_embedding_lsh`'s docstring).
PROD_LSH_BITS = 64
PROD_LSH_BANDS = 8
PROD_LSH_BAND_BITS = PROD_LSH_BITS // PROD_LSH_BANDS
PROD_COSINE_THRESHOLD = 0.85
#: The driver corpus has NO pairs in the production regime (max true
#: cosine 0.60 at sf0.1), so the key PLANTS deterministic near-
#: duplicates to carry ground truth: every PLANT_EVERY-th vector gets
#: a copy at vec_id + PLANT_OFFSET whose quantized elements are
#: jittered by a value-and-id-derived integer in [-1000, 1000] —
#: ≈0.8% per element, cos(original, copy) ≈ 0.9999. Planting is pure
#: integer arithmetic on the ALREADY-QUANTIZED vectors, so the DuckDB
#: oracle replays the augmented corpus bit-for-bit (the standard
#: planted-ground-truth evaluation for dedup pipelines).
PLANT_EVERY = 20
PLANT_OFFSET = 10_000_000


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle sets, persisted: every dedup plan references this frame
    from 2-4 branches (both sides of a self-join, then verification),
    and without a persist each branch re-runs tokenize+shingle from
    the scan. MEMORY_AND_DISK spills instead of OOMing at scale —
    derived signature state is O(corpus) and persisting it once is the
    standard trade against recomputing it per branch."""
    docs = spread_table(spark, sf_dir, "documents")
    # filter on the TOKEN count (equivalent: shingles are non-empty
    # iff ≥ k tokens) — a filter on size(sh) would inline and
    # re-evaluate the whole shingle expression a second time
    return (
        docs.select("doc_id", tokens("text").alias("toks"))
        .where(F.size("toks") >= SHINGLE_K)
        .select("doc_id", shingles_of(F.col("toks")).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )


#: Shared CTE prelude (shingle sets → exploded shingles → pair
#: intersection counts) for every oracle that scores all
#: shingle-sharing pairs — one copy of the pair algebra, however many
#: measures are derived from it.
_SQL_PAIR_PRELUDE = f"""
    WITH sh AS (
        SELECT doc_id, {sql_shingles('text')} AS sh
        FROM documents
        WHERE len({sql_shingles('text')}) > 0
    ), ex AS (
        SELECT doc_id, unnest(sh) AS g FROM sh
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )"""

_SQL_PAIR_BASE = f"""{_SQL_PAIR_PRELUDE}
    SELECT p.doc_a, p.doc_b,
           p.n_inter::DOUBLE / (len(sa.sh) + len(sb.sh) - p.n_inter) AS jaccard
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
"""


def _band_rows(with_sh: DataFrame) -> DataFrame:
    """(doc_id, band, bhash) LSH index rows: 32 minhashes in 8 bands
    of 4 — each doc contributes exactly MINHASH_BANDS rows whatever
    its size. Shared by the self-join dedup and the incremental
    index-probe dedup.

    NB: the per-function salt is closed over OUTSIDE the lambda's
    parameter list — an extra `i=i` default would change the arity
    PySpark inspects and silently turn this into the (element,
    index) two-arg form of `transform`. Salting via a leading int
    argument to xxhash64 (multi-arg hashing chains state) — no
    per-shingle string concat allocation.
    """

    def _minhash(i: int) -> F.Column:
        salt = F.lit(i)
        return F.array_min(
            F.transform(F.col("sh"), lambda s: F.xxhash64(salt, s))
        )

    sig = F.array(*[_minhash(i) for i in range(MINHASH_FUNCS)])
    return (
        with_sh.select("doc_id", sig.alias("sig"))
        .select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[
                                    F.element_at(
                                        "sig", b * MINHASH_ROWS + r + 1
                                    )
                                    for r in range(MINHASH_ROWS)
                                ]
                            ).alias("bhash"),
                        )
                        for b in range(MINHASH_BANDS)
                    ]
                )
            ).alias("bb"),
        )
        .select("doc_id", "bb.band", "bb.bhash")
    )


def _pair_counts(with_sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b) for every shingle-sharing
    pair — the one Spark-side pair-intersection pipeline, from which
    Jaccard (`dedup_ngram_jaccard`) and containment
    (`dedup_containment`) are each one derived column."""
    ex = with_sh.select("doc_id", F.explode("sh").alias("g"))
    pairs = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = with_sh.select("doc_id", F.size("sh").alias("n_sh"))
    return pairs.join(
        sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
            "n_sh", "n_a"
        ),
        "doc_a",
    ).join(
        sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed(
            "n_sh", "n_b"
        ),
        "doc_b",
    )


def _verified_pairs(cand: DataFrame, with_sh: DataFrame) -> DataFrame:
    """Join candidate (doc_a, doc_b) pairs back to shingle sets and
    compute the EXACT Jaccard — the verification step that makes LSH
    output trustworthy."""
    a = with_sh.select(
        F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")
    )
    b = with_sh.select(
        F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            jaccard(inter, F.size("sh_a"), F.size("sh_b")).alias("jaccard"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"{_SQL_PAIR_BASE} WHERE p.n_inter::DOUBLE / (len(sa.sh) + len(sb.sh) - p.n_inter) >= {JACCARD_THRESHOLD}",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-trigram Jaccard near-dup pairs (ground truth).

    Shape: shingle → explode → self-equi-join on the shingle →
    count(intersection) per pair → Jaccard from the pre-computed set
    sizes. The join key is the shingle string, so only pairs that
    share at least one trigram are ever materialized — still
    worst-case quadratic on hot shingles, which is exactly why the
    MinHash rung exists.
    """
    counted = _pair_counts(_doc_shingles(spark, sf_dir))
    return (
        counted.select(
            "doc_a",
            "doc_b",
            jaccard(F.col("n_inter"), F.col("n_a"), F.col("n_b")).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


@query(
    "dedup_minhash",
    # The registered output is the EXACT-VERIFIED pair set — candidate
    # generation is LSH (hash-function-dependent), but every emitted
    # pair carries the exact Jaccard and passes the same threshold as
    # the ground-truth operator, so the output is SQL-expressible:
    # it equals the exact pair set whenever banded-LSH recall is 1.0,
    # which holds deterministically on this corpus (fixed xxhash64
    # salts; verified at sf0.001 and sf0.01, and the planted near-dups
    # sit at j≈0.98 where the per-pair miss probability is ~1.6e-9).
    # That equality is a PER-CORPUS property, guarded explicitly by
    # tests/test_llm_ops.py::test_minhash_oracle_validity_full_recall —
    # on a corpus where banding misses an above-threshold pair, the
    # guard (not the driver) fails with instructions: re-tune
    # bands/rows or switch this key to a recall-contract output.
    # Sub-threshold recall remains probabilistic and is asserted
    # separately in tests/test_llm_ops.py.
    oracle=f"{_SQL_PAIR_BASE} WHERE p.n_inter::DOUBLE / (len(sa.sh) + len(sb.sh) - p.n_inter) >= {JACCARD_THRESHOLD}",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-verified.

    Signature: for each of 32 hash functions h_i, the minimum of
    xxhash64(i-salt ++ shingle) over the document's shingle set — the
    classic permutation-min estimator, built as one array-lambda
    expression per hash function (JVM, no Python). Banding: 8 bands
    of 4 signature slots; a pair is a candidate iff some band hashes
    equal. Candidates are then verified with the exact Jaccard and
    filtered at the same threshold as the ground-truth operator, so
    precision is 1.0 by construction and only recall is probabilistic
    (tests assert it on the planted near-dups).

    Scale: each doc contributes exactly 8 (band, band_hash) rows —
    the shuffle is 8× corpus cardinality regardless of document size,
    and only colliding docs join. This is the 100 TB dedup plan.
    """
    return near_dup_pairs(spark, sf_dir)


def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production near-dup pair base: banded-MinHash candidates,
    exact-Jaccard verified at JACCARD_THRESHOLD — (doc_a < doc_b,
    jaccard). Shared by `dedup_minhash` and every consumer of the
    near-dup graph (`dedup_clusters`, `dedup_clusters_star`, the
    graph_* keys), whose oracles stay on the exact pair algebra:
    output equality holds under the same guarded full-recall property
    as `dedup_minhash`'s oracle (see that key's registration note and
    tests/test_llm_ops.py::test_minhash_oracle_validity_full_recall).

    Why consumers use this instead of `dedup_ngram_jaccard`: the
    shared-shingle join's candidate mass is sum_g df(g)^2 — on a
    vocabulary-saturated corpus (the builder soak tiers) it measured
    ~n^2 growth and dragged every downstream graph/cluster key
    superlinear, while banding keeps candidate generation at 8
    rows/doc + true collisions. The exact-Jaccard twin remains
    registered as ground truth.
    """
    with_sh = _doc_shingles(spark, sf_dir)
    banded = (
        _band_rows(with_sh)
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    # persisted AND materialized before the self-join: two cold
    # branches in one job would otherwise race the cache and each run
    # the 32-hash signature pipeline (the count also fills the
    # upstream shingle cache in the same pass)
    banded.count()
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verified_pairs(cand, with_sh).where(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def _sql_hexfold(expr: str) -> str:
    """DuckDB: parse an 8-hex-digit string to BIGINT (== Spark CONV)."""
    return (
        f"list_reduce(list_transform(string_split({expr}, ''), "
        f"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        f"(a, x) -> a * 16 + x)"
    )


def _sql_simhash_pairs() -> str:
    """Generated DuckDB oracle for `dedup_simhash`: recompute the md5
    token bits, the 64 votes, the packed fingerprint, then score ALL
    pairs with bit_count(xor) at the Hamming radius — the all-pairs
    form is exactly what Spark's banded search returns, because the
    pigeonhole banding is lossless for radius ≤ BAND count - 1."""
    votes = ", ".join(
        f"SUM(CASE WHEN (({'lo' if j < 32 else 'hi'} >> {j % 32}) & 1) = 1 "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j in range(SIMHASH_BITS)
    )
    # bit 63 is the sign bit: 2^63 overflows a signed BIGINT literal,
    # so it is added as min-long (same two's-complement bit pattern
    # Spark's shiftleft(1L, 63) produces)
    pack = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END"
        for j in range(SIMHASH_BITS - 1)
    )
    pack += (
        f" + CASE WHEN v{SIMHASH_BITS - 1} > 0 "
        "THEN (-9223372036854775807 - 1) ELSE 0 END"
    )
    return f"""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
    ), h AS (
        SELECT doc_id,
               {_sql_hexfold("substring(md5(t), 1, 8)")} AS lo,
               {_sql_hexfold("substring(md5(t), 9, 8)")} AS hi
        FROM tok
    ), votes AS (
        SELECT doc_id, {votes} FROM h GROUP BY doc_id
    ), fp AS (
        SELECT doc_id, {pack} AS simhash FROM votes
    )
    , pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_THRESHOLD}
    ), ranked AS (
        SELECT doc_a, doc_b, hamming,
               ROW_NUMBER() OVER (PARTITION BY doc_a
                                  ORDER BY hamming ASC, doc_b ASC) AS rk
        FROM pairs
    )
    SELECT doc_a, doc_b, hamming FROM ranked WHERE rk <= {SIMHASH_TOPK}
    """


@query("dedup_simhash", oracle=_sql_simhash_pairs())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprints + banded Hamming-radius pairs.

    Fingerprint: per bit j, sum sign(bit j of hash(token)) over the
    token multiset (so term frequency weights, as in Charikar's
    construction); bit j of the fingerprint is the sign of that sum.
    The token hash is the first 64 bits of md5 — chosen over xxhash64
    because md5 is byte-identical across engines, which makes the
    whole operator SQL-expressible and lets the DuckDB oracle verify
    fingerprints and pairs bit-for-bit (a production deployment would
    swap in xxhash64 for speed; the operator shape is unchanged).
    Candidate generation: split the 64 bits into 8 byte-bands; by
    pigeonhole, Hamming distance ≤ 7 forces at least one equal band.
    Pairs are scored with the true `bit_count(a XOR b)` and filtered
    at radius 7 — band collisions beyond the radius are dropped, so
    the pair set is exactly {pairs : hamming ≤ 7}, found without an
    all-pairs comparison (the oracle does run the all-pairs form:
    same set, by the pigeonhole guarantee). Output is then BOUNDED
    per doc: each doc_a keeps its SIMHASH_TOPK nearest neighbors
    (hamming asc, doc_b asc — a total order, so the cut is
    deterministic and the oracle replays it exactly). On driver-scale
    data the cap never binds (max degree 120 « 128); on a
    vocabulary-saturated corpus it turns the quadratic raw pair set
    (186M pairs at the 500k-doc soak tier) into O(n·k) — the form a
    production dedup actually consumes. The banded JOIN still pays
    the collision mass on such a corpus (that is intrinsic to SimHash
    under fingerprint convergence); the cap bounds what crosses the
    final shuffle and lands in the sink.

    Shape: explode tokens → hash-aggregate with 64 conditional SUMs
    (one per bit) → pack the signs into one int64. The per-bit vote
    counting stays inside whole-stage codegen this way; the
    array-lambda formulation (aggregate() per bit) is a
    CodegenFallback and measured ~4× slower. The shuffle carries one
    (doc_id, two-longs) row per token — partial aggregation
    map-side combines, so at 100 TB the exchange is bounded by
    docs × 64 longs, not corpus tokens.
    """
    docs = spread_table(spark, sf_dir, "documents")
    hashed = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .select("doc_id", F.md5("tok").alias("m"))
        .select(
            "doc_id",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("lo"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("hi"),
        )
    )

    # The 64 vote sums and the 64-term packing are built as SQL expr
    # STRINGS, not Column-API chains: each Column operator is a Py4J
    # round-trip plus an eager re-analysis of the growing Dataset, and
    # this 64-wide tree measured 1.1-1.5 s of pure DRIVER time per
    # build (driver cost is real at any scale; measured A/B: plan
    # 1.48 s → 0.23 s warm, byte-identical output, same exec).
    # The parsed expressions are the SAME resolved tree, so codegen
    # and the oracle equivalence are untouched. Packing joins with `|`
    # over disjoint bit terms — exactly the bitwiseOR fold it replaces.
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(CASE WHEN (shiftrightunsigned("
                f"{'lo' if j < 32 else 'hi'}, {j % 32}) "
                f"& CAST(1 AS BIGINT)) = 1 THEN 1 ELSE -1 END) AS v{j}"
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    packed = " | ".join(
        f"(CASE WHEN v{j} > 0 THEN shiftleft(CAST(1 AS BIGINT), {j}) "
        f"ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    fps = votes.selectExpr("doc_id", f"({packed}) AS simhash")
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
                        .alias("bval"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bval").persist(
        StorageLevel.MEMORY_AND_DISK  # self-joined below; 64-bit
        # fingerprint math would otherwise run once per side
    ).transform(track)
    bands.count()  # materialize before the self-join (cache race)
    return (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("long")  # oracle side is BIGINT; bit_count is int32
            .alias("hamming"),
        )
        # radius filter BEFORE distinct: band collisions are mostly
        # far pairs (a hot 8-bit bucket is quadratic), and filtering
        # them in the join's output stage means the distinct only
        # shuffles the few surviving near pairs, not every collision
        .where(F.col("hamming") <= HAMMING_THRESHOLD)
        .distinct()
        # per-doc output bound (see SIMHASH_TOPK): (hamming, doc_b) is
        # a total order, so the cut is deterministic cross-engine; the
        # distinct's hash shuffle already co-located nothing useful, so
        # this window is the plan's only doc_a-partitioned exchange
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_a").orderBy(
                    F.col("hamming").asc(), F.col("doc_b").asc()
                )
            ),
        )
        .where(F.col("rk") <= SIMHASH_TOPK)
        .drop("rk")
    )


@query(
    "dedup_embedding",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (semantic dedup).

    All-pairs self-join with exact decimal cosine (veckit) — catches
    paraphrase-level duplicates that no lexical method sees. The
    quadratic form is the test-scale ground truth; at 100 TB the same
    scoring runs behind LSH bucketing (see `sim_search_lsh`) or an
    ANN index, exactly as MinHash gates the Jaccard verifier.
    """
    emb = spread_table(spark, sf_dir, "embeddings")
    # quantize and compute norms per VECTOR, before the pair join —
    # the O(n²) stage then runs only primitive long multiply-adds
    # (the oracle recomputes per pair — exact math, same values)
    with_q = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
    with_q = with_q.select(
        "vec_id", "q", descale(idot(F.col("q"), F.col("q"))).alias("nsq")
    )
    a = with_q.select(
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("nsq").alias("na"),
    )
    b = with_q.select(
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("nsq").alias("nb"),
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            (
                descale(idot(F.col("qa"), F.col("qb")))
                / F.sqrt(F.col("na") * F.col("nb"))
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= COSINE_THRESHOLD)
    )


def _sql_embedding_lsh() -> str:
    """Full-value DuckDB oracle for `dedup_embedding_lsh`: the weak
    scored chain (`similarity.sql_weak_scored_ctes` — signature,
    banding, bucket-collision pairs, exact-cosine verify, the same
    signature/band SQL as `sim_search_lsh`, so both engines bucket
    identically) cut at the threshold."""
    return f"""
    WITH {sql_weak_scored_ctes()}
    SELECT vec_a, vec_b, cos_sim FROM scored
    WHERE cos_sim >= {COSINE_THRESHOLD}
    """


@query("dedup_embedding_lsh", oracle=_sql_embedding_lsh())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup at scale: hyperplane-LSH candidate pairs →
    exact-cosine verify — the non-all-pairs rung of the embedding
    family, exactly as MinHash gates `dedup_ngram_jaccard`.

    Shape: one packed signature per vector (Arrow matmul, reusing
    `sim_search_lsh`'s integer planes), band-exploded into
    (band, bval) buckets; only bucket collisions meet in the
    self-join, and only the ID pair crosses that shuffle — vectors are
    re-attached afterwards via two key joins, so the candidate join
    never carries 64-element arrays. Candidates then pay the exact
    decimal cosine (same math as `dedup_embedding`), so precision is
    exact and only sub-threshold recall is probabilistic (asserted
    against the all-pairs output in tests). Cost: linear in corpus +
    collisions vs the exact path's O(n²).

    Measured pruning honesty (sf0.1, 2000 vectors): this corpus's
    true near-dup pairs sit at cosine 0.40-0.60 (median 0.42 →
    per-bit sign agreement p ≈ 0.64), the known regime where sign-LSH
    saturates — the 6×3-bit bands keep 55% of all pairs as
    candidates at recall 0.71, because no band geometry delivers both
    pruning and recall at p ≈ 0.64 (recall/band = p^r, candidates
    ∝ bands·2^-r; at r where 2^-r is small, p^r is too).
    Production semantic dedup thresholds (cos ≥ 0.85, p ≥ 0.82) are
    where the mechanism earns its keep: 8 bands × 8 bits of a 64-bit
    signature gives ~0.85 recall at ~3% candidate ratio — same code,
    wider signature, tighter bands. The constants here deliberately
    follow `sim_search_lsh`'s weak-neighbor tuning so the two share
    one verified signature pipeline on this corpus.
    """

    emb = spread_table(spark, sf_dir, "embeddings")
    with_q = signature_frame(
        emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
    )
    return banded_scored_pairs(with_q).where(
        F.col("cos_sim") >= COSINE_THRESHOLD
    )


def _planted_quantized(emb: DataFrame) -> DataFrame:
    """Quantized corpus AUGMENTED with planted near-duplicates:
    (vec_id, q) for every input vector, plus a jittered copy of every
    PLANT_EVERY-th one at vec_id + PLANT_OFFSET. The jitter is a pure
    function of (element value, vec_id) — integer arithmetic both
    engines replay exactly; see the PLANT_* constants.

    Guard: a corpus with vec_id ≥ PLANT_OFFSET would let planted ids
    collide with real ids (duplicate vec_id rows silently corrupting
    the verify join-backs), so every input row asserts vec_id <
    PLANT_OFFSET — as a FILTER on `assert_true` (always-NULL → the
    filter keeps every row), not a select column, because column
    pruning would silently drop an unreferenced guard column. Runs
    JVM-side in codegen; a future over-sized tier fails loudly
    instead of corrupting results. Current tiers top out at 32k
    vectors, so the guard never fires today."""
    guarded = emb.where(
        F.assert_true(
            F.col("vec_id") < F.lit(PLANT_OFFSET),
            F.concat(
                F.lit(
                    "planted-duplicate id collision: corpus vec_id "
                ),
                F.col("vec_id").cast("string"),
                F.lit(f" >= PLANT_OFFSET ({PLANT_OFFSET}); raise "
                      "PLANT_OFFSET above max(vec_id)"),
            ),
        ).isNull()
    )
    base = guarded.select(
        "vec_id", quantize(F.col("embedding")).alias("q")
    )
    # jitter FIRST, offset the id in a second select: with both in one
    # select list, Spark's lateral-column-alias resolution binds the
    # lambda's `vec_id` to the earlier `vec_id + OFFSET` alias rather
    # than the input column (DuckDB binds the input column) — the two
    # engines then jitter by different values
    planted = (
        base.where(F.col("vec_id") % PLANT_EVERY == 0)
        .select(
            "vec_id",
            F.transform(
                "q",
                lambda x: x
                + ((F.abs(x) * 7 + F.col("vec_id")) % 2001)
                - 1000,
            ).alias("q"),
        )
        .select((F.col("vec_id") + PLANT_OFFSET).alias("vec_id"), "q")
    )
    return base.unionByName(planted)


def _sql_prod_scored_ctes(
    corpus_extra: str = "", gen_a: bool = True
) -> str:
    """Shared WITH-body prefix for every production-geometry oracle
    (`dedup_embedding_lsh_prod`, `sim_search_knn_graph_prod`,
    `dedup_semantic`): the planted augmentation, the 64-bit
    signature, the 8×8-bit banding, the bucket-collision candidates,
    and the exact quantized-cosine scoring. The cosine runs over the
    QUANTIZED arrays (the planted copies never had float form): exact
    integer dot → one HUGEINT→DOUBLE rounding → /10^12 (exactly
    representable) — the same single rounding as Spark's
    descale(idot(...)), so the values are bit-identical. Ends with
    the `scored(vec_a, vec_b, cos_sim)` CTE; callers append their own
    final shape. `corpus_extra` splices additional UNION ALL arms
    into the corpus CTE (each must select vec_id, qe from `base`) —
    the append-lifecycle oracle adds a second plant generation this
    way. `gen_a=False` omits the first plant generation entirely:
    the maintain-lifecycle oracle models a corpus from which curation
    PURGED generation A, so its rows must not exist anywhere in the
    chain (not merely be filtered from the final cut)."""

    qcos = (
        f"({sql_qdot('ca.qe', 'cb.qe')} / "
        f"sqrt({sql_qdot('ca.qe', 'ca.qe')} * {sql_qdot('cb.qe', 'cb.qe')}))"
    )
    gen_a_arm = (
        f"""
        UNION ALL
        SELECT vec_id + {PLANT_OFFSET} AS vec_id,
               list_transform(qe,
                   x -> x + ((abs(x) * 7 + vec_id) % 2001) - 1000) AS qe
        FROM base WHERE vec_id % {PLANT_EVERY} = 0"""
        if gen_a
        else ""
    )
    return f"""base AS (
        SELECT vec_id, {_SQL_QUANT.format(e='embedding')} AS qe
        FROM embeddings
    ), corpus AS MATERIALIZED (
        SELECT vec_id, qe FROM base
        {gen_a_arm}
        {corpus_extra}
    ), q AS (SELECT vec_id, qe FROM corpus
    ), {sql_pair_cand_ctes(PROD_LSH_BITS, PROD_LSH_BANDS, PROD_LSH_BAND_BITS)},
    scored AS MATERIALIZED (
        SELECT cand.vec_a, cand.vec_b, {qcos} AS cos_sim
        FROM cand
        JOIN corpus ca ON ca.vec_id = cand.vec_a
        JOIN corpus cb ON cb.vec_id = cand.vec_b
    )"""


def _sql_embedding_lsh_prod() -> str:
    """Full-value DuckDB oracle for `dedup_embedding_lsh_prod` — the
    shared prod CTE chain (see `_sql_prod_scored_ctes`) cut at the
    production threshold."""
    return f"""
    WITH {_sql_prod_scored_ctes()}
    SELECT vec_a, vec_b, cos_sim FROM scored
    WHERE cos_sim >= {PROD_COSINE_THRESHOLD}
    """


@query("dedup_embedding_lsh_prod", oracle=_sql_embedding_lsh_prod())
def dedup_embedding_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup in the PRODUCTION regime: cos ≥ 0.85 pairs via
    a 64-bit hyperplane signature banded 8×8 — the configuration
    `dedup_embedding_lsh`'s docstring names as where sign-LSH earns
    its keep, proven here as an oracle-checked key rather than a
    comment.

    Same pipeline shape as the weak-neighbor key (signature once per
    vector, band-explode, ID-only bucket self-join, exact quantized-
    cosine verify on candidates) with the production constants: at
    near-identical pairs (per-bit agreement p ≥ 0.95) recall across
    8 bands exceeds 0.9999, while near-orthogonal pairs collide in
    ~3% of cases — the candidate ratio that kept the weak layout off
    the s100 soak tier (55% candidates) drops two orders of
    magnitude, which is what makes this rung hold at 100 TB.

    Ground truth: the driver corpus's true pairs top out at cosine
    0.60, so the operator PLANTS deterministic near-duplicates
    (PLANT_* constants) — 5% of vectors get an integer-jittered copy
    at cos ≈ 0.9999 — and finds exactly those pairs back. The oracle
    replays augmentation, signature, banding, and verify bit-for-bit,
    so correctness never rests on the (probabilistic) recall; the
    full-recall property vs the exact all-pairs twin is asserted
    separately (tests/test_llm_ops.py) at fixture scale, and the
    recall analysis above covers the planted regime analytically.
    """

    emb = spread_table(spark, sf_dir, "embeddings")
    with_q = signature_frame(
        _planted_quantized(emb), bits=PROD_LSH_BITS
    )
    return banded_scored_pairs(
        with_q, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
    ).where(F.col("cos_sim") >= PROD_COSINE_THRESHOLD)


def _sql_knn_graph_prod_ctes() -> str:
    """Shared prod kNN-graph CTE chain: the prod scored pairs
    symmetrized and ranked into `ranked(src, rank, dst, cos_sim)`.
    Used by the `sim_search_knn_graph_prod` oracle and, as the edge
    input, by `dedup_semantic`'s."""
    return f"{_sql_prod_scored_ctes()}, {sql_knn_ranked_ctes()}"


def _sql_knn_graph_prod() -> str:
    """Full-value DuckDB oracle for `sim_search_knn_graph_prod`:
    the shared prod CTE chain (plant → signature → banding →
    quantized-cosine scoring, see `_sql_prod_scored_ctes`) symmetrized
    into both directions and cut to every vector's top-KNN_K by
    (cos_sim DESC, dst ASC)."""
    return f"""
    WITH {_sql_knn_graph_prod_ctes()}
    SELECT src, rank, dst, cos_sim FROM ranked
    """


@query("sim_search_knn_graph_prod", oracle=_sql_knn_graph_prod())
def sim_search_knn_graph_prod(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The corpus-wide kNN graph at the PRODUCTION band geometry —
    the rung that holds where `sim_search_knn_graph`'s weak layout
    saturates. Same composition (signature once per vector,
    band-explode, ID-only bucket self-join, exact-cosine join-back,
    symmetrize, per-src top-k under WindowGroupLimit) at the 64-bit
    signature banded 8×8, over the PLANTED corpus
    (`_planted_quantized`) so the graph has ground-truth structure to
    find: every planted copy's rank-1 neighbor must be its source at
    cos ≈ 0.9999 (asserted in tests, analogous to the lsh_prod
    recall contract).

    Why both rungs exist: on structureless soak corpora the weak
    18-bit/6×3 layout measured a FLAT 55% candidate mass (quadratic
    pair term — the s100 tier did not finish), while these constants
    hold 3.7–3.8% on the same data (BASELINE.md soak probes). A
    production embedding corpus has near-dup neighbors at cos ≥ 0.85
    (per-bit agreement ≥ 0.95 → recall across 8 bands ≈ 0.9998),
    which is exactly the planted regime this key verifies. The weak
    key stays registered because the driver corpus's far neighbors
    (cos 0.3–0.5) are below any geometry that prunes — recall there
    is the point; here, pruning is.
    """

    emb = spread_table(spark, sf_dir, "embeddings")
    with_q = signature_frame(
        _planted_quantized(emb), bits=PROD_LSH_BITS
    )
    return knn_rank_directed(
        banded_scored_pairs(with_q, PROD_LSH_BANDS, PROD_LSH_BAND_BITS)
    )


#: SemDeDup decision threshold: a document is dropped when any of its
#: kNN-graph neighbors sits at cosine ≥ TAU with a LOWER id (keep-
#: first, the dedup family's canonical rule). 0.9 separates planted
#: copies (cos ≈ 0.9999) from everything the corpus exhibits
#: naturally (max 0.60) by a wide margin on both sides.
SEMDEDUP_TAU = 0.9


def sql_semantic_witness_cte(tau: float) -> str:
    """Shared `witness` CTE of the SemDeDup verdict (the SQL twin of
    `semantic_verdict`): per src, the MINIMUM lower-id neighbor at
    cos ≥ tau as the drop witness. Expects a `ranked(src, rank, dst,
    cos_sim)` CTE in scope (either geometry's kNN-graph chain). Used
    by the `dedup_semantic` and `pipeline_release_semantic`
    oracles."""
    return f"""witness AS (
        SELECT src AS vec_id, dst AS witness_id, cos_sim AS witness_cos
        FROM (
            SELECT src, dst, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY dst ASC) AS rn
            FROM ranked
            WHERE cos_sim >= {tau} AND dst < src
        ) WHERE rn = 1
    )"""


def semantic_verdict(
    graph: DataFrame, corpus_ids: DataFrame, tau: float
) -> DataFrame:
    """The SemDeDup keep/drop decision over a kNN edge frame — ONE
    definition for both geometries: drop a member when any of its
    graph neighbors sits at cosine ≥ tau with a LOWER id (keep-first),
    and report the witness (the smallest such neighbor and its
    cosine). `graph` is a `(src, rank, dst, cos_sim)` frame (either
    `sim_search_knn_graph*` key); `corpus_ids` is a 1-column
    (vec_id) frame of every member the verdict must cover. Decisions
    consult ONLY the k·N graph edges, so the stage is O(k·N)
    regardless of corpus size; kept rows carry sentinels (-1/0.0)
    instead of NULLs (nullable ints round-trip float64 in pandas and
    break the driver compare)."""
    qual = graph.where(
        (F.col("cos_sim") >= tau) & (F.col("dst") < F.col("src"))
    )
    w = Window.partitionBy("src").orderBy(F.asc("dst"))
    witness = (
        qual.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("src").alias("vec_id"),
            F.col("dst").alias("witness_id"),
            F.col("cos_sim").alias("witness_cos"),
        )
    )
    return corpus_ids.join(witness, "vec_id", "left").select(
        "vec_id",
        F.col("witness_id").isNull().alias("kept"),
        F.coalesce("witness_id", F.lit(-1))
        .cast("long")
        .alias("witness_id"),
        F.coalesce("witness_cos", F.lit(0.0)).alias("witness_cos"),
    )


def _sql_semantic_dedup() -> str:
    """Full-value DuckDB oracle for `dedup_semantic`: the shared prod
    kNN-graph chain, the shared witness CTE (see
    `sql_semantic_witness_cte`), left-joined onto the full corpus.
    Sentinels (-1 / 0.0) instead of NULLs for kept rows: a nullable
    int column round-trips float64 in pandas and breaks the driver's
    hash compare (the sim_search_rrf lesson)."""
    return f"""
    WITH {_sql_knn_graph_prod_ctes()},
    {sql_semantic_witness_cte(SEMDEDUP_TAU)}
    SELECT c.vec_id,
           (w.vec_id IS NULL) AS kept,
           CAST(COALESCE(w.witness_id, -1) AS BIGINT) AS witness_id,
           CAST(COALESCE(w.witness_cos, 0.0) AS DOUBLE) AS witness_cos
    FROM corpus c LEFT JOIN witness w ON c.vec_id = w.vec_id
    """


@query("dedup_semantic", oracle=_sql_semantic_dedup())
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's curation decision, as a key: per corpus vector, the
    KEEP/DROP verdict derived from the corpus-wide kNN graph — drop a
    document when any of its graph neighbors sits at cosine ≥
    SEMDEDUP_TAU with a lower id (keep-first), and report the witness
    (the smallest such neighbor and its cosine). This is the step a
    semantic-curation pass actually executes over the kNN graph the
    `sim_search_knn_graph*` keys build; the output IS the cleaned-
    corpus manifest plus the audit trail of what was dropped and why.

    Composes two verified kernels and nothing else: the
    production-geometry graph (`sim_search_knn_graph_prod` — planted
    corpus, so there is real structure to drop: every planted copy's
    rank-1 neighbor is its lower-id source at cos ≈ 0.9999, hence
    dropped; nothing natural in this corpus reaches 0.60) and a
    per-src min-witness window + one left join against the corpus
    ids. Drop decisions consult ONLY the k·N graph edges — never the
    pair universe — so the decision stage is O(k·N) regardless of
    corpus size; witness selection is deterministic (min dst) and the
    kept rows carry sentinels (-1/0.0) instead of NULLs (nullable
    ints round-trip float64 in pandas and break the driver compare).

    Exact SemDeDup (Abbas et al.) clusters first and thresholds
    within clusters; the kNN-graph formulation subsumes it — any
    within-cluster above-threshold neighbor IS a graph neighbor at
    these k — while staying one lazy plan over already-verified
    machinery.
    """
    corpus_ids = _planted_quantized(
        load_table(spark, sf_dir, "embeddings")
    ).select("vec_id")
    return semantic_verdict(
        sim_search_knn_graph_prod(spark, sf_dir),
        corpus_ids,
        SEMDEDUP_TAU,
    )


def _sql_knn_inc_prod() -> str:
    """Full-value DuckDB oracle for `sim_search_knn_inc_prod`: the
    union-replay form — signature and bands over the WHOLE planted
    corpus once (persisted index and in-plan increment produce the
    same integers by construction), i.e. the shared prod kNN-graph
    chain restricted to the increment's sources. The restriction IS
    the key's contract: the per-src rank window never mixes sources,
    so the full graph cut to src >= PLANT_OFFSET equals
    index-plus-probe edge-for-edge (the inc-equals-rebuild invariant,
    also pinned as a Spark-vs-Spark test)."""
    return f"""
    WITH {_sql_knn_graph_prod_ctes()}
    SELECT src, rank, dst, cos_sim FROM ranked
    WHERE src >= {PLANT_OFFSET}
    """


@query("sim_search_knn_inc_prod", oracle=_sql_knn_inc_prod())
def sim_search_knn_inc_prod(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL kNN at the PRODUCTION band geometry — the scale
    rung for graph maintenance (the weak 18-bit/6×3 incremental key
    carries a measured candidate-mass caveat; these 64-bit/8×8
    constants hold 3.7–3.8% candidate mass and complete every soak
    tier, BASELINE.md soak probes).

    The ingest story is the planted corpus's own: the persisted
    signature index covers the already-ingested base corpus, and the
    "newly ingested batch" is the planted near-duplicate copies
    (vec_id >= PLANT_OFFSET) — a crawl increment that re-collects
    near-identical content, exactly what an incremental semantic
    index exists to catch. The probe finds each copy's source IN THE
    INDEX at cos ≈ 0.9999 (rank-1, asserted in tests) at
    O(increment × collision fan-in), never re-running the corpus
    self-join.

    Pure composition of verified kernels: `_planted_quantized` (the
    prod family's corpus), `write_sig_index` at the prod constants
    for the persisted index (built once per testdata generation,
    appended on real ingests), and the shared `knn_inc_probe`
    (similarity.py — the same probe `sim_search_knn_inc` runs at
    weak geometry). The scratch kind bakes geometry, plant cadence,
    and offset so any constants change keys a fresh index build
    instead of serving stale signatures (the ZORDER_KIND staleness
    class)."""

    base_dir = scratch_dir(
        f"knninc_prod_b{PROD_LSH_BITS}x{PROD_LSH_BAND_BITS}"
        f"_p{PLANT_EVERY}o{PLANT_OFFSET}_v1",
        sf_dir,
        "embeddings",
    )
    corpus = _planted_quantized(
        spread_table(spark, sf_dir, "embeddings")
    )
    is_inc = F.col("vec_id") >= PLANT_OFFSET
    build_once(base_dir, lambda: write_sig_index(
        corpus.where(~is_inc),
        base_dir,
        PROD_LSH_BITS,
        PROD_LSH_BANDS,
        PROD_LSH_BAND_BITS,
    ))
    inc_q = signature_frame(corpus.where(is_inc), bits=PROD_LSH_BITS)
    return knn_inc_probe(
        inc_q, base_dir, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
    )


#: `dedup_semantic_inc`'s ingest batch: the planted copies (the
#: re-collected near-dups, all DROPPED with their index source as
#: witness) PLUS every base vector ≡ SEMDEDUP_INC_RESIDUE (mod
#: SEMDEDUP_INC_MOD) — novel content with no ≥ tau neighbor anywhere
#: (corpus max true cosine 0.60), all KEPT. Residue 7 is disjoint
#: from the plant cadence's residue class (PLANT_EVERY = 20 ⇒ plant
#: sources ≡ 0 mod 10), so no batch member's own jittered copy can
#: shadow the keep path.
SEMDEDUP_INC_MOD = 10
SEMDEDUP_INC_RESIDUE = 7


def _sql_semantic_inc() -> str:
    """Full-value DuckDB oracle for `dedup_semantic_inc`: the shared
    prod kNN-graph chain + the shared witness CTE, restricted to the
    ingest batch — the union-replay form (the per-src witness from
    the FULL graph equals the witness from index-plus-probe edges,
    because the probe's edges are exactly the graph's restriction to
    batch sources — the invariant `sim_search_knn_inc_prod` pins)."""
    return f"""
    WITH {_sql_knn_graph_prod_ctes()},
    {sql_semantic_witness_cte(SEMDEDUP_TAU)},
    batch AS (
        SELECT vec_id FROM corpus
        WHERE vec_id >= {PLANT_OFFSET}
           OR vec_id % {SEMDEDUP_INC_MOD} = {SEMDEDUP_INC_RESIDUE}
    )
    SELECT c.vec_id,
           (w.vec_id IS NULL) AS kept,
           CAST(COALESCE(w.witness_id, -1) AS BIGINT) AS witness_id,
           CAST(COALESCE(w.witness_cos, 0.0) AS DOUBLE) AS witness_cos
    FROM batch c LEFT JOIN witness w ON c.vec_id = w.vec_id
    """


@query("dedup_semantic_inc", oracle=_sql_semantic_inc())
def dedup_semantic_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL SemDeDup: the keep/drop verdict for the NEWLY
    ingested batch only, decided from the incremental probe's edges
    against the persisted production-geometry index — the curation
    decision a continuously-crawled corpus runs PER INGEST at
    O(increment × collision fan-in), never re-running the corpus
    self-join or re-deciding the whole corpus. Completes the
    incremental story: `dedup_incremental` (exact digests) →
    `sim_search_knn_inc_prod` (graph edges) → this key (the verdict).

    The batch mixes both outcomes deliberately (SEMDEDUP_INC_* note):
    planted near-dup copies are dropped with their INDEX source as
    the witness at cos ≈ 0.9999, and the novel base slice is kept
    with sentinel witness fields — both paths exercised and both
    deterministic. The verdict is the SAME shared `semantic_verdict`
    kernel over the SAME shared `knn_inc_probe` edges; because the
    probe's edges equal the full graph's restriction to batch
    sources (the knn_inc_prod invariant), the batch verdict is
    tuple-identical to `dedup_semantic`'s restriction — pinned by
    test, and the oracle replays exactly that restriction.
    """

    base_dir = scratch_dir(
        f"semdedupinc_b{PROD_LSH_BITS}x{PROD_LSH_BAND_BITS}"
        f"_p{PLANT_EVERY}o{PLANT_OFFSET}"
        f"_m{SEMDEDUP_INC_MOD}r{SEMDEDUP_INC_RESIDUE}_v1",
        sf_dir,
        "embeddings",
    )
    corpus = _planted_quantized(
        spread_table(spark, sf_dir, "embeddings")
    )
    is_batch = (F.col("vec_id") >= PLANT_OFFSET) | (
        F.col("vec_id") % SEMDEDUP_INC_MOD == SEMDEDUP_INC_RESIDUE
    )
    build_once(base_dir, lambda: write_sig_index(
        corpus.where(~is_batch),
        base_dir,
        PROD_LSH_BITS,
        PROD_LSH_BANDS,
        PROD_LSH_BAND_BITS,
    ))
    inc_q = signature_frame(corpus.where(is_batch), bits=PROD_LSH_BITS)
    edges = knn_inc_probe(
        inc_q, base_dir, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
    )
    return semantic_verdict(
        edges, corpus.where(is_batch).select("vec_id"), SEMDEDUP_TAU
    )


#: Second plant GENERATION for the index-append lifecycle key: the
#: same sources re-collected AGAIN with an independent jitter (mult 11
#: vs generation A's 7) at vec_id + 2·PLANT_OFFSET. A second copy of
#: the SAME content is what makes the append non-vacuous: batch B's
#: neighbors include both its base source AND its generation-A sibling
#: — rows that exist in the index ONLY because ingest A appended them.
PLANT2_MULT = 11
PLANT2_OFFSET = 2 * PLANT_OFFSET


def _planted_quantized2(emb: DataFrame) -> DataFrame:
    """`_planted_quantized`'s corpus AUGMENTED with the second plant
    generation (see PLANT2_*): base ∪ A (jitter 7, +PLANT_OFFSET) ∪ B
    (jitter 11, +2·PLANT_OFFSET). Same two-select lateral-alias
    discipline as generation A so both engines jitter by the input
    vec_id."""
    gen_a = _planted_quantized(emb)
    base = gen_a.where(F.col("vec_id") < PLANT_OFFSET)
    gen_b = (
        base.where(F.col("vec_id") % PLANT_EVERY == 0)
        .select(
            "vec_id",
            F.transform(
                "q",
                lambda x: x
                + ((F.abs(x) * PLANT2_MULT + F.col("vec_id")) % 2001)
                - 1000,
            ).alias("q"),
        )
        .select((F.col("vec_id") + PLANT2_OFFSET).alias("vec_id"), "q")
    )
    return gen_a.unionByName(gen_b)


def _sql_corpus_extra_gen_b() -> str:
    """The corpus_extra arm splicing generation B into
    `_sql_prod_scored_ctes` (see PLANT2_*)."""
    return f"""
        UNION ALL
        SELECT vec_id + {PLANT2_OFFSET} AS vec_id,
               list_transform(qe,
                   x -> x + ((abs(x) * {PLANT2_MULT} + vec_id) % 2001)
                        - 1000) AS qe
        FROM base WHERE vec_id % {PLANT_EVERY} = 0"""


def _sql_gen_b_edges(gen_a: bool) -> str:
    """Full-value DuckDB oracle of the persisted-index lifecycle keys:
    the union-replay form over base ∪ A ∪ B (`gen_a=True`,
    `sim_search_index_append`) or base ∪ B (`gen_a=False`,
    `sim_search_index_maintain`, whose curation PURGED generation A:
    `_sql_prod_scored_ctes(gen_a=False)` drops it from the whole
    chain, not merely from the final cut). Signature, banding and
    scoring run over the whole corpus (the persisted index and the
    in-plan batch produce the same integers by construction), and the
    kNN ranking is cut to batch B's sources. The restriction IS the
    contract: the per-src rank window never mixes sources, so the
    full graph cut to src >= PLANT2_OFFSET equals index-plus-probe
    edge-for-edge (the inc-equals-rebuild invariant, pinned as a
    Spark-vs-Spark test). For the maintain key, a generation-A row the
    Spark-side verdict wrongly kept would surface as a probe candidate
    and mismatch this oracle, so the compare checks the purge too."""
    return f"""
    WITH {_sql_prod_scored_ctes(_sql_corpus_extra_gen_b(), gen_a=gen_a)},
    {sql_knn_ranked_ctes()}
    SELECT src, rank, dst, cos_sim FROM ranked
    WHERE src >= {PLANT2_OFFSET}
    """


@query("sim_search_index_append", oracle=_sql_gen_b_edges(gen_a=True))
def sim_search_index_append(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The persisted-index APPEND lifecycle: two successive ingests against ONE index. Ingest A probed the base
    index and APPENDED its signatures and band rows; this key is
    ingest B probing the GROWN index — proving the maintenance story
    the incremental family's docstrings claim ("appended on real
    ingests") as executed code, not prose.

    The fixture build writes the base index (natural corpus), then
    replays ingest A: generation-A planted copies are signed with the
    SAME integers and appended (`write_sig_index(mode="append")`) to
    the index and band files. The query path signs batch B — a SECOND
    re-collection of the same sources with an independent jitter
    (PLANT2_*) — and runs the shared `knn_inc_probe` against the
    grown index. The append is non-vacuous by construction: each B
    member's top-k contains both its base source AND its generation-A
    sibling at cos ≈ 0.9999, and the sibling row exists in the index
    ONLY because ingest A appended it (asserted in tests). Because
    index rows and probe rows carry identical signature integers
    regardless of WHEN they were written, the probe's edges equal the
    full three-generation graph's restriction to B's sources — the
    inc-equals-rebuild invariant at the grown index, which is exactly
    what the oracle replays.

    At 100 TB this is the steady-state shape of index maintenance:
    per-ingest cost O(batch × collision fan-in) for the probe plus
    one linear signature pass for the append; the corpus-sized
    self-join never runs, and the index grows by exactly the ingested
    rows (parquet append = new files, no rewrite of existing ones).
    """

    base_dir = scratch_dir(
        f"knnappend_b{PROD_LSH_BITS}x{PROD_LSH_BAND_BITS}"
        f"_p{PLANT_EVERY}o{PLANT_OFFSET}m{PLANT2_MULT}_v1",
        sf_dir,
        "embeddings",
    )
    corpus = _planted_quantized2(
        spread_table(spark, sf_dir, "embeddings")
    )
    is_a = (F.col("vec_id") >= PLANT_OFFSET) & (
        F.col("vec_id") < PLANT2_OFFSET
    )
    is_b = F.col("vec_id") >= PLANT2_OFFSET

    def build() -> None:
        # ingest 0: the base index (natural corpus only); ingest A:
        # APPEND the batch — the index grows by exactly the ingested
        # rows (new parquet files; the base files are never rewritten)
        geometry = (PROD_LSH_BITS, PROD_LSH_BANDS, PROD_LSH_BAND_BITS)
        write_sig_index(corpus.where(~is_a & ~is_b), base_dir, *geometry)
        write_sig_index(corpus.where(is_a), base_dir, *geometry, mode="append")

    build_once(base_dir, build)
    inc_q = signature_frame(corpus.where(is_b), bits=PROD_LSH_BITS)
    return knn_inc_probe(
        inc_q, base_dir, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
    )


def purge_compact_dir(
    spark: SparkSession, src: str, dst: str, drop_ids: DataFrame
) -> None:
    """Index-artifact maintenance rewrite: purge every row whose
    vec_id curation dropped AND bin-pack the accumulated append files
    in ONE pass — `sinks.compact_dir`'s file-count discipline applied
    to index artifacts (signature rows, band rows), fused with the
    delete propagation so each surviving byte moves exactly once.

    The purge is a broadcast LEFT ANTI join (the drop set is a
    curation verdict — tiny next to the index), so the rewrite stays
    map-only when `coalesce` suffices. The output file count targets
    ceil(pre-purge bytes / TARGET_FILE_BYTES) — an upper bound (the
    purge only shrinks data), so the contract "≤ target files, never
    small-file proliferation" holds without a second listing pass.
    """
    import math

    from crime_data_batch_processing_spark.operators.sinks import (
        TARGET_FILE_BYTES,
        parquet_file_sizes,
    )

    total = sum(parquet_file_sizes(src))
    n_out = max(1, math.ceil(total / TARGET_FILE_BYTES))
    kept = spark.read.parquet(src).join(
        F.broadcast(drop_ids.select("vec_id")), "vec_id", "left_anti"
    )
    n_scan = kept.rdd.getNumPartitions()
    sized = kept.coalesce(n_out) if n_out <= n_scan else kept.repartition(n_out)
    sized.write.mode("overwrite").parquet(dst)


def _maintain_dirs(sf_dir: str) -> dict[str, str]:
    """The maintain fixture's artifact layout, shared with tests: the
    grown signature index under `base` (base overwrite + ingest-A
    append, `write_sig_index`'s index/bands layout), its maintained
    (purged + compacted) twin under `maintained` in the same layout,
    and the curation-drop audit sidecar. One definition so the
    contract tests inspect the exact directories the key builds
    (never respell a fixture kind in a test)."""

    base = scratch_dir(
        f"knnmaint_b{PROD_LSH_BITS}x{PROD_LSH_BAND_BITS}"
        f"_p{PLANT_EVERY}o{PLANT_OFFSET}m{PLANT2_MULT}"
        f"_t{SEMDEDUP_TAU}_v2",
        sf_dir,
        "embeddings",
    )
    maintained = f"{base}/maintained"
    return {
        "base": base,
        "index": f"{base}/index",
        "bands": f"{base}/bands",
        "maintained": maintained,
        "index_m": f"{maintained}/index",
        "bands_m": f"{maintained}/bands",
        "dropped": f"{base}/dropped",
    }


@query("sim_search_index_maintain", oracle=_sql_gen_b_edges(gen_a=False))
def sim_search_index_maintain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The index MAINTENANCE half of the persisted-index lifecycle:
    compaction + curation-driven delete
    propagation, closing build → append → compact/purge. The append
    lifecycle (`sim_search_index_append`) grows the signature/band
    index by new parquet files forever — small-file proliferation,
    the exact problem `sink_compacted` solves for data sinks — and
    when curation DROPS a doc (`dedup_semantic*`'s verdict) its
    signature rows otherwise stay in the index and keep surfacing as
    candidates and witnesses for every future batch.

    Fixture build replays the append lifecycle (base index overwrite,
    ingest A parquet-append), runs the PER-INGEST curation verdict
    over ingest A (the `dedup_semantic_inc` decision: shared
    `knn_inc_probe` + `semantic_verdict` against the base index —
    every generation-A re-upload drops with its base source as
    witness at cos ≈ 0.9999), persists the drop list as an audit
    sidecar, then MAINTAINS both index artifacts with
    `purge_compact_dir` into a `maintained` copy in the same
    index/bands layout: one rewrite per artifact that anti-joins the
    drop set and bin-packs the accumulated files (file-count contract
    asserted in tests/test_plans.py). The query path is ingest B
    probing the MAINTAINED index: its generation-A sibling — rank-1 against the
    merely-grown index (`sim_search_index_append` asserts that) —
    must never surface again, as candidate or witness (asserted in
    tests); the base source still must (rank-1, cos ≈ 0.9999).
    Compaction ALONE is proven edge-preserving separately
    (tests: probe vs compacted-unpurged index equals
    `sim_search_index_append` tuple-for-tuple).

    At 100 TB this is the steady-state maintenance job: the drop set
    is O(curation verdicts) and broadcasts; the rewrite is one linear
    pass over the index (map-only when coalesce suffices), amortized
    across ingests exactly like Delta VACUUM / Iceberg
    rewrite_data_files; probes before and after see identical
    surviving rows because signature integers are a pure function of
    the data. GDPR-delete is the same shape with an external drop
    list. Reference analog: O9/O12's overwrite-forever protocol
    (/root/reference/spark_ingest_script.py:85-105), whose lifecycle
    gaps `snapshot_expire`/`snapshot_restore` close for snapshots and
    this key closes for index artifacts.
    """

    dirs = _maintain_dirs(sf_dir)
    corpus = _planted_quantized2(
        spread_table(spark, sf_dir, "embeddings")
    )
    is_a = (F.col("vec_id") >= PLANT_OFFSET) & (
        F.col("vec_id") < PLANT2_OFFSET
    )
    is_b = F.col("vec_id") >= PLANT2_OFFSET

    def build() -> None:
        # ingest 0 + ingest A: the sim_search_index_append protocol
        # (base overwrite, A parquet-append = new files only), with
        # curation AT INGEST TIME in between: ingest A's per-batch
        # semantic verdict against the already-ingested index (the
        # dedup_semantic_inc decision), audit sidecar persisted
        geometry = (PROD_LSH_BITS, PROD_LSH_BANDS, PROD_LSH_BAND_BITS)
        write_sig_index(
            corpus.where(~is_a & ~is_b), dirs["base"], *geometry
        )
        a_q = signature_frame(corpus.where(is_a), bits=PROD_LSH_BITS)
        semantic_verdict(
            knn_inc_probe(
                a_q, dirs["base"], PROD_LSH_BANDS, PROD_LSH_BAND_BITS
            ),
            a_q.select("vec_id"),
            SEMDEDUP_TAU,
        ).where(~F.col("kept")).write.mode("overwrite").parquet(
            dirs["dropped"]
        )
        write_sig_index(
            corpus.where(is_a), dirs["base"], *geometry, mode="append"
        )
        # MAINTENANCE: purge the dropped rows + bin-pack the append
        # files, one rewrite per artifact
        drop_ids = spark.read.parquet(dirs["dropped"])
        purge_compact_dir(spark, dirs["index"], dirs["index_m"], drop_ids)
        purge_compact_dir(spark, dirs["bands"], dirs["bands_m"], drop_ids)

    build_once(dirs["base"], build)
    inc_q = signature_frame(corpus.where(is_b), bits=PROD_LSH_BITS)
    return knn_inc_probe(
        inc_q, dirs["maintained"], PROD_LSH_BANDS, PROD_LSH_BAND_BITS
    )


#: Safety bound for label propagation — near-dup components are
#: shallow (diameter ≈ cluster size, and clusters are small), so
#: convergence is typically 2-4 rounds; 20 means "something is wrong".
MAX_CC_ROUNDS = 20

_SQL_CLUSTERS = f"""
    WITH RECURSIVE pairs AS (
        {_SQL_PAIR_BASE}
        WHERE p.n_inter::DOUBLE / (len(sa.sh) + len(sb.sh) - p.n_inter)
              >= {JACCARD_THRESHOLD}
    ), e AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b, doc_a FROM pairs
    ), reach(doc_id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.doc_id, e.dst FROM reach JOIN e ON reach.r = e.src
    )
    SELECT doc_id, MIN(r) AS cluster_id,
           (MIN(r) = doc_id) AS is_canonical
    FROM reach GROUP BY doc_id
"""


def connected_components(
    pairs: DataFrame, max_rounds: int = MAX_CC_ROUNDS
) -> DataFrame:
    """Min-label propagation over an undirected pair list
    (doc_a, doc_b) → (doc_id, cluster_id) for every doc touched by a
    pair. Extracted from `dedup_clusters` so pathological topologies
    (paths, stars, cycles — shapes the fixed testdata can't plant) are
    unit-testable directly.

    Each round is one distributed join + min-aggregate; the driver
    reads only a scalar convergence count. `localCheckpoint` truncates
    lineage per round so the plan stays O(1) deep. Rounds ≈ component
    diameter; a path of length > max_rounds raises rather than
    silently returning split components.
    """
    a, b = pairs.columns[:2]
    # symmetrize via ONE explode, not a self-union (as in
    # `knn_rank_directed`): `pairs` is usually the whole banded
    # candidate + exact-verify chain, and a union of two selects over
    # it RUNS that chain once per branch when the persist below
    # materializes — the explode emits both directed rows in the same
    # task, so the chain runs once. Same rows, same downstream math.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(a).alias("src"), F.col(b).alias("dst")
                    ),
                    F.struct(
                        F.col(b).alias("src"), F.col(a).alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    edges.count()  # materialize: referenced twice per round

    # iterate ONLY over docs that appear in some pair — everything
    # else keeps its identity label by definition. At scale this is
    # the difference between looping over the corpus and looping over
    # the (far smaller) near-dup subgraph.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nbr_min = (
            edges.join(
                labels.select(F.col("doc_id").alias("src"), "cluster_id"),
                "src",
            )
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("cluster_id").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, "doc_id")
            .select(
                "doc_id",
                "cluster_id",
                F.least(F.col("cluster_id"), F.col("nbr_min")).alias("next_id"),
            )
            # LAZY checkpoint: the convergence count below is the
            # round's first action, so it both materializes the
            # checkpoint AND returns the scalar — one job per round
            # instead of the eager-checkpoint-then-count two (measured
            # ~0.2-0.3s of per-job overhead per round per key)
            .localCheckpoint(eager=False)
        )
        changed = stepped.where(F.col("next_id") < F.col("cluster_id")).count()
        labels = stepped.select("doc_id", F.col("next_id").alias("cluster_id"))
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"label propagation did not converge in {max_rounds} rounds"
        )
    edges.unpersist()
    return labels


def _clustered(spark: SparkSession, sf_dir: str, labels: DataFrame) -> DataFrame:
    """Project component labels onto the full corpus: docs untouched by
    any pair keep their identity label; canonical = cluster minimum."""
    return (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .select(
            "doc_id",
            "cluster_id",
            (F.col("cluster_id") == F.col("doc_id")).alias("is_canonical"),
        )
    )


@query("dedup_clusters", oracle=_SQL_CLUSTERS)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the near-dup graph: pair detection is
    only half of dedup — this is the other half, turning pairwise
    matches into disjoint clusters with one canonical doc each
    (cluster_id = min doc_id in the component; keep rows where
    is_canonical).

    Algorithm: iterative min-label propagation. Every doc starts
    labeled with itself; each round every doc takes the minimum label
    among itself and its neighbors; fixed point = components. Each
    round is one distributed join + aggregate — the driver only runs
    the loop and reads a scalar convergence count, never row data.
    `localCheckpoint` truncates the lineage per round so the plan
    stays O(1) deep instead of growing with iterations (the classic
    iterative-DataFrame trap).

    Scale: rounds ≈ component diameter, and near-dup clusters are
    shallow, so this converges in a handful of rounds even at 100 TB
    (a path-shaped pathological graph wants the large-star/small-star
    variant [Kiveris et al., "Connected Components in MapReduce",
    SoCC'14], which bounds rounds at O(log n) with the same
    join+min building block). The oracle is a DuckDB recursive CTE
    computing min-reachable-id per doc — same fixed point, different
    engine.

    Pair base: `near_dup_pairs` (banded + exact-verified) — clustering
    at 100 TB must ride the banded rung, not the all-pairs twin; the
    oracle's exact pair algebra still matches under the guarded
    full-recall property.
    """
    pairs = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _clustered(spark, sf_dir, connected_components(pairs))


def connected_components_star(
    pairs: DataFrame, max_rounds: int = MAX_CC_ROUNDS
) -> DataFrame:
    """Large-star / small-star connected components [Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14] —
    converges in O(log n) rounds regardless of graph DIAMETER, where
    plain min-label propagation (`connected_components`) needs
    ~diameter rounds. Same (doc_id, cluster_id) contract.

    Use this variant when components can be deep (chains of pairwise
    near-dups, link graphs); propagation stays the default for
    near-dup clusters, whose diameter is small — star contraction
    costs two grouped passes per round instead of one.

    Each round:
      * large-star: for every node u, connect every LARGER neighbor
        v > u to m = min(N(u) ∪ {u});
      * small-star: connect every neighbor v ≤ u to m.
    Both are one groupBy(min) + join + explode-free projection; the
    edge set monotonically contracts toward star graphs rooted at
    component minima. Fixed point = every edge (v, root).
    """
    a, b = pairs.columns[:2]
    # materialize the raw pair list ONCE — both the edge list and the
    # node-id set derive from it, and `pairs` may be an expensive plan
    # (the Jaccard pipeline) that must not run per consumer
    raw = pairs.select(
        F.col(a).alias("x"), F.col(b).alias("y")
    ).localCheckpoint(eager=True)
    # canonical undirected edge list as (hi, lo) pairs, deduped
    e = (
        raw.select(
            F.greatest(F.col("x"), F.col("y")).alias("u"),
            F.least(F.col("x"), F.col("y")).alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _star(edges: DataFrame, large: bool) -> DataFrame:
        # neighbors of u (both directions), min per u; m = min(N(u)∪{u}).
        # Symmetrized by ONE explode, not a self-union: `edges` is the
        # (un-checkpointed) inner star's whole plan when this is the
        # outer star of a round, and a union would plan/run it per
        # branch (as in `knn_rank_directed`).
        both = edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("u"), F.col("v")),
                    F.struct(
                        F.col("v").alias("u"), F.col("u").alias("v")
                    ),
                )
            ).alias("e")
        ).select("e.u", "e.v")
        m = both.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        nbr = both.join(m, "u")
        keep = F.col("v") > F.col("u") if large else F.col("v") < F.col("u")
        out = nbr.where(keep & (F.col("v") != F.col("m"))).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        if not large:
            # small-star ranges over N(u) ∪ {u}: the node's own (u, m)
            # link must be re-emitted or the contracted edges vanish
            out = out.union(
                m.where(F.col("u") != F.col("m")).select("u", "m")
            )
        return (
            out.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    n_e = e.count()
    for _ in range(max_rounds):
        # LAZY checkpoint + count-gated set equality: the count below
        # materializes the checkpoint (one job, not eager-then-count),
        # and because both edge frames are DISTINCT sets, equality ⟺
        # |e| == |stepped| AND stepped∖e = ∅ — the count gate skips
        # BOTH exceptAll set-differences on every non-final round and
        # the second one always (exceptAll is 2 shuffles each; without
        # the gate that is 2 per round)
        stepped = _star(_star(e, large=True), large=False).localCheckpoint(
            eager=False
        )
        n_s = stepped.count()
        if n_s == n_e and stepped.exceptAll(e).isEmpty():
            e = stepped
            break
        e, n_e = stepped, n_s
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds"
        )
    # fixed point: edges are (node, component_min); nodes that ended up
    # as roots label themselves
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    labeled = members.union(roots).groupBy("doc_id").agg(
        F.min("cluster_id").alias("cluster_id")
    )
    # contract parity with `connected_components`: a doc appearing ONLY
    # in self-pairs (u == v) has no surviving edge after the canonical
    # dedup above, yet the propagation variant labels it — union every
    # id seen in the input back in with its identity label
    ids = (
        raw.select(F.col("x").alias("doc_id"))
        .union(raw.select(F.col("y").alias("doc_id")))
        .distinct()
    )
    return ids.join(labeled, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
    )


@query("dedup_clusters_star", oracle=_SQL_CLUSTERS)
def dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_clusters` computed with the large-star/small-star
    O(log n) contraction instead of min-label propagation — same
    fixed point, same output contract, same oracle.

    Registered as its own query key so the deep-graph variant is
    driver-verified end-to-end (the propagation variant covers the
    shallow-cluster common case; this one covers chain-shaped
    components whose diameter exceeds any fixed round budget).

    Pair base: `near_dup_pairs`, as in `dedup_clusters`.
    """
    pairs = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _clustered(spark, sf_dir, connected_components_star(pairs))


#: Decontamination: the "benchmark" is a deterministic ~1% slice of the
#: corpus (stand-in for a held-out eval set shipped as a small table)
#: and the overlap unit is a 5-token shingle — long enough that chance
#: collisions are rare, short enough to catch paraphrase-free copying.
BENCH_MOD = 97
DECON_K = 5

_SQL_DECON = f"""
    WITH bg AS (
        SELECT DISTINCT unnest({sql_shingles('text', DECON_K)}) AS g
        FROM documents WHERE doc_id % {BENCH_MOD} = 0
    ), corpus AS (
        SELECT doc_id, {sql_shingles('text', DECON_K)} AS sh
        FROM documents WHERE doc_id % {BENCH_MOD} <> 0
    ), hits AS (
        SELECT DISTINCT e.doc_id
        FROM (SELECT doc_id, unnest(sh) AS g FROM corpus) e
        JOIN bg ON e.g = bg.g
    )
    SELECT c.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


@query("text_decontaminate", oracle=_SQL_DECON)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    5-gram with a held-out benchmark set (here a deterministic 1%
    doc_id slice standing in for the eval suite).

    The LLM-pipeline step every serious pretraining run performs —
    a train document containing an eval question verbatim inflates
    downstream scores, so overlapping docs must be flagged/dropped
    before training.

    Shape: the benchmark's distinct 5-gram set is tiny relative to the
    corpus (eval suites are MBs; corpora are TBs), so it BROADCASTS —
    the corpus side then streams map-only through explode → broadcast
    hash join → per-doc distinct, no corpus-sized shuffle on gram
    strings. The flag join back to the doc list shuffles only doc_ids.
    Plan-asserted in tests/test_plans.py; output is the full per-doc
    contamination verdict (downstream pipelines filter on it).
    """
    docs = spread_table(spark, sf_dir, "documents")
    # persisted, not just bound: the frame feeds three branches (bench
    # grams, the hit probe, the verdict spine), and an un-persisted
    # explode re-evaluates the whole shingle transform per OUTPUT gram
    # (GenerateExec inlines the generator child) — measured 10x slower
    # than exploding the materialized arrays at sf0.1
    with_sh = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", shingles_of(F.col("toks"), DECON_K).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    bench_grams = (
        with_sh.where(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode("sh").alias("g"))
        .distinct()
    )
    corpus = with_sh.where(F.col("doc_id") % BENCH_MOD != 0)
    hits = (
        corpus.select("doc_id", F.explode("sh").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .select("doc_id")
        .distinct()
    )
    return (
        corpus.select("doc_id")
        .join(hits.withColumn("hit", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id", F.coalesce("hit", F.lit(False)).alias("contaminated")
        )
    )


#: Span dedup geometry: non-overlapping 8-token chunks (the last may
#: be shorter). ORD_BASE makes (doc_id, pos) totally ordered in one
#: int64 — valid while docs stay under a million spans each.
SPAN_K = 8
ORD_BASE = 1_000_000


@query(
    "text_dedup_spans",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), spans AS (
        SELECT doc_id, u.i AS pos,
               array_to_string(t[u.i * {SPAN_K} + 1 : u.i * {SPAN_K} + {SPAN_K}], ' ')
                   AS span,
               LEAST({SPAN_K}, len(t) - u.i * {SPAN_K})::BIGINT AS span_toks
        FROM t, unnest(range(CAST(ceil(len(t) / {SPAN_K}.0) AS BIGINT))) AS u(i)
    ), firsts AS (
        SELECT span, MIN(doc_id * {ORD_BASE} + pos) AS mo
        FROM spans GROUP BY span
    )
    SELECT s.doc_id,
           COUNT(*)::BIGINT AS n_spans,
           CAST(SUM(CASE WHEN s.doc_id * {ORD_BASE} + s.pos > f.mo
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
           CAST(SUM(CASE WHEN s.doc_id * {ORD_BASE} + s.pos = f.mo
                         THEN s.span_toks ELSE 0 END) AS BIGINT) AS n_kept_tokens
    FROM spans s JOIN firsts f USING (span)
    GROUP BY s.doc_id
    """,
)
def text_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact span dedup: corpus-wide first-occurrence-wins
    over fixed 8-token chunks.

    Document-level dedup (exact/MinHash/SimHash) misses the dominant
    real-world duplication mode: boilerplate SPANS repeated across
    otherwise-distinct pages (headers, license blocks, templated
    paragraphs). The production remedy (Lee et al., "Deduplicating
    Training Data Makes Language Models Better") removes repeated
    substrings; this is its scalable chunked form — the granularity
    is fixed token windows instead of a suffix array, which turns the
    problem into plain relational algebra: chunk → one corpus-wide
    hash aggregate keyed on span text (min (doc_id, pos) = the one
    surviving occurrence) → join back → per-doc survival stats. Two
    shuffles, both O(corpus spans); no all-pairs anything. The first
    occurrence is defined by corpus order, so output is deterministic
    and the oracle replays it exactly.
    """
    docs = spread_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens("text").alias("t"))
    n_spans = F.ceil(F.size("t") / F.lit(SPAN_K)).cast("long")
    spans_arr = F.transform(
        F.sequence(F.lit(0).cast("long"), n_spans - 1),
        lambda i: F.struct(
            F.concat_ws(
                " ", F.slice("t", (i * SPAN_K + 1).cast("int"), SPAN_K)
            ).alias("span"),
            F.least(F.lit(SPAN_K).cast("long"), F.size("t") - i * SPAN_K)
            .alias("span_toks"),
        ),
    )
    ex = (
        t.select("doc_id", F.posexplode(spans_arr).alias("pos", "s"))
        .select(
            "doc_id",
            "pos",
            F.col("s.span").alias("span"),
            F.col("s.span_toks").alias("span_toks"),
        )
    )
    ord_ = F.col("doc_id") * ORD_BASE + F.col("pos")
    firsts = ex.groupBy("span").agg(F.min(ord_).alias("mo"))
    return (
        ex.join(firsts, "span")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(ord_ > F.col("mo"), 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
            F.sum(F.when(ord_ == F.col("mo"), F.col("span_toks")).otherwise(0))
            .cast("long")
            .alias("n_kept_tokens"),
        )
    )


CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_containment",
    oracle=f"""{_SQL_PAIR_PRELUDE}
    SELECT p.doc_a, p.doc_b,
           p.n_inter::DOUBLE / (len(sa.sh) + len(sb.sh) - p.n_inter)
               AS jaccard,
           p.n_inter::DOUBLE / LEAST(len(sa.sh), len(sb.sh)) AS containment
    FROM pairs p
    JOIN sh sa ON sa.doc_id = p.doc_a
    JOIN sh sb ON sb.doc_id = p.doc_b
    WHERE p.n_inter::DOUBLE / LEAST(len(sa.sh), len(sb.sh))
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs: |A∩B| / min(|A|, |B|) — the
    asymmetric measure Jaccard misses.

    A short document quoted whole inside a long one scores near-zero
    Jaccard (the union is dominated by the long doc) but containment
    ≈ 1: this is the doc-in-doc duplication mode — syndicated
    articles inside aggregator pages, READMEs vendored into repos —
    that pure Jaccard dedup leaves in the corpus. Same shared-shingle
    join shape as `dedup_ngram_jaccard` (and the same MinHash gating
    applies at 100 TB — containment LSH reuses the banded candidates,
    only the verify formula changes), so the extra measure costs one
    more arithmetic column, not another pass.

    Emits `jaccard` alongside `containment` so consumers can see
    exactly the asymmetric pairs (high containment, low Jaccard).
    """
    scored = _pair_counts(_doc_shingles(spark, sf_dir)).select(
        "doc_a",
        "doc_b",
        jaccard(F.col("n_inter"), F.col("n_a"), F.col("n_b")).alias("jaccard"),
        (
            F.col("n_inter").cast("double")
            / F.least("n_a", "n_b").cast("double")
        ).alias("containment"),
    )
    return scored.where(F.col("containment") >= CONTAINMENT_THRESHOLD)


#: Incremental-dedup split: every 5th doc is the "new snapshot"; the
#: rest are the already-ingested corpus whose digest/shingle/LSH index
#: is PERSISTED (built once per testdata generation). The snapshot
#: additionally RE-DELIVERS 1-in-7 corpus docs under fresh synthetic
#: ids (re-crawled pages — byte-identical text, new identity), so the
#: exact rung demonstrably fires on this corpus, not just in code.
INC_MOD = 5
REDELIVER_MOD, REDELIVER_REM = 7, 3
REDELIVER_OFFSET = 1_000_000

_SQL_INCREMENTAL = f"""
    WITH inc AS (
        SELECT doc_id, text FROM documents WHERE doc_id % {INC_MOD} = 0
        UNION ALL
        SELECT doc_id + {REDELIVER_OFFSET} AS doc_id, text
        FROM documents
        WHERE doc_id % {INC_MOD} != 0
          AND doc_id % {REDELIVER_MOD} = {REDELIVER_REM}
    ), allq AS (
        SELECT doc_id, text, TRUE AS is_base
        FROM documents WHERE doc_id % {INC_MOD} != 0
        UNION ALL
        SELECT doc_id, text, FALSE AS is_base FROM inc
    ), ex0 AS (
        SELECT i.doc_id AS inc_id, MIN(t.doc_id) AS dup_of
        FROM inc i JOIN allq t
          ON md5(t.text) = md5(i.text)
         AND (t.is_base OR t.doc_id < i.doc_id)
        GROUP BY i.doc_id
    ), sh AS (
        SELECT doc_id, is_base, {sql_shingles('text')} AS sh
        FROM allq
        WHERE len({sql_shingles('text')}) > 0
    ), exg AS (
        SELECT doc_id, is_base, unnest(sh) AS g FROM sh
    ), np AS (
        SELECT b.doc_id AS inc_id, a.doc_id AS t_id, COUNT(*) AS n_inter
        FROM exg a JOIN exg b
          ON a.g = b.g AND NOT b.is_base
         AND (a.is_base OR a.doc_id < b.doc_id)
        GROUP BY 1, 2
    ), near0 AS (
        SELECT np.inc_id, MIN(np.t_id) AS dup_of
        FROM np
        JOIN sh sa ON sa.doc_id = np.t_id
        JOIN sh sb ON sb.doc_id = np.inc_id
        WHERE np.n_inter::DOUBLE / (len(sa.sh) + len(sb.sh) - np.n_inter)
              >= {JACCARD_THRESHOLD}
        GROUP BY np.inc_id
    )
    SELECT i.doc_id,
           CASE WHEN e.dup_of IS NOT NULL THEN 'exact_dup'
                WHEN n.dup_of IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS verdict,
           COALESCE(e.dup_of, n.dup_of) AS dup_of
    FROM inc i
    LEFT JOIN ex0 e ON e.inc_id = i.doc_id
    LEFT JOIN near0 n ON n.inc_id = i.doc_id
"""


@query("dedup_incremental", oracle=_SQL_INCREMENTAL)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: a new snapshot probes the PERSISTED
    index of the already-ingested corpus — never re-deduping the
    corpus against itself.

    This is the shape every continuously-ingested 100 TB corpus needs:
    re-running the corpus-wide self-join per ingest is O(corpus) per
    day, while this is O(increment x collision fan-in). The corpus
    keeps three append-only artifacts (built once here, appended on
    real ingests): an md5 digest table (exact rung), and a banded
    MinHash index + shingle-set table (near rung — same `_band_rows`
    signatures as the self-join operator, so index and probe agree).
    The increment computes its own digests/bands in-plan, probes the
    index on (band, bhash) — a hash join against 8 rows per corpus
    doc — and exact-Jaccard-verifies candidates against the stored
    shingle sets, so precision is exact. Within the increment itself,
    keep-first (lower doc_id wins) breaks symmetry. Verdict precedence
    exact > near; survivors are 'unique'. The oracle replays both
    rungs with ground-truth algebra (all shingle-sharing pairs), so a
    banding recall miss would surface as a hash mismatch — the guard
    the minhash key documents applies here identically.
    """

    base = scratch_dir("incdedup", sf_dir, "documents")
    digest_dir, index_dir, shingle_dir = (
        f"{base}/digest", f"{base}/bands", f"{base}/shingles"
    )
    docs = load_table(spark, sf_dir, "documents")
    is_inc = F.col("doc_id") % INC_MOD == 0

    def build() -> None:
        corpus = docs.where(~is_inc)
        corpus.select("doc_id", F.md5("text").alias("digest")).write.mode(
            "overwrite"
        ).parquet(digest_dir)
        corpus_sh = (
            corpus.select("doc_id", tokens("text").alias("toks"))
            .where(F.size("toks") >= SHINGLE_K)
            .select("doc_id", shingles_of(F.col("toks")).alias("sh"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        corpus_sh.write.mode("overwrite").parquet(shingle_dir)
        _band_rows(corpus_sh).write.mode("overwrite").parquet(index_dir)
        corpus_sh.unpersist()

    build_once(base, build)

    redelivered = docs.where(
        ~is_inc & (F.col("doc_id") % REDELIVER_MOD == REDELIVER_REM)
    ).select(
        (F.col("doc_id") + REDELIVER_OFFSET).alias("doc_id"),
        *[c for c in docs.columns if c != "doc_id"],
    )
    inc = (
        docs.where(is_inc)
        .unionByName(redelivered)
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    inc_digest = inc.select("doc_id", F.md5("text").alias("digest"))
    inc_sh = (
        inc.select("doc_id", tokens("text").alias("toks"))
        .where(F.size("toks") >= SHINGLE_K)
        .select("doc_id", shingles_of(F.col("toks")).alias("sh"))
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    inc_bands = (
        _band_rows(inc_sh).persist(StorageLevel.MEMORY_AND_DISK).transform(
            track
        )
    )
    inc_bands.count()  # fill band+shingle caches once, before reuse

    # target pool: persisted corpus artifacts UNION lower-id increment
    # rows (keep-first inside the snapshot). is_base flags relax the
    # id ordering for corpus targets.
    t_digest = (
        spark.read.parquet(digest_dir)
        .select("doc_id", "digest", F.lit(True).alias("is_base"))
        .unionByName(inc_digest.select(
            "doc_id", "digest", F.lit(False).alias("is_base")))
    )
    exact = (
        inc_digest.alias("i")
        .join(
            t_digest.alias("t"),
            (F.col("t.digest") == F.col("i.digest"))
            & (F.col("t.is_base") | (F.col("t.doc_id") < F.col("i.doc_id"))),
        )
        .groupBy(F.col("i.doc_id").alias("inc_id"))
        .agg(F.min("t.doc_id").alias("exact_of"))
    )
    t_bands = (
        spark.read.parquet(index_dir)
        .select("doc_id", "band", "bhash", F.lit(True).alias("is_base"))
        .unionByName(inc_bands.select(
            "doc_id", "band", "bhash", F.lit(False).alias("is_base")))
    )
    cand = (
        inc_bands.alias("i")
        .join(
            t_bands.alias("t"),
            (F.col("t.band") == F.col("i.band"))
            & (F.col("t.bhash") == F.col("i.bhash"))
            & (F.col("t.is_base") | (F.col("t.doc_id") < F.col("i.doc_id"))),
        )
        .select(
            F.col("i.doc_id").alias("inc_id"),
            F.col("t.doc_id").alias("t_id"),
        )
        .distinct()
    )
    t_sh = spark.read.parquet(shingle_dir).unionByName(inc_sh)
    inter = (
        cand.join(
            t_sh.select(F.col("doc_id").alias("t_id"), F.col("sh").alias("sh_t")),
            "t_id",
        )
        .join(
            inc_sh.select(
                F.col("doc_id").alias("inc_id"), F.col("sh").alias("sh_i")
            ),
            "inc_id",
        )
        .select(
            "inc_id",
            "t_id",
            F.size(F.array_intersect("sh_i", "sh_t")).alias("n_inter"),
            F.size("sh_i").alias("n_i"),
            F.size("sh_t").alias("n_t"),
        )
    )
    near = (
        inter.where(
            F.col("n_inter").cast("double")
            / (F.col("n_i") + F.col("n_t") - F.col("n_inter"))
            >= JACCARD_THRESHOLD
        )
        .groupBy("inc_id")
        .agg(F.min("t_id").alias("near_of"))
    )
    return (
        inc.select("doc_id")
        .join(exact, F.col("doc_id") == exact["inc_id"], "left")
        .drop("inc_id")
        .join(near, F.col("doc_id") == near["inc_id"], "left")
        .drop("inc_id")
        .select(
            "doc_id",
            F.when(F.col("exact_of").isNotNull(), "exact_dup")
            .when(F.col("near_of").isNotNull(), "near_dup")
            .otherwise("unique")
            .alias("verdict"),
            F.coalesce("exact_of", "near_of").alias("dup_of"),
        )
    )
