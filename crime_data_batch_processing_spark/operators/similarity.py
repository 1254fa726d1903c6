"""Approximate-nearest-neighbor search over `embeddings` (P39):
brute-force cosine top-k baseline + random-hyperplane-LSH bucketed
variant.

The reference has nothing vector-shaped (SURVEY.md §1.1: its widest
type is decimal(11,9)). This is the similarity-search half of a
training-data pipeline: retrieval-based filtering, nearest-neighbor
dedup gating, cluster-balanced sampling.

Design for 100 TB:
* the BRUTE-FORCE path broadcasts the (small) query set against the
  corpus — cost |Q|·N exact cosines, embarrassingly parallel, zero
  shuffle beyond the final per-query top-k. Correct baseline, linear
  scan.
* the LSH path computes an 18-bit random-hyperplane signature per
  vector, explodes it into 6 three-bit bands, and joins query↔corpus
  only within colliding buckets — the candidate set shrinks from N to
  the bucket occupancy, which is the difference between scanning the
  corpus per query and probing a slice of it per band. Exact cosine
  re-ranks candidates, so precision of returned neighbors is exact;
  only recall is probabilistic (asserted against brute force in
  tests). An IVF index is the same shape with learned (k-means)
  buckets instead of hyperplane signs.

Both approximate paths are nevertheless DETERMINISTIC functions of the
data — hyperplanes are fixed integer weights (signature bit = sign of
an exact int64 dot product over the quantized vectors) and IVF routing
uses the bit-reproducible decimal cosine with total-order tie-breaks —
so each has a full-value DuckDB oracle that replays the same
bucketing/routing and must match row-for-row, hash-for-hash. The
oracle verifies the index *mechanism*; recall vs. brute force stays a
separate statistical assertion in tests (it is a property of the
geometry, not of either engine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from crime_data_batch_processing_spark.functions.veckit import (
    SCALE_SQ,
    descale,
    idot,
    quantize,
    sql_cosine,
)
from crime_data_batch_processing_spark.cachekit import track
from crime_data_batch_processing_spark.fixtures import build_once, scratch_dir
from crime_data_batch_processing_spark.operators.text_analysis import (
    sql_bm25_ctes,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.functions.exact import (
    with_scalars,
)
from crime_data_batch_processing_spark.sources.tables import (
    load_table,
    spread,
    spread_table,
)

N_QUERIES = 10  # vec_id < 10 are the query vectors
TOP_K = 5
#: IVF geometry: 16 coarse cells, probe the 6 nearest. At 500 vectors
#: that is ~31 vectors/cell and ~37% of the corpus scanned per query;
#: at production scale nlist grows ~sqrt(N) so the scanned fraction
#: shrinks toward nprobe/nlist.
IVF_NLIST = 16
IVF_NPROBE = 6
#: Band geometry tuned for WEAK neighbor structure: this corpus's true
#: top-k sit at cosine ≈ 0.3-0.5 (angle ≈ 60-72°, per-bit sign
#: agreement p ≈ 0.66). Recall across bands = 1-(1-p^r)^b: at 6 bands
#: of 3 bits that is ≈ 0.87; the 4-band × 4-bit layout a clustered
#: production corpus would use gave only ≈ 0.5 here. Tighter bands
#: (more bits per band) buy selectivity exactly when neighbors are
#: close (p → 1); for far neighbors the knob must loosen.
LSH_BITS = 18
LSH_BANDS = 6
LSH_BAND_BITS = LSH_BITS // LSH_BANDS
EMBED_DIM = 64
#: hyperplane weights are INTEGERS in [-2^20, 2^20): the signature bit
#: is then the sign of an exact int64 dot with the (already int64-
#: quantized) vector — overflow-free (64 · 2·10^6 · 2^20 ≈ 1.3·10^14
#: « 2^63) and bit-identical in Spark, NumPy, and the DuckDB oracle.
PLANE_SCALE = 1 << 20
#: Corpus-wide kNN graph: per-vector neighbor count. 8 matches the
#: SemDeDup/kNN-graph literature's small-k regime (the consumer keeps
#: the graph sparse: |E| = k·N, never N²).
KNN_K = 8


def _hyperplanes(bits: int = LSH_BITS) -> list[list[int]]:
    """Deterministic pseudo-random INTEGER hyperplanes in [-2^20, 2^20).

    A fixed-seed 64-bit LCG (MMIX constants) rather than any RNG
    library, so the planes are bit-identical on every platform and
    every run — signature stability is what makes an LSH index
    re-usable across pipeline runs, and integer weights are what make
    the signature exactly reproducible by the SQL oracle (a float
    plane would expose summation-order rounding at the sign boundary).
    """
    state = 42
    planes: list[list[int]] = []
    for _ in range(bits):
        row = []
        for _ in range(EMBED_DIM):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append((state >> 11) % (2 * PLANE_SCALE) - PLANE_SCALE)
        planes.append(row)
    return planes


def _signature(vec, bits: int = LSH_BITS) -> F.Column:
    """Sign signature: bit i = [dot(vec, plane_i) >= 0], computed as
    ONE Arrow-vectorized pandas UDF over the QUANTIZED int64 vectors.
    `bits` selects the plane count (default: the weak-neighbor 18-bit
    layout; `dedup_embedding_lsh_prod` uses 64). At bits=64 the packed
    value wraps into the sign bit — numpy int64 wraparound is
    two's-complement, the same bit pattern the SQL oracle's min-long
    literal produces, so cross-engine equality holds for every width.

    MULTI-WORD PACKING (bits > 64): the
    scale knob of the banded family at a fixed similarity regime is
    signature bits ~ log N, and a single int64 caps it at 64. Above
    64 bits the signature is an ARRAY of int64 words, little-endian
    (word w holds bits [64w, 64w+63]), each word packed with the same
    two's-complement wraparound; `band_rows_of`/`sql_bands_cte` slice
    bands across words (a band never straddles a word — enforced
    there). Consumers at ≤64 bits are unchanged (scalar sig column,
    same plans).

    The dot products are exact int64 arithmetic (integer planes ×
    integer quantized elements, no overflow per PLANE_SCALE bound), so
    the packed signature is a pure function of the data — the DuckDB
    oracle recomputes the identical bits. The expression-level
    alternative (one `aggregate` lambda per plane) is a
    CodegenFallback evaluated interpretively per row per plane — this
    is exactly the case the engine's UDF policy reserves the Arrow
    path for: a dense matrix product the relational algebra can't
    express efficiently. One matmul per Arrow batch:
    (batch × dim) @ (dim × bits) → sign bits → packed words.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    planes = np.array(_hyperplanes(bits), dtype="int64").T  # (dim, bits)
    n_words = (bits + 63) // 64
    weights = np.left_shift(
        np.int64(1), np.arange(planes.shape[1], dtype="int64") % 64
    )

    if n_words == 1:

        @F.pandas_udf(T.LongType())
        def _sig(col):  # (pd.Series of arrays) -> pd.Series[int64];
            # hints omitted — locally-imported pd breaks string-hint
            # resolution
            mat = np.stack(col.to_numpy()).astype("int64")
            sbits = (mat @ planes) >= 0  # exact int64 matmul
            packed = (sbits.astype("int64") * weights).sum(axis=1)
            return pd.Series(packed)

        return _sig(vec)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _sig_words(col):
        mat = np.stack(col.to_numpy()).astype("int64")
        sbits = (mat @ planes) >= 0  # (batch, bits)
        weighted = sbits.astype("int64") * weights
        words = [
            weighted[:, 64 * w : 64 * (w + 1)].sum(axis=1)
            for w in range(n_words)
        ]
        return pd.Series(np.stack(words, axis=1).tolist())

    return _sig_words(vec)


def _with_sig_cols(corpus_q, bits: int = LSH_BITS):
    """(vec_id, q) → (vec_id, q, nsq, sig): exact squared norm plus
    the packed hyperplane signature, computed ONCE per vector. The
    un-persisted building block — use `signature_frame` on any query
    path (an un-persisted sig inlined under a band explode re-runs
    the Arrow matmul per emitted band row)."""
    return corpus_q.select(
        "vec_id",
        "q",
        descale(idot(F.col("q"), F.col("q"))).alias("nsq"),
        _signature(F.col("q"), bits=bits).alias("sig"),
    )


def signature_frame(corpus_q, bits: int = LSH_BITS):
    """`_with_sig_cols` persisted (MEMORY_AND_DISK), cachekit-tracked,
    and materialized: the form every query-path banded consumer reads,
    so the band explode and both exact-cosine join-backs hit the cache
    and the Arrow signature matmul runs once per vector."""
    out = (
        _with_sig_cols(corpus_q, bits)
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    out.count()
    return out


def band_rows_of(
    with_sig, bands: int = LSH_BANDS, band_bits: int = LSH_BAND_BITS
):
    """Explode (vec_id, ..., sig) into (vec_id, band, bval) rows —
    `bands` rows per vector, the banded index/probe unit. When the
    geometry spans more than one 64-bit word (bands·band_bits > 64,
    the multi-word layouts of `_signature`), band b is sliced out of
    word (b·band_bits) // 64 of the array-typed sig; a band must lie
    entirely within one word (band_bits must divide 64 for multi-word
    layouts — asserted), so the extraction is one element_at + shift
    + mask, exactly as cheap as the scalar path."""
    total = bands * band_bits

    def bval_of(b: int) -> F.Column:
        if total <= 64:
            word, off = F.col("sig"), b * band_bits
        else:
            assert 64 % band_bits == 0, (
                f"band_bits {band_bits} must divide 64 so no band "
                "straddles a signature word"
            )
            word = F.element_at("sig", (b * band_bits) // 64 + 1)
            off = (b * band_bits) % 64
        return F.shiftrightunsigned(word, off).bitwiseAND(
            F.lit((1 << band_bits) - 1)
        )

    return with_sig.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        bval_of(b).alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bval")


def _distinct_at_width(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct (a, b) ID pairs, hash-repartitioned to compute width
    first. The pair exchange is tiny in bytes (16 B/row), so AQE's
    byte-based coalescing would shrink it to a few partitions, while
    the stage above the distinct is the compute-dense exact cosine
    (~200 long ops plus array traffic per pair). A user-specified
    repartition is exempt from AQE coalescing and dropDuplicates
    reuses its hash partitioning, so the plan keeps one exchange, at
    width max(cores, spark.sql.shuffle.partitions). Measured (sf0.1,
    local[32], warm): weak-geometry kernel exec 1.92 s → 0.93 s,
    identical rows."""
    spark = pairs.sparkSession
    width = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return pairs.repartition(width, a, b).dropDuplicates([a, b])


def _exact_cosine(
    cand: DataFrame, left: DataFrame, right: DataFrame, a: str, b: str
) -> DataFrame:
    """Score ID pairs cand(a, b): join back `left`'s (vec_id, q, nsq)
    on a and `right`'s on b, then the exact quantized cosine
    descale(idot) / sqrt(na·nb). Returns (a, b, cos_sim); vectors
    never cross the candidate shuffle, only the key join-backs."""
    la = left.select(
        F.col("vec_id").alias(a),
        F.col("q").alias("qa"),
        F.col("nsq").alias("na"),
    )
    rb = right.select(
        F.col("vec_id").alias(b),
        F.col("q").alias("qb"),
        F.col("nsq").alias("nb"),
    )
    return (
        cand.join(la, a)
        .join(rb, b)
        .select(
            a,
            b,
            (
                descale(idot(F.col("qa"), F.col("qb")))
                / F.sqrt(F.col("na") * F.col("nb"))
            ).alias("cos_sim"),
        )
    )


def _rank_per_src(directed: DataFrame) -> DataFrame:
    """Each src's top-KNN_K (src, dst, cos_sim) rows by the (cos_sim
    DESC, dst ASC) total order, as (src, rank, dst, cos_sim). Plans as
    WindowGroupLimit + Window, so the cut runs per partition before
    the rank shuffle."""
    w = Window.partitionBy("src").orderBy(
        F.col("cos_sim").desc(), F.col("dst").asc()
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= KNN_K)
        .select("src", "rank", "dst", "cos_sim")
    )


def banded_scored_pairs(
    with_q, bands: int = LSH_BANDS, band_bits: int = LSH_BAND_BITS
):
    """The banded candidate pipeline over a `signature_frame`:
    band-explode → ID-only bucket self-join (64-element arrays never
    cross the candidate shuffle) → distinct at compute width →
    exact-cosine join-backs. Returns (vec_a, vec_b, cos_sim) with
    vec_a < vec_b — each undirected pair scored exactly once. The
    threshold consumers (dedup pair keys) and rank consumers (kNN
    graph keys) share it."""
    b_rows = band_rows_of(with_q, bands, band_bits)
    cand = _distinct_at_width(
        b_rows.alias("a")
        .join(
            b_rows.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        ),
        "vec_a",
        "vec_b",
    )
    return _exact_cosine(cand, with_q, with_q, "vec_a", "vec_b")


def knn_rank_directed(scored):
    """Symmetrize undirected (vec_a, vec_b, cos_sim) pairs into both
    directions and keep each src's top-KNN_K (`_rank_per_src`) — the
    kNN-graph tail shared by the graph keys.

    Symmetrization is ONE explode over a 2-struct array, not a
    self-union: `scored` is the full banded candidate chain, and a
    union of two selects over it plans the entire chain twice. The
    explode emits both directed rows from each scored pair in the
    same task, so the chain runs once; the rows and ranks equal the
    union form's (cos_sim is computed once per pair from the same
    exact-integer inputs)."""
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_a").alias("src"),
                    F.col("vec_b").alias("dst"),
                    F.col("cos_sim"),
                ),
                F.struct(
                    F.col("vec_b").alias("src"),
                    F.col("vec_a").alias("dst"),
                    F.col("cos_sim"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.cos_sim")
    return _rank_per_src(directed)


def write_sig_index(
    corpus_q: DataFrame,
    path: str,
    bits: int = LSH_BITS,
    bands: int = LSH_BANDS,
    band_bits: int = LSH_BAND_BITS,
    mode: str = "overwrite",
) -> None:
    """Write the persisted signature index of (vec_id, q) rows under
    `path`: `{path}/index` holds `_with_sig_cols` (vec_id, q, nsq,
    sig) and `{path}/bands` its `band_rows_of` (vec_id, band, bval).
    `mode="append"` grows both by exactly the given rows (new parquet
    files, existing ones untouched). The corpus is signed once, under
    an untracked MEMORY_AND_DISK persist released in `finally`, so a
    failed write never leaks the frame across `build_once` retries
    (cachekit tracking is for query-path frames). `knn_inc_probe` is
    the one reader of this layout."""
    signed = _with_sig_cols(corpus_q, bits).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    try:
        signed.write.mode(mode).parquet(f"{path}/index")
        band_rows_of(signed, bands, band_bits).write.mode(mode).parquet(
            f"{path}/bands"
        )
    finally:
        signed.unpersist()


def knn_inc_probe(
    inc_q: DataFrame,
    path: str,
    bands: int = LSH_BANDS,
    band_bits: int = LSH_BAND_BITS,
) -> DataFrame:
    """The incremental kNN probe against the signature index that
    `write_sig_index` wrote under `path`: given the increment's
    signature frame `inc_q` (vec_id, q, nsq, sig — a
    `signature_frame`), return its top-KNN_K edges (src, rank, dst,
    cos_sim) without re-running the corpus self-join. `bands` and
    `band_bits` must be the index's geometry.

    Candidates = increment band rows hash-joined against the index's
    band rows (new→corpus) plus a self-join of the increment's own
    tiny band set (new→new), deduped on (src, dst) at compute width;
    the exact-cosine re-rank fetches vectors by key join from index ∪
    increment; the per-source top-k cut runs under WindowGroupLimit.
    Index and probe share the same `_signature` integers, so the
    increment's edges equal what a full rebuild would assign those
    sources — the inc-equals-rebuild invariant every caller's tests
    pin, at every geometry.
    """
    spark = inc_q.sparkSession
    base_q = spark.read.parquet(f"{path}/index")
    base_bands = spark.read.parquet(f"{path}/bands")
    inc_bands = band_rows_of(inc_q, bands, band_bits)
    cand = _distinct_at_width(
        inc_bands.alias("a")
        .join(
            base_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("dst"),
        )
        .unionByName(
            inc_bands.alias("a")
            .join(
                inc_bands.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bval") == F.col("b.bval"))
                & (F.col("a.vec_id") != F.col("b.vec_id")),
            )
            .select(
                F.col("a.vec_id").alias("src"),
                F.col("b.vec_id").alias("dst"),
            )
        ),
        "src",
        "dst",
    )
    scored = _exact_cosine(
        cand, inc_q, base_q.unionByName(inc_q), "src", "dst"
    )
    return _rank_per_src(scored)


_PAIR_COS = (
    # per-pair scoring over pre-quantized vectors: pure long
    # multiply-add inside codegen, then 3 correctly-rounded double ops
    lambda: (
        descale(idot(F.col("qe"), F.col("embedding")))
        / F.sqrt(F.col("qn") * F.col("nsq"))
    ).alias("cos_sim")
)


def _scored(a: DataFrame, b: DataFrame, how) -> DataFrame:
    """Exact cosine between query rows (qid, qe, qn) and candidate
    rows (vec_id, embedding, nsq) under join condition `how`."""
    return a.join(b, how).select("qid", "vec_id", _PAIR_COS())


def _with_norms(
    emb: DataFrame, n_queries: int = N_QUERIES
) -> tuple[DataFrame, DataFrame]:
    """Quantize once per vector; `embedding` is the scaled-int64 array
    downstream (original floats are never needed again)."""
    corpus = emb.select(
        "vec_id", quantize(F.col("embedding")).alias("embedding")
    ).select(
        "vec_id",
        "embedding",
        descale(idot(F.col("embedding"), F.col("embedding"))).alias("nsq"),
    )
    queries = (
        corpus.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qe"),
            F.col("nsq").alias("qn"),
        )
    )
    return queries, corpus


def _sql_topk_tail(source: str) -> str:
    """The `ranked` CTE and top-TOP_K SELECT over a `{source}(qid,
    vec_id, cos_sim)` CTE: the SQL twin of `_topk`, the final cut of
    every fixed-panel search oracle."""
    return f"""ranked AS (
        SELECT qid, vec_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM {source}
    )
    SELECT qid, rank, vec_id, cos_sim FROM ranked WHERE rank <= {TOP_K}"""


def _topk(scored: DataFrame, topk: int = TOP_K) -> DataFrame:
    w = Window.partitionBy("qid").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()  # total order: ties by id
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= topk)
        .select("qid", "rank", "vec_id", "cos_sim")
    )


@query(
    "sim_search",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS vec_id,
               {sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id < {N_QUERIES}
         AND c.vec_id != q.vec_id
    ), {_sql_topk_tail("scored")}
    """,
)
def sim_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the exact ANN baseline.

    The query side is explicitly broadcast — |Q| rows against the
    corpus scan, no shuffle until the tiny per-query top-k window.
    Cosines come out bit-identical to the oracle (veckit decimal
    math), and the (cos_sim DESC, vec_id ASC) total order makes rank
    assignment deterministic cross-engine.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _with_norms(emb)
    scored = _scored(
        F.broadcast(queries), corpus, F.col("qid") != F.col("vec_id")
    )
    return _topk(scored)


#: DuckDB rendering of veckit.quantize: array<float> → list<BIGINT>
#: scaled by 10^6 (float→double exact; double→DECIMAL(18,6) is the one
#: rounding, same as Spark's cast; ×10^6 then →BIGINT are exact).
_SQL_QUANT = (
    "list_transform({e}, x -> "
    "CAST(CAST(CAST(x AS DOUBLE) AS DECIMAL(18,6)) * 1000000 AS BIGINT))"
)


def sql_sig_expr(bits: int = LSH_BITS) -> str:
    """SQL expression computing the packed hyperplane signature of a
    quantized vector column named `qe`: each bit is `SUM(q_i·w_i) >= 0`
    over a literal integer plane, rendered with the lockstep-unnest
    dot pattern. It is the SQL twin of `_signature` and the body of
    every banded oracle's `sig` CTE — integer math end-to-end, so the
    oracle's buckets ARE the Spark buckets. At bit 63 of each word the
    weight is the min-long literal (2^63 overflows a signed BIGINT;
    same two's-complement pattern numpy's int64 wraparound produces).
    Above 64 bits the expression is a LIST literal of words,
    little-endian, mirroring `_signature`'s multi-word packing.

    The expression costs one correlated unnest-dot per bit, and
    DuckDB inlines a non-materialized CTE at every reference — the
    bands CTE reads `sig` once per band arm — so `sql_sig_bands_ctes`
    marks `sig` MATERIALIZED (and every `scored` CTE the directed kNN
    union reads twice is MATERIALIZED too)."""
    planes = _hyperplanes(bits)

    def bit_dot(plane: list[int]) -> str:
        lit = "[" + ", ".join(str(w) for w in plane) + "]"
        return (
            "(SELECT SUM(__qx * __wx) FROM "
            f"(SELECT unnest(qe) AS __qx, unnest({lit}) AS __wx))"
        )

    def weight(i: int) -> str:
        if i % 64 == 63:
            return "(-9223372036854775807 - 1)"
        return str(1 << (i % 64))

    def word_expr(lo: int, hi: int) -> str:
        return " + ".join(
            f"CASE WHEN {bit_dot(planes[i])} >= 0 "
            f"THEN {weight(i)} ELSE 0 END"
            for i in range(lo, hi)
        )

    if bits <= 64:
        return word_expr(0, bits)
    words = [
        f"({word_expr(lo, min(lo + 64, bits))})"
        for lo in range(0, bits, 64)
    ]
    return "[" + ", ".join(words) + "]"


def sql_bands_cte(bands: int = LSH_BANDS, band_bits: int = LSH_BAND_BITS) -> str:
    """SQL select (UNION ALL per band) exploding a `sig` CTE with
    columns (vec_id, sig) into (vec_id, band, bval) rows. DuckDB's
    `>>` on BIGINT is an ARITHMETIC shift, but the band mask removes
    every sign-extended bit, so the extraction agrees with Spark's
    shiftrightunsigned+mask for negative (bit-63-set) signatures too
    (probed both engines; relied on by the 64-bit prod layout). For
    multi-word geometries (bands·band_bits > 64) `sig` is a LIST of
    words and band b reads word (b·band_bits)//64 via 1-based list
    indexing — the exact slicing `band_rows_of` performs, including
    its word-straddle guard: an invalid multi-word geometry (band_bits
    not dividing 64) fails here at SQL-generation time instead of
    silently emitting a slice that reads past a word boundary while
    the Spark side raises."""
    band_mask = (1 << band_bits) - 1
    total = bands * band_bits
    if total > 64:
        assert 64 % band_bits == 0, (
            f"band_bits {band_bits} must divide 64 so no band "
            "straddles a signature word"
        )

    def src(b: int) -> tuple[str, int]:
        if total <= 64:
            return "sig", b * band_bits
        return f"sig[{(b * band_bits) // 64 + 1}]", (b * band_bits) % 64

    return " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, "
        f"({src(b)[0]} >> {src(b)[1]}) & {band_mask} AS bval FROM sig"
        for b in range(bands)
    )


#: The weak-geometry oracles' `q(vec_id, qe)` CTE: every embedding,
#: quantized.
_SQL_EMB_Q = f"""q AS (
        SELECT vec_id, {_SQL_QUANT.format(e='embedding')} AS qe
        FROM embeddings
    )"""


def sql_sig_bands_ctes(
    bits: int = LSH_BITS, bands: int = LSH_BANDS, band_bits: int = LSH_BAND_BITS
) -> str:
    """The `sig` (MATERIALIZED, see `sql_sig_expr`) and `bands` CTEs
    of every banded oracle, at one geometry, over a `q(vec_id, qe)`
    CTE in scope."""
    return f"""sig AS MATERIALIZED (
        SELECT vec_id, ({sql_sig_expr(bits)}) AS sig FROM q
    ), bands AS (
        {sql_bands_cte(bands, band_bits)}
    )"""


def sql_pair_cand_ctes(
    bits: int = LSH_BITS, bands: int = LSH_BANDS, band_bits: int = LSH_BAND_BITS
) -> str:
    """`sql_sig_bands_ctes` plus the pair-form `cand(vec_a, vec_b)`
    CTE: every bucket-colliding pair once, vec_a < vec_b — the SQL
    twin of `banded_scored_pairs`' candidate stage."""
    return f"""{sql_sig_bands_ctes(bits, bands, band_bits)}, cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval AND a.vec_id < b.vec_id
    )"""


def _sql_lsh() -> str:
    """Full-value DuckDB oracle for `sim_search_lsh`: replay the exact
    signature → banding → bucket join → exact-cosine re-rank pipeline
    (see `sql_sig_expr` for why this checks the index machinery itself,
    not just a recall contract).
    """
    return f"""
    WITH {_SQL_EMB_Q}, {sql_sig_bands_ctes()}, cand AS (
        SELECT DISTINCT qb.vec_id AS qid, cb.vec_id AS vec_id
        FROM bands qb JOIN bands cb
          ON qb.band = cb.band AND qb.bval = cb.bval
        WHERE qb.vec_id < {N_QUERIES} AND cb.vec_id != qb.vec_id
    ), scored AS MATERIALIZED (
        SELECT cand.qid, cand.vec_id,
               {sql_cosine('qe.embedding', 'ce.embedding')} AS cos_sim
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.qid
        JOIN embeddings ce ON ce.vec_id = cand.vec_id
    ), {_sql_topk_tail("scored")}
    """


@query("sim_search_lsh", oracle=_sql_lsh())
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded random-hyperplane LSH ANN: probe colliding buckets only.

    Near vectors (small angle) agree on most hyperplane signs, so
    they collide in some 3-bit band with high probability; the join
    touches only bucket collisions instead of the full corpus.
    Candidates are re-ranked with the exact cosine — same output
    schema as `sim_search`, so the test measures recall directly,
    and the oracle replays the identical signature/band pipeline
    (integer planes → exact dot signs), so the full output is
    hash-verified, not just row-counted.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _with_norms(emb)
    # quantization + norms feed three branches (query side, candidate
    # side, scoring); persist + materialize once so the Arrow
    # signature UDF and int64 norm pipeline run a single time
    corpus = track(corpus.persist(StorageLevel.MEMORY_AND_DISK))
    corpus.count()

    def banded(df: DataFrame, vec_col: str) -> DataFrame:
        with_sig = df.withColumn("sig", _signature(F.col(vec_col)))
        bands = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("sig"), b * LSH_BAND_BITS)
                        .bitwiseAND(F.lit((1 << LSH_BAND_BITS) - 1))
                        .alias("bval"),
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bb")
        return with_sig.select(*df.columns, bands).select(
            *df.columns, "bb.band", "bb.bval"
        )

    qb = banded(queries, "qe").withColumnRenamed("band", "qband").withColumnRenamed(
        "bval", "qbval"
    )
    cb = banded(corpus, "embedding")
    cand = (
        F.broadcast(qb)
        .join(
            cb,
            (F.col("qband") == F.col("band"))
            & (F.col("qbval") == F.col("bval"))
            & (F.col("qid") != F.col("vec_id")),
        )
        .select("qid", "qe", "qn", "vec_id", "embedding", "nsq")
        .dropDuplicates(["qid", "vec_id"])
    )
    scored = cand.select("qid", "vec_id", _PAIR_COS())
    return _topk(scored)


def _sql_ivf() -> str:
    """Full-value DuckDB oracle for `sim_search_ivf`: replay the
    centroid selection (vec_id-strided), the struct-max cell
    assignment (rcos DESC, cid DESC), the nprobe routing (rcos DESC,
    cid ASC), and the exact-cosine re-rank. Every comparison runs on
    the bit-reproducible decimal cosine, so cell boundaries fall
    identically in both engines.
    """
    return f"""
    WITH p AS (
        SELECT GREATEST(1, COUNT(*) // {IVF_NLIST}) AS stride
        FROM embeddings
    ), cents AS (
        SELECT CAST(e.vec_id // p.stride AS INT) AS cid, e.embedding AS ce
        FROM embeddings e, p
        WHERE e.vec_id % p.stride = 0 AND e.vec_id // p.stride < {IVF_NLIST}
    ), routed AS (
        SELECT e.vec_id, c.cid,
               {sql_cosine('e.embedding', 'c.ce')} AS rcos
        FROM embeddings e CROSS JOIN cents c
    ), assign AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY rcos DESC, cid DESC) AS rn
            FROM routed
        ) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS qid, cid FROM (
            SELECT vec_id, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY rcos DESC, cid ASC) AS rn
            FROM routed WHERE vec_id < {N_QUERIES}
        ) WHERE rn <= {IVF_NPROBE}
    ), cand AS (
        SELECT DISTINCT pr.qid, a.vec_id
        FROM probes pr JOIN assign a ON a.cid = pr.cid
        WHERE a.vec_id != pr.qid
    ), scored AS (
        SELECT cand.qid, cand.vec_id,
               {sql_cosine('qe.embedding', 'ce.embedding')} AS cos_sim
        FROM cand
        JOIN embeddings qe ON qe.vec_id = cand.qid
        JOIN embeddings ce ON ce.vec_id = cand.vec_id
    ), {_sql_topk_tail("scored")}
    """


@query("sim_search_ivf", oracle=_sql_ivf())
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into coarse cells,
    probe only the cells nearest each query.

    The scale shape of a vector index: an assignment pass tags every
    corpus vector with its nearest centroid (a broadcast of nlist
    centroids against the corpus — embarrassingly parallel, one
    column written), then each query scans only its nprobe closest
    cells. Candidates are re-ranked with the exact cosine, so returned
    scores are exact; only recall is approximate (asserted against
    `sim_search` in tests). Centroids here are a deterministic seed
    subset (vec_id-strided); production swaps in k-means centroids —
    the routing algebra is identical and that is the part Spark runs.

    Cell routing uses the bit-exact decimal cosine with a
    (score, cid) struct-max, so assignments are stable across runs,
    partitionings, and engines — an index built twice is the same
    index.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _with_norms(emb)
    corpus = track(corpus.persist(StorageLevel.MEMORY_AND_DISK))
    n = corpus.count()
    stride = max(1, n // IVF_NLIST)
    cents = (
        corpus.where((F.col("vec_id") % stride == 0))
        .where(F.col("vec_id") / stride < IVF_NLIST)
        .select(
            (F.col("vec_id") / stride).cast("int").alias("cid"),
            F.col("embedding").alias("ce"),
            F.col("nsq").alias("cn"),
        )
    )

    route_cos = descale(idot(F.col("v"), F.col("ce"))) / F.sqrt(
        F.col("vn") * F.col("cn")
    )

    def routed(df: DataFrame, vec_col: str, nsq_col: str) -> DataFrame:
        """Score every row against every centroid (broadcast nlist)."""
        renamed = df.withColumnRenamed(vec_col, "v").withColumnRenamed(
            nsq_col, "vn"
        )
        return with_scalars(renamed, cents).withColumn(
            "rcos", route_cos
        )

    # corpus → single nearest cell: struct-max over (rcos, cid) keeps
    # the best-scoring cell, ties broken toward the larger cid
    assign = (
        routed(corpus, "embedding", "nsq")
        .groupBy("vec_id")
        .agg(F.max(F.struct(F.col("rcos"), F.col("cid"))).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cid"))
        .join(corpus, "vec_id")  # reattach vector + norm for re-ranking
    )
    # queries → nprobe nearest cells
    wq = Window.partitionBy("qid").orderBy(F.col("rcos").desc(), F.col("cid").asc())
    probes = (
        routed(queries, "qe", "qn")
        .withColumn("prank", F.row_number().over(wq))
        .where(F.col("prank") <= IVF_NPROBE)
        .select("qid", F.col("v").alias("qe"), F.col("vn").alias("qn"), "cid")
    )
    cand = (
        F.broadcast(probes)
        .join(assign, "cid")
        .where(F.col("qid") != F.col("vec_id"))
        .dropDuplicates(["qid", "vec_id"])
    )
    scored = cand.select("qid", "vec_id", _PAIR_COS())
    return _topk(scored)


#: SQ8 geometry: per-dimension min/max learned from the corpus, codes
#: in [0, 255]; the approximate code-dot keeps the top SQ_CANDIDATES
#: per query for exact re-rank.
SQ_LEVELS = 255
SQ_CANDIDATES = 32


def _sql_sq() -> str:
    """Full-value DuckDB oracle for `sim_search_sq`: replay the
    per-dim stats → int8 encode → code-dot prefilter → exact re-rank
    pipeline. Stats, codes, and code-dots are pure integer/IEEE ops
    on identical inputs, so every stage matches Spark bit-for-bit."""
    code = (
        "list_transform(range(64), d -> CAST(round("
        "CASE WHEN hi[d + 1] > lo[d + 1] THEN "
        "(CAST(embedding[d + 1] AS DOUBLE) - lo[d + 1])"
        f" / (hi[d + 1] - lo[d + 1]) * {SQ_LEVELS} "
        "ELSE 0.0 END) AS BIGINT))"
    )
    # normalized code cosine: exact int sums, then one double
    # divide/sqrt — unnormalized code-dot ranks poorly under varying
    # vector norms (measured recall 0.2 vs 1.0 normalized)
    code_cos = (
        "((SELECT CAST(SUM(__cx * __cy) AS BIGINT) "
        "FROM (SELECT unnest(q.code) AS __cx, unnest(c.code) AS __cy))"
        " / sqrt(CAST(q.cnsq AS DOUBLE) * CAST(c.cnsq AS DOUBLE)))"
    )
    return f"""
    WITH stats AS (
        SELECT list(mn ORDER BY dim) AS lo, list(mx ORDER BY dim) AS hi
        FROM (
            SELECT d.d AS dim,
                   MIN(CAST(embedding[d.d + 1] AS DOUBLE)) AS mn,
                   MAX(CAST(embedding[d.d + 1] AS DOUBLE)) AS mx
            FROM embeddings, range(64) d(d)
            GROUP BY d.d
        )
    ), coded0 AS (
        SELECT vec_id, embedding, {code} AS code
        FROM embeddings, stats
    ), coded AS (
        SELECT vec_id, embedding, code,
               (SELECT CAST(SUM(__c * __c) AS BIGINT)
                FROM (SELECT unnest(code) AS __c)) AS cnsq
        FROM coded0
    ), cand AS (
        SELECT q.vec_id AS qid, c.vec_id AS vec_id,
               q.embedding AS qe, c.embedding AS ce,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {code_cos} DESC, c.vec_id ASC
               ) AS crank
        FROM coded q JOIN coded c
          ON q.vec_id < {N_QUERIES} AND c.vec_id != q.vec_id
    ), reranked AS (
        SELECT qid, vec_id, {sql_cosine('qe', 'ce')} AS cos_sim
        FROM cand WHERE crank <= {SQ_CANDIDATES}
    ), {_sql_topk_tail("reranked")}
    """


@query("sim_search_sq", oracle=_sql_sq())
def sim_search_sq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN: int8 codes prefilter, exact re-rank.

    The memory-bandwidth rung of the ANN family (FAISS's SQ8 default):
    the corpus is scanned as 1-byte codes — 4× less bandwidth than
    float32, 8× less than the int64-quantized exact path — and only
    the SQ_CANDIDATES best code-dot candidates per query pay the
    exact-cosine re-rank. Unlike LSH/IVF (which prune WHICH vectors
    are visited), SQ compresses EVERY visit; production indexes
    compose both.

    Mechanism determinism: per-dim min/max come from one tiny
    aggregate (broadcast back); encode is fixed IEEE affine + round
    (identical in both engines on identical doubles); the prefilter
    ranks by exact integer code-dot with a vec_id tiebreak. The
    oracle replays all of it value-for-value; recall vs. brute force
    is asserted separately in tests (property of the geometry, not
    the engines).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = F.transform(
        F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
        lambda d: F.element_at("embedding", d + 1).cast("double"),
    )
    exploded = emb.select(
        F.posexplode(dims).alias("dim", "x")
    )
    stats = exploded.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    stats_row = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "mn"))
        ).alias("lo_s"),
        F.array_sort(
            F.collect_list(F.struct("dim", "mx"))
        ).alias("hi_s"),
    ).select(
        F.transform("lo_s", lambda s: s["mn"]).alias("lo"),
        F.transform("hi_s", lambda s: s["mx"]).alias("hi"),
    )

    def encode(df: DataFrame) -> DataFrame:
        code = F.transform(
            F.sequence(F.lit(0), F.lit(EMBED_DIM - 1)),
            lambda d: F.round(
                F.when(
                    F.element_at("hi", d + 1) > F.element_at("lo", d + 1),
                    (
                        F.element_at("embedding", d + 1).cast("double")
                        - F.element_at("lo", d + 1)
                    )
                    / (
                        F.element_at("hi", d + 1)
                        - F.element_at("lo", d + 1)
                    )
                    * SQ_LEVELS,
                ).otherwise(F.lit(0.0))
            ).cast("long"),
        )
        with_code = with_scalars(df, stats_row).select(
            "vec_id", "embedding", code.alias("code")
        )
        csq = F.aggregate(
            F.zip_with("code", "code", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, p: acc + p,
        )
        return (
            with_code.select("vec_id", "embedding", "code", csq.alias("cnsq"))
            .persist(StorageLevel.MEMORY_AND_DISK)
            .transform(track)
        )

    coded = encode(emb)
    q = coded.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("code").alias("qc"),
        F.col("cnsq").alias("qnsq"),
    )
    code_dot = F.aggregate(
        F.zip_with("qc", "code", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )
    # exact int sums -> one double divide/sqrt: deterministic in both
    # engines (code-dot < 64*255^2, far inside double-exact range)
    code_cos = code_dot.cast("double") / F.sqrt(
        F.col("qnsq").cast("double") * F.col("cnsq").cast("double")
    )
    cand_w = Window.partitionBy("qid").orderBy(
        F.col("ccos").desc(), F.col("vec_id").asc()
    )
    cands = (
        F.broadcast(q)
        .join(coded, F.col("qid") != F.col("vec_id"))
        .select("qid", "vec_id", "qe", "embedding", code_cos.alias("ccos"))
        .withColumn("crank", F.row_number().over(cand_w))
        .where(F.col("crank") <= SQ_CANDIDATES)
    )
    from crime_data_batch_processing_spark.functions.veckit import cosine

    scored = cands.select(
        "qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("cos_sim")
    )
    return _topk(scored)


#: PQ geometry: 8 subspaces × 8 dims, 16 centroids per subspace —
#: codes compress each 64-dim vector to 8 nibbles. Seeds are the
#: PQ_K corpus vectors right after the query block; one Lloyd sweep
#: refines them per subspace (integer-exact, like cluster_kmeans).
PQ_M = 8
PQ_SUBDIM = EMBED_DIM // PQ_M
PQ_K = 16
PQ_CANDIDATES = 64

_SQL_ISUM_B = "(SELECT CAST(SUM({t}) AS BIGINT) FROM (SELECT {u}))"
_SQL_SUB_DOT = (
    "(SELECT CAST(SUM(__x * __y) AS BIGINT) "
    "FROM (SELECT unnest({a}) AS __x, unnest({b}) AS __y))"
)
_SQL_SUB_L2 = (
    "(SELECT CAST(SUM((__x - __y) * (__x - __y)) AS BIGINT) "
    "FROM (SELECT unnest({a}) AS __x, unnest({b}) AS __y))"
)
_SQL_SUB_NSQ = (
    "(SELECT CAST(SUM(__x * __x) AS BIGINT) FROM (SELECT unnest({c}) AS __x))"
)


def _sql_pq() -> str:
    """Full-value DuckDB oracle for `sim_search_pq`: replay seed
    codebook → one Lloyd sweep (argmin assign, floor-div means) →
    encode → ADC scoring → shortlist → exact re-rank. Every stage is
    exact integer or fixed-IEEE arithmetic on identical inputs."""
    descale = "CAST({n} AS DOUBLE) / 1000000000000.0"
    adc_cos = (
        f"({descale.format(n='a.adot')}) / "
        f"sqrt(({descale.format(n='qn.nsq')}) * "
        f"({descale.format(n='rn.rnsq')}))"
    )
    return f"""
    WITH q0 AS (
        SELECT vec_id, {_SQL_QUANT.format(e='embedding')} AS q, embedding
        FROM embeddings
    ), corpus AS (
        SELECT vec_id, q, embedding, {_SQL_SUB_NSQ.format(c='q')} AS nsq
        FROM q0
    ), sub AS (
        SELECT vec_id, m.m AS m,
               q[m.m * {PQ_SUBDIM} + 1 : m.m * {PQ_SUBDIM} + {PQ_SUBDIM}] AS sv
        FROM corpus, range({PQ_M}) m(m)
    ), seeds AS (
        SELECT m, CAST(vec_id - {N_QUERIES} AS INT) AS cid, sv AS c
        FROM sub
        WHERE vec_id >= {N_QUERIES} AND vec_id < {N_QUERIES + PQ_K}
    ), d0 AS (
        SELECT s.vec_id, s.m, sd.cid,
               {_SQL_SUB_L2.format(a='s.sv', b='sd.c')} AS d
        FROM sub s JOIN seeds sd USING (m)
    ), a0 AS (
        SELECT vec_id, m, cid FROM (
            SELECT vec_id, m, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d ASC, cid ASC) AS rn
            FROM d0
        ) WHERE rn = 1
    ), ex AS (
        SELECT a.m, a.cid, d.d AS dim, s.sv[d.d + 1] AS x
        FROM a0 a JOIN sub s USING (vec_id, m), range({PQ_SUBDIM}) d(d)
    ), per AS (
        SELECT m, cid, dim, CAST(SUM(x) AS BIGINT) AS s,
               COUNT(*)::BIGINT AS cnt
        FROM ex GROUP BY m, cid, dim
    ), cd AS (
        SELECT m, cid, dim,
               (s - ((s % cnt) + cnt) % cnt) // cnt AS cd
        FROM per
    ), cents0 AS (
        SELECT m, cid, list(cd ORDER BY dim) AS c FROM cd GROUP BY m, cid
    ), cents AS (
        SELECT m, cid, c, {_SQL_SUB_NSQ.format(c='c')} AS cn FROM cents0
    ), e0 AS (
        SELECT s.vec_id, s.m, ct.cid,
               {_SQL_SUB_L2.format(a='s.sv', b='ct.c')} AS d
        FROM sub s JOIN cents ct USING (m)
    ), codes AS (
        SELECT vec_id, m, cid FROM (
            SELECT vec_id, m, cid,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                      ORDER BY d ASC, cid ASC) AS rn
            FROM e0
        ) WHERE rn = 1
    ), rn0 AS (
        SELECT c.vec_id, CAST(SUM(ct.cn) AS BIGINT) AS rnsq
        FROM codes c JOIN cents ct USING (m, cid) GROUP BY c.vec_id
    ), qd AS (
        SELECT s.vec_id AS qid, ct.m, ct.cid,
               {_SQL_SUB_DOT.format(a='s.sv', b='ct.c')} AS qdot
        FROM sub s JOIN cents ct USING (m)
        WHERE s.vec_id < {N_QUERIES}
    ), adc0 AS (
        SELECT qd.qid, c.vec_id, CAST(SUM(qd.qdot) AS BIGINT) AS adot
        FROM codes c JOIN qd ON c.m = qd.m AND c.cid = qd.cid
        WHERE c.vec_id != qd.qid
        GROUP BY qd.qid, c.vec_id
    ), cand AS (
        SELECT a.qid, a.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY a.qid
                   ORDER BY {adc_cos} DESC, a.vec_id ASC
               ) AS crank
        FROM adc0 a
        JOIN corpus qn ON qn.vec_id = a.qid
        JOIN rn0 rn ON rn.vec_id = a.vec_id
    ), rr AS (
        SELECT cd.qid, cd.vec_id,
               {sql_cosine('qv.embedding', 'cv.embedding')} AS cos_sim
        FROM cand cd
        JOIN corpus qv ON qv.vec_id = cd.qid
        JOIN corpus cv ON cv.vec_id = cd.vec_id
        WHERE cd.crank <= {PQ_CANDIDATES}
    ), {_sql_topk_tail("rr")}
    """


@query("sim_search_pq", oracle=_sql_pq())
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (FAISS PQ/ADC): 8 sub-codebooks of 16
    centroids compress each vector to 8 nibbles; queries score the
    whole corpus through a tiny per-query lookup table.

    The compression rung beyond SQ8: SQ compresses each DIMENSION
    independently (8 bits each); PQ compresses each SUBSPACE jointly
    (4 bits per 8 dims here — 8x smaller than SQ8), which is what
    makes billion-vector indexes fit in RAM. Scoring is asymmetric
    distance computation: per query, precompute dot(query_subvector,
    centroid) for all M×K centroids (a 128-entry table, broadcast),
    then every corpus vector's approximate dot is M lookups + adds
    over its codes — the corpus is never decoded.

    Scale shape: codebook training touches the corpus once per Lloyd
    sweep (broadcast seeds, one (m,cid,dim)-keyed update aggregate —
    same sweep algebra as cluster_kmeans); encoding is map-only
    against broadcast centroids; ADC is one join of codes against the
    broadcast lookup table + a (qid,vec_id) sum. Everything is exact
    integer geometry (int64 subvector dots, floor-div means via pmod),
    so codebooks, codes, and ADC scores are pure functions of the
    data and the oracle replays the entire index build value-for-value.
    Exact cosine re-ranks the shortlist, so precision is exact; recall
    is asserted against brute force in tests.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
    corpus = (
        corpus.select("vec_id", "q", idot(F.col("q"), F.col("q")).alias("nsq"))
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    subs_arr = F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda m: F.slice("q", m * PQ_SUBDIM + 1, PQ_SUBDIM),
    )
    sub = (
        corpus.select("vec_id", F.posexplode(subs_arr).alias("m", "sv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    seeds = sub.where(
        (F.col("vec_id") >= N_QUERIES) & (F.col("vec_id") < N_QUERIES + PQ_K)
    ).select(
        "m",
        (F.col("vec_id") - N_QUERIES).cast("int").alias("cid"),
        F.col("sv").alias("c"),
    )
    l2 = F.aggregate(
        F.zip_with("sv", "c", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )

    def assign(cents_df: DataFrame) -> DataFrame:
        return (
            sub.join(F.broadcast(cents_df), "m")
            .select("vec_id", "m", F.struct(l2.alias("d"), "cid").alias("dc"))
            .groupBy("vec_id", "m")
            .agg(F.min("dc").alias("mn"))
            .select("vec_id", "m", F.col("mn.cid").alias("cid"))
        )

    # one Lloyd sweep: assign to seeds, floor-div-mean update
    ex = (
        assign(seeds)
        .join(sub, ["vec_id", "m"])
        .select("m", "cid", F.posexplode("sv").alias("dim", "x"))
    )
    per = ex.groupBy("m", "cid", "dim").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("cnt")
    )
    cd = per.select(
        "m", "cid", "dim", F.expr("(s - pmod(s, cnt)) div cnt").alias("cd")
    )
    cents = (
        cd.groupBy("m", "cid")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cd"))).alias("a"))
        .select("m", "cid", F.transform("a", lambda s: s["cd"]).alias("c"))
        .select("m", "cid", "c", idot(F.col("c"), F.col("c")).alias("cn"))
        .persist(StorageLevel.MEMORY_AND_DISK)
        .transform(track)
    )
    codes = assign(cents)
    rnsq = (
        codes.join(F.broadcast(cents.select("m", "cid", "cn")), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("cn").alias("rnsq"))
    )
    qdots = (
        sub.where(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "m", "sv")
        .join(F.broadcast(cents), "m")
        .select(
            "qid", "m", "cid",
            idot(F.col("sv"), F.col("c")).alias("qdot"),
        )
    )
    adc = (
        codes.join(F.broadcast(qdots), ["m", "cid"])
        .where(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(F.sum("qdot").alias("adot"))
    )
    qn = corpus.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("nsq").alias("qnsq")
    )
    adc_cos = (F.col("adot").cast("double") / F.lit(SCALE_SQ)) / F.sqrt(
        (F.col("qnsq").cast("double") / F.lit(SCALE_SQ))
        * (F.col("rnsq").cast("double") / F.lit(SCALE_SQ))
    )
    cand_w = Window.partitionBy("qid").orderBy(
        F.col("acos").desc(), F.col("vec_id").asc()
    )
    cands = (
        adc.join(F.broadcast(qn), "qid")
        .join(rnsq, "vec_id")
        .select("qid", "vec_id", adc_cos.alias("acos"))
        .withColumn("crank", F.row_number().over(cand_w))
        .where(F.col("crank") <= PQ_CANDIDATES)
        .select("qid", "vec_id")
    )
    qe = corpus.select(
        F.col("vec_id").alias("qid"),
        F.col("q").alias("qe"),
        (F.col("nsq").cast("double") / F.lit(SCALE_SQ)).alias("qn"),
    )
    ce = corpus.select(
        "vec_id",
        F.col("q").alias("embedding"),
        (F.col("nsq").cast("double") / F.lit(SCALE_SQ)).alias("nsq"),
    )
    rr = (
        cands.join(F.broadcast(qe), "qid")
        .join(ce, "vec_id")
        .select("qid", "vec_id", _PAIR_COS())
    )
    return _topk(rr)


#: Hybrid retrieval (RRF) geometry: doc/vec ids < RRF_N_Q are the
#: queries (present in BOTH tables at every SF); each ranker
#: contributes its top-RRF_POOL, fusion keeps the top-RRF_TOP.
#: RRF_K0 = 60 is the constant from Cormack/Clarke/Buettcher (SIGIR
#: 2009) — spelled once, parsed identically as an integer literal in
#: both engines.
RRF_N_Q = 4
RRF_K0 = 60
RRF_POOL = 20
RRF_TOP = 10


@query(
    "sim_search_rrf",
    oracle=f"""
    WITH {sql_bm25_ctes(f"t.doc_id < {RRF_N_Q}", RRF_POOL, exclude_self=True)},
    vscored AS (
        SELECT q.vec_id AS qid, c.vec_id AS vec_id,
               {sql_cosine('q.embedding', 'c.embedding')} AS cos_sim
        FROM embeddings q JOIN embeddings c ON q.vec_id < {RRF_N_Q}
         AND c.vec_id != q.vec_id
    ), vecranked AS (
        SELECT * FROM (
            SELECT qid, vec_id, ROW_NUMBER() OVER (
                PARTITION BY qid
                ORDER BY cos_sim DESC, vec_id ASC) AS rank
            FROM vscored
        ) WHERE rank <= {RRF_POOL}
    ), fused AS (
        SELECT COALESCE(l.query_id, v.qid) AS qid,
               COALESCE(l.doc_id, v.vec_id) AS cand_id,
               COALESCE(l.rank, 0) AS lex_rank,
               COALESCE(v.rank, 0) AS vec_rank,
               COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K0} + l.rank),
                        CAST(0.0 AS DOUBLE))
                 + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K0} + v.rank),
                            CAST(0.0 AS DOUBLE)) AS rrf_score
        FROM lexranked l FULL OUTER JOIN vecranked v
          ON l.query_id = v.qid AND l.doc_id = v.vec_id
    )
    SELECT qid, rank, cand_id, lex_rank, vec_rank, rrf_score FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY qid
            ORDER BY rrf_score DESC, cand_id ASC) AS rank
        FROM fused
    ) WHERE rank <= {RRF_TOP}
    """,
)
def sim_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranker and the exact-cosine vector ranker — the standard way a
    RAG / retrieval-eval pipeline combines a term index with an
    embedding index (rrf(d) = Σ_rankers 1/(k0 + rank_r(d)), k0=60).

    Fusion operates on RANKS, never on scores, so the two rankers'
    incomparable score scales (BM25 sums vs cosines) need no
    calibration — which is also what makes it cheap to verify: both
    rank sets are already bit-exact oracle-checked kernels
    (`text_bm25` via the shared `_bm25_ranked` body, `sim_search`'s
    broadcast-cosine helpers), and the fusion itself is integer
    ranks → 1/(60+r) (one correctly-rounded IEEE division each) →
    one two-term sum in fixed lex+vec order → total-order tiebreak.
    Candidates present in only one ranker keep the missing rank as 0
    (never NULL: a nullable int column round-trips as float64 in
    pandas and would hash-mismatch the driver compare).

    The two candidate universes deliberately differ (documents vs
    embeddings rows) — real federated indexes cover different
    snapshots; the full-outer fusion join is the shape that handles
    it.

    Scale shape: each ranker is its own proven sub-linear plan
    (vocabulary-broadcast posting join / broadcast query cosine
    scan); fusion touches only |Q|·2·RRF_POOL rank rows — a
    full-outer join on (qid, cand_id) of two k-row-per-query sets,
    constant work per query regardless of corpus size.
    """
    from crime_data_batch_processing_spark.operators.text_analysis import (
        _bm25_ranked,
    )

    lex = _bm25_ranked(
        spark,
        sf_dir,
        F.col("doc_id") < RRF_N_Q,
        RRF_POOL,
        exclude_self=True,
    ).select(
        F.col("query_id").alias("qid"),
        F.col("doc_id").alias("cand_id"),
        F.col("rank").alias("lrank"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    queries, corpus = _with_norms(emb, RRF_N_Q)
    vec = _topk(
        _scored(
            F.broadcast(queries), corpus, F.col("qid") != F.col("vec_id")
        ),
        RRF_POOL,
    ).select(
        "qid",
        F.col("vec_id").alias("cand_id"),
        F.col("rank").alias("vrank"),
    )
    fused = lex.join(vec, ["qid", "cand_id"], "full_outer")
    rrf = (
        F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K0) + F.col("lrank")), F.lit(0.0)
        )
        + F.coalesce(
            F.lit(1.0) / (F.lit(RRF_K0) + F.col("vrank")), F.lit(0.0)
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.desc("rrf_score"), F.asc("cand_id")
    )
    return (
        fused.select(
            "qid",
            "cand_id",
            F.coalesce("lrank", F.lit(0)).alias("lex_rank"),
            F.coalesce("vrank", F.lit(0)).alias("vec_rank"),
            rrf.alias("rrf_score"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= RRF_TOP)
        .select("qid", "rank", "cand_id", "lex_rank", "vec_rank", "rrf_score")
    )


#: Hard-negative mining geometry: a fixed panel of HN_N_Q query
#: documents (first doc_ids — the bounded external query workload, as
#: in `sim_search_rrf`), mined HN_POOL deep. Mining depth is
#: top-hundreds in production (DPR/ANCE-style trainers sample
#: negatives from deep pools); depth also makes the near-verbatim
#: exclusion OBSERVABLE on this vocabulary-saturated corpus, where
#: even copies rank in the hundreds lexically (text_bm25's note).
HN_N_Q = 16
HN_POOL = 400
#: Near-verbatim exclusion unit: a shared 5-token shingle (the
#: decontamination gram) — a candidate sharing one is a positive/
#: near-dup, not a negative; 3-gram sharing would exclude nearly
#: everything under this corpus's saturated vocabulary.
HN_EXCL_K = 5


def _sql_hn_excl() -> str:
    from crime_data_batch_processing_spark.functions.textkit import (
        sql_shingles,
    )

    return f"""excl AS (
        SELECT a.doc_id AS query_id, b.doc_id AS doc_id
        FROM (SELECT doc_id, unnest({sql_shingles('text', HN_EXCL_K)}) AS g
              FROM documents WHERE doc_id < {HN_N_Q}) a
        JOIN (SELECT doc_id, unnest({sql_shingles('text', HN_EXCL_K)}) AS g
              FROM documents) b ON a.g = b.g
        GROUP BY 1, 2
    )"""


@query(
    "sample_hard_negatives",
    oracle=f"""
    WITH {_sql_hn_excl()},
    {sql_bm25_ctes(
        f"t.doc_id < {HN_N_Q}",
        HN_POOL,
        exclude_self=True,
        exclude_pairs_cte="excl",
    )}
    SELECT query_id, doc_id, n_terms, score, rank FROM lexranked
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for retrieval/embedding training: per
    query document, the HN_POOL highest-BM25 candidates AFTER
    removing the query itself and every near-verbatim candidate
    (sharing any 5-token shingle with the query) — lexically close
    but non-duplicate documents, exactly what a DPR/ANCE-style
    trainer wants as negatives (a near-dup labeled "negative" is a
    false negative that poisons the contrastive loss).

    Composes verified kernels: `_bm25_ranked` (the `text_bm25` body)
    with its new `exclude_pairs` anti-join — exclusion applies BEFORE
    the per-(query, doc) aggregation, so ranks are computed over the
    surviving candidates, not post-filtered; and the 5-gram pair
    probe from the decontamination family (query-side grams are a
    panel-sized broadcast; the corpus streams map-only through
    explode → broadcast join → distinct pair set).

    Scale shape: the query panel is FIXED-SIZE (external workload —
    the `sim_search_rrf` discipline), so the mining pass is one
    O(corpus) posting join + the pair probe, and the exclusion set is
    panel-bounded. The persisted-shingle discipline avoids the
    explode re-evaluation trap on the corpus side.
    """
    from crime_data_batch_processing_spark.functions.textkit import (
        shingles_of,
        tokens,
    )
    from crime_data_batch_processing_spark.operators.text_analysis import (
        _bm25_ranked,
    )

    docs = load_table(spark, sf_dir, "documents")
    with_sh = track(
        docs.select("doc_id", tokens("text").alias("toks"))
        .select(
            "doc_id", shingles_of(F.col("toks"), HN_EXCL_K).alias("sh")
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    qgrams = (
        with_sh.where(F.col("doc_id") < HN_N_Q)
        .select(
            F.col("doc_id").alias("query_id"), F.explode("sh").alias("g")
        )
    )
    excl = (
        with_sh.select("doc_id", F.explode("sh").alias("g"))
        .join(F.broadcast(qgrams), "g")
        .select("query_id", "doc_id")
        .distinct()
    )
    return _bm25_ranked(
        spark,
        sf_dir,
        F.col("doc_id") < HN_N_Q,
        HN_POOL,
        exclude_self=True,
        exclude_pairs=excl,
    )


def sql_weak_scored_ctes() -> str:
    """WITH-body of the WEAK-geometry banded chain over `embeddings`:
    quantize → signature → banding → bucket-collision pairs →
    exact-cosine scoring, ending at `scored(vec_a, vec_b, cos_sim)`
    (MATERIALIZED: the kNN callers read it twice). The
    `dedup_embedding_lsh` oracle cuts it at the threshold; the kNN
    graph oracles rank it (`sql_knn_graph_ctes`)."""
    return f"""{_SQL_EMB_Q}, {sql_pair_cand_ctes()}, scored AS MATERIALIZED (
        SELECT cand.vec_a, cand.vec_b,
               {sql_cosine('ea.embedding', 'eb.embedding')} AS cos_sim
        FROM cand
        JOIN embeddings ea ON ea.vec_id = cand.vec_a
        JOIN embeddings eb ON eb.vec_id = cand.vec_b
    )"""


def sql_knn_rank(source: str) -> str:
    """SELECT of each src's top-KNN_K rows of a `{source}(src, dst,
    cos_sim)` relation by (cos_sim DESC, dst ASC), as (src, rank,
    dst, cos_sim): the SQL twin of `_rank_per_src`."""
    return f"""
        SELECT src, rank, dst, cos_sim FROM (
            SELECT src, dst, cos_sim,
                   ROW_NUMBER() OVER (PARTITION BY src
                                      ORDER BY cos_sim DESC, dst ASC)
                       AS rank
            FROM {source}
        ) WHERE rank <= {KNN_K}"""


def sql_knn_ranked_ctes() -> str:
    """The `directed` and `ranked(src, rank, dst, cos_sim)` CTEs over
    a `scored(vec_a, vec_b, cos_sim)` CTE in scope: the SQL twin of
    `knn_rank_directed`, shared by every kNN-graph oracle at every
    geometry."""
    return f"""directed AS (
        SELECT vec_a AS src, vec_b AS dst, cos_sim FROM scored
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst, cos_sim FROM scored
    ), ranked AS ({sql_knn_rank('directed')}
    )"""


def sql_knn_graph_ctes() -> str:
    """Shared WITH-body for the WEAK-geometry kNN graph: the weak
    scored chain (`sql_weak_scored_ctes`) symmetrized and ranked into
    `ranked(src, rank, dst, cos_sim)`. Used by the
    `sim_search_knn_graph` oracle and, as the edge input, by
    `pipeline_release_semantic`'s."""
    return f"{sql_weak_scored_ctes()}, {sql_knn_ranked_ctes()}"


def _sql_knn_graph() -> str:
    """Full-value DuckDB oracle for `sim_search_knn_graph`: the
    shared weak-geometry chain (see `sql_knn_graph_ctes`), whole."""
    return f"""
    WITH {sql_knn_graph_ctes()}
    SELECT src, rank, dst, cos_sim FROM ranked
    """


@query("sim_search_knn_graph", oracle=_sql_knn_graph())
def sim_search_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide approximate kNN graph: for EVERY vector, its top-k
    semantic neighbors — the input graph a SemDeDup-style semantic
    curation pass consumes, and the one retrieval shape the family's
    other keys don't serve (`sim_search_*` retrieve for a FIXED query
    panel; `dedup_embedding*` emit threshold pairs, not per-doc
    ranked neighbors).

    Composition of two verified kernels, no new machinery: the
    `dedup_embedding_lsh` candidate pipeline (signature once per
    vector into a persisted frame, band-explode, ID-only bucket
    self-join so 64-element arrays never cross the candidate shuffle,
    exact-cosine scoring on join-back) feeds a per-source top-k
    window — each undirected candidate pair is scored ONCE, then
    symmetrized into both directions before ranking, since vector
    cosine is symmetric but "a's neighbors" and "b's neighbors" are
    distinct rows of the graph. The (cos_sim DESC, dst ASC) total
    order makes ranks deterministic cross-engine; precision of
    returned neighbors is exact (every candidate is exactly scored),
    only recall vs the brute-force graph is probabilistic — asserted
    against the quadratic ground truth in tests, never relied on by
    the oracle, which replays the same bucketing bit-for-bit.

    Band geometry: the weak-neighbor 18-bit/6×3 layout shared with
    `sim_search_lsh` — this corpus's true neighbors sit at cosine
    0.3-0.5 where tighter bands collapse recall (the constants'
    docstring). A production embedding corpus (near-dup neighbors at
    cos ≥ 0.85) flips to the 64-bit/8×8 constants exactly as
    `dedup_embedding_lsh_prod` does — same code path, and at that
    geometry the candidate mass is ~3%, which is what makes k·N
    output over a 100 TB corpus reachable: every stage is linear in
    corpus + collisions (signature scan, band explode = 6 rows/vec,
    bucket-equijoin, two key join-backs), the window is per-src
    top-k (WindowGroupLimit pre-cuts per partition before the rank
    shuffle — plan-asserted), and no stage ever materializes N².
    """
    emb = spread_table(spark, sf_dir, "embeddings")
    with_q = signature_frame(
        emb.select("vec_id", quantize(F.col("embedding")).alias("q"))
    )
    return knn_rank_directed(banded_scored_pairs(with_q))


#: Incremental kNN split: every KNN_INC_MOD-th vector is the "new
#: ingest"; the rest are the already-indexed corpus whose quantized
#: vectors, norms, signatures, and band rows are PERSISTED (built once
#: per testdata generation, appended on real ingests).
KNN_INC_MOD = 5


def _sql_knn_inc() -> str:
    """Full-value DuckDB oracle for `sim_search_knn_inc`: signatures
    and bands over the WHOLE corpus once (the union of the persisted
    base index and the increment's in-plan rows — identical band
    values by construction, since both engines compute the same
    integer signature), candidates = increment-side band rows against
    every other vector's band rows, exact-cosine re-rank, per-source
    top-KNN_K."""
    return f"""
    WITH {_SQL_EMB_Q}, {sql_sig_bands_ctes()}, cand AS (
        SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bval = b.bval
         AND a.vec_id % {KNN_INC_MOD} = 0
         AND b.vec_id != a.vec_id
    ), scored AS MATERIALIZED (
        SELECT cand.src, cand.dst,
               {sql_cosine('ea.embedding', 'eb.embedding')} AS cos_sim
        FROM cand
        JOIN embeddings ea ON ea.vec_id = cand.src
        JOIN embeddings eb ON eb.vec_id = cand.dst
    ){sql_knn_rank('scored')}
    """


@query("sim_search_knn_inc", oracle=_sql_knn_inc())
def sim_search_knn_inc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL kNN: top-k semantic neighbors for the NEWLY
    ingested vectors only, by probing the PERSISTED signature index of
    the already-ingested corpus — never re-running the corpus
    self-join. The graph-maintenance sibling of `dedup_incremental`:
    a continuously-ingested corpus keeps its kNN graph current by
    computing each increment's edges (new→corpus and new→new) and
    appending, at O(increment × collision fan-in) per ingest instead
    of O(corpus²) — the only affordable cadence at 100 TB.

    The corpus keeps the signature index (`write_sig_index`, built
    once here, appended on real ingests): the quantized-vector/norm/
    signature table and its exploded (band, bval) rows — the SAME
    `_signature` integers as `sim_search_knn_graph`, so index and
    probe agree
    bit-for-bit and the increment's edges equal what a full rebuild
    would assign those vectors. The increment computes its own
    signatures in-plan (persisted + tracked), probes the index on
    (band, bval) — a hash join against LSH_BANDS rows per corpus
    vector — adds increment-internal collisions from a self-join of
    its own (tiny) band set, exact-cosine re-ranks candidates with
    vectors fetched by key join from index + in-plan rows, and cuts
    per-source top-k under WindowGroupLimit. The oracle computes
    signatures over the union once — numerically identical to
    index-plus-probe, which is the invariant that makes the persisted
    index trustworthy.

    Same weak-geometry candidate-mass caveat as the full-graph key
    (BASELINE.md soak probes); the prod constants drop in
    identically.
    """
    # the persisted index is a pure function of the band geometry, the
    # hyperplane PRNG, quantize(), and the split modulus — bake the
    # geometry into the kind so a future constants change keys a fresh
    # build instead of serving signatures that disagree with the
    # in-plan increment (the ZORDER_KIND staleness class; scratch_dir
    # fingerprints INPUTS, never build code)
    base_dir = scratch_dir(
        f"knninc_b{LSH_BITS}x{LSH_BAND_BITS}_m{KNN_INC_MOD}_v1",
        sf_dir,
        "embeddings",
    )
    emb = load_table(spark, sf_dir, "embeddings")
    is_inc = F.col("vec_id") % KNN_INC_MOD == 0

    def quantized(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id", quantize(F.col("embedding")).alias("q")
        )

    build_once(
        base_dir,
        lambda: write_sig_index(
            quantized(
                spread(emb.where(~is_inc), spark,
                       probe_key=f"{sf_dir}/embeddings")
            ),
            base_dir,
        ),
    )
    inc_q = signature_frame(
        quantized(
            spread(emb.where(is_inc), spark,
                   probe_key=f"{sf_dir}/embeddings")
        )
    )
    return knn_inc_probe(inc_q, base_dir)
