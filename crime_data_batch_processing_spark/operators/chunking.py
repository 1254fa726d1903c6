"""Training-sequence preparation: sliding-window document chunking
and token-budget sequence packing.

The reference never touches document text (its only string op is an
equality filter, /root/reference/spark_process_script.py:37); these
are the operators an LLM training-data pipeline runs after cleaning
and dedup: split every document into overlapping context-window
chunks, then assign chunks/docs to fixed-token-budget packs so the
trainer reads dense, same-size sequences.

Both are pure Catalyst expressions — `split`/`sequence`/`slice`/
`explode` for chunking, a partitioned window cumsum for packing —
no Python in the row path, so they codegen and scale like any other
projection. Tokenization here is whitespace splitting; the BPE-ish
regex tokenizer lives in `text_analysis` and composes the same way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import load_table

#: Context window of a chunk, in whitespace tokens.
CHUNK_TOKENS = 32
#: Start-to-start distance between consecutive chunks (overlap =
#: CHUNK_TOKENS - CHUNK_STRIDE = 8 tokens of shared context).
CHUNK_STRIDE = 24

#: Token capacity of one training pack.
PACK_CAPACITY = 256
#: Packing shards — packing needs an ordered running total, which is
#: inherently sequential; sharding by doc_id makes it N independent
#: sequential problems, one per reducer. 8 here; thousands at 100 TB.
PACK_SHARDS = 8


def chunk_stage(docs: DataFrame) -> DataFrame:
    """Sliding-window chunking of a (doc_id, text) frame into (doc_id,
    chunk_id, chunk_text, n_tokens) rows: CHUNK_TOKENS-token windows,
    stride CHUNK_STRIDE.

    `sequence(0, n_tokens-1, stride)` generates the start offsets,
    `explode` fans them out, `slice` cuts each window — one narrow
    projection plus one explode, no shuffle at all: chunking 100 TB
    is embarrassingly parallel and this plan keeps it that way (the
    explode multiplies rows ~2.3× at these document lengths, far
    below the 8× a naive per-token explode would cost). The final
    chunk may be shorter than the window; it is kept (standard
    pretraining practice) and its true length is emitted as
    `n_tokens`.
    """
    toks = F.split(F.col("text"), " ")
    return (
        docs.select(
            "doc_id",
            toks.alias("t"),
            F.sequence(
                F.lit(0),
                F.greatest(F.size(toks) - 1, F.lit(0)),
                F.lit(CHUNK_STRIDE),
            ).alias("starts"),
        )
        .select("doc_id", "t", F.explode("starts").alias("i"))
        .select(
            "doc_id",
            (F.col("i") / CHUNK_STRIDE).cast("long").alias("chunk_id"),
            F.array_join(
                F.slice(F.col("t"), F.col("i") + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
            (
                F.least(F.col("i") + CHUNK_TOKENS, F.size("t")) - F.col("i")
            ).alias("n_tokens"),
        )
    )


def sql_chunk_stage(source: str) -> str:
    """The SQL twin of `chunk_stage` over a `{source}(doc_id, text)`
    relation: the `toks` and `starts` CTEs plus the final SELECT."""
    return f"""toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM {source}
    ), starts AS (
        SELECT doc_id, t,
               unnest(range(0, greatest(len(t), 1), {CHUNK_STRIDE})) AS i
        FROM toks
    )
    SELECT doc_id,
           i // {CHUNK_STRIDE} AS chunk_id,
           array_to_string(list_slice(t, i + 1, i + {CHUNK_TOKENS}), ' ')
               AS chunk_text,
           least(i + {CHUNK_TOKENS}, len(t)) - i AS n_tokens
    FROM starts"""


@query("doc_chunks", oracle=f"WITH {sql_chunk_stage('documents')}")
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking of every document (`chunk_stage`)."""
    return chunk_stage(load_table(spark, sf_dir, "documents"))


@query(
    "pack_sequences",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id,
               doc_id % {PACK_SHARDS} AS shard,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), running AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM sized
    )
    SELECT doc_id, shard, n_tokens,
           CAST(shard * 1000000 + (cum - n_tokens) // {PACK_CAPACITY}
                AS BIGINT) AS pack_id,
           CAST((cum - n_tokens) % {PACK_CAPACITY} AS BIGINT) AS pack_offset
    FROM running
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing: assign each document to a
    {PACK_CAPACITY}-token training pack by running token total.

    This is concatenate-and-cut packing at document granularity (the
    GPT-style pretraining layout): within a shard, documents are laid
    end to end in doc_id order and a new pack starts every
    {PACK_CAPACITY} tokens; `pack_offset` is where the doc starts
    inside its pack (a doc crossing the boundary spills into the next
    pack — the trainer's cut point, kept deterministic here).

    A single global running total cannot scale — it is one ordered
    partition. Sharding first (doc_id % {PACK_SHARDS}) turns packing
    into {PACK_SHARDS} independent window cumsums, each a normal
    partitioned window; pack ids are globally unique via the
    shard-offset encoding. At 100 TB the shard count rises with the
    cluster and nothing else changes.
    """
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return sized.select(
        "doc_id",
        "shard",
        "n_tokens",
        (
            F.col("shard") * 1000000
            + ((cum - F.col("n_tokens")) / PACK_CAPACITY).cast("long")
        ).alias("pack_id"),
        ((cum - F.col("n_tokens")) % PACK_CAPACITY).alias("pack_offset"),
    )
