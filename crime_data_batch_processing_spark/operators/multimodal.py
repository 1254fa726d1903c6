"""Multimodal column pattern (P41): typed binary payloads + Arrow
feature extraction via `mapInPandas`.

The reference's richest type is a string (SURVEY.md §1.2). A
training-data pipeline carries images/audio/video as opaque `binary`
columns wrapped in a typed struct:

    media: struct<uri: string, mime: string, data: binary,
                  meta: struct<lang: string, n_chars: long>>

That envelope is the whole design: the engine shuffles/partitions/
filters on the cheap typed fields (uri, mime, meta) and only the
Python feature-extraction stage ever touches `data` — and it does so
through `mapInPandas`, which streams Arrow record batches so a
partition never has to fit in one pandas frame at once (unlike
`applyInPandas`, there is no per-group materialization: the right
shape for 100 TB of binary payloads).

The actual media DECODE step (PIL/ffmpeg/soundfile) is stubbed: those
libraries are not in this environment, so `decode_media` raises
NotImplementedError by contract and the pipeline runs a deterministic
byte-level extraction instead (length + checksum), keeping every
Spark-side piece — schema, Arrow batching, struct plumbing — real and
oracle-checked. Payloads here are the UTF-8 document text standing in
for image bytes.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.fixtures import build_once, scratch_dir
from crime_data_batch_processing_spark.functions.veckit import sql_qdot
from crime_data_batch_processing_spark.operators.llm_dedup import (
    PLANT_EVERY,
    PLANT_OFFSET,
    PROD_LSH_BAND_BITS,
    PROD_LSH_BANDS,
    PROD_LSH_BITS,
    SEMDEDUP_INC_MOD,
    SEMDEDUP_INC_RESIDUE,
    semantic_verdict,
    sql_semantic_witness_cte,
)
from crime_data_batch_processing_spark.operators.similarity import (
    banded_scored_pairs,
    knn_inc_probe,
    signature_frame,
    sql_knn_ranked_ctes,
    sql_pair_cand_ctes,
    write_sig_index,
)
from crime_data_batch_processing_spark.registry import query
from crime_data_batch_processing_spark.sources.tables import load_table, spread

CHECKSUM_MOD = 1_000_000_007
#: scan_binary fixture size — enough files to exercise listing +
#: per-file tasks, few enough that fixture setup stays sub-second
BIN_DOCS = 200

FEATURE_SCHEMA = (
    "doc_id long, uri string, mime string, byte_len long, checksum long"
)


def decode_media(data: bytes, mime: str) -> object:
    """Decode an image/audio/video payload. STUB — deliberately
    unimplemented: the decode libraries (PIL, ffmpeg, librosa) are not
    available in this environment. The Spark-side contract (binary in,
    typed features out, via mapInPandas) is exercised with
    `_byte_features` instead."""
    raise NotImplementedError(
        f"media decoding for {mime!r} requires an image/audio library; "
        "wire PIL/ffmpeg here in a full deployment"
    )


def resize_image(data: bytes, width: int, height: int) -> bytes:
    """Resize an image payload. STUB — see `decode_media`."""
    raise NotImplementedError(
        "image resize requires PIL; wire Image.open(...).resize((w, h)) here"
    )


def sample_frames(data: bytes, every_n: int) -> list[bytes]:
    """Sample every n-th frame of a video payload. STUB — see
    `decode_media`."""
    raise NotImplementedError(
        "frame sampling requires ffmpeg/pyav; wire container demux here"
    )


def transform_media(
    df: DataFrame,
    out_schema: str,
    row_fn,
    payload_col: str = "media.data",
) -> DataFrame:
    """Generic Arrow-streamed per-payload transform: the plumbing that
    `resize` / `frame-sample` / `decode` plug into.

    `row_fn(payload: bytes, row: dict) -> dict` runs per row inside
    `mapInPandas` batches; the function is wrapped in a NESTED
    iterator (by-value pickling, see `multimodal_cols`). The batch
    loop never materializes a partition — constant memory per Arrow
    batch regardless of payload sizes.
    """
    top, _, field = payload_col.partition(".")
    flat = df.select("doc_id", F.col(payload_col).alias("data"))

    def _apply(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                row_fn(raw, {"doc_id": did})
                for did, raw in zip(pdf["doc_id"], pdf["data"])
            ]
            yield pd.DataFrame(rows)

    return flat.mapInPandas(_apply, schema=out_schema)


@query(
    "scan_binary",
    oracle=f"""
    SELECT doc_id, octet_length(encode(text)) AS n_bytes
    FROM documents WHERE doc_id < {BIN_DOCS}
    """,
)
def scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`binaryFile` source scan: one opaque payload per file.

    The ingestion front door for raw image/audio/video assets — Spark
    lists the directory, assigns files to tasks, and yields
    (path, modificationTime, length, content) rows with the payload as
    a `binary` column, ready for `media_envelope`/`transform_media`.
    Only deterministic projections (id parsed from the path, byte
    length computed JVM-side) surface in the result; mtime never does.

    Fixture: each document's UTF-8 bytes written once as `doc_<id>.bin`
    (driver-side, fixture setup only — the operator path is fully
    distributed). At 100 TB the same scan works unchanged, but
    millions of small files make LISTing the bottleneck — production
    front-doors compact payloads into parquet binary columns (the
    `multimodal_cols` shape) after exactly this scan.
    """
    base = scratch_dir("bin", sf_dir, "documents")
    bin_dir = f"{base}/documents"

    def _build() -> None:
        os.makedirs(bin_dir, exist_ok=True)
        docs = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < BIN_DOCS)
            .select("doc_id", "text")
        )
        for row in docs.toLocalIterator():
            with open(os.path.join(bin_dir, f"doc_{row.doc_id}.bin"), "wb") as f:
                f.write(row.text.encode("utf-8"))

    build_once(base, _build)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(bin_dir)
    )
    return raw.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id"),
        F.length("content").alias("n_bytes"),
    )


def media_envelope(docs: DataFrame) -> DataFrame:
    """Wrap documents into the typed multimodal struct."""
    return docs.select(
        "doc_id",
        F.struct(
            F.concat(F.lit("doc://"), F.col("source"), F.lit("/"), F.col("doc_id")).alias(
                "uri"
            ),
            F.lit("text/plain").alias("mime"),
            F.encode(F.col("text"), "UTF-8").alias("data"),
            F.struct(F.col("lang"), F.col("n_chars")).alias("meta"),
        ).alias("media"),
    )


@query(
    "multimodal_cols",
    oracle=f"""
    SELECT doc_id,
           'doc://' || source || '/' || doc_id AS uri,
           'text/plain' AS mime,
           octet_length(encode(text)) AS byte_len,
           CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c)))
                % {CHECKSUM_MOD} AS BIGINT) AS checksum
    FROM documents
    """,
)
def multimodal_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed media envelope → Arrow-streamed byte-feature extraction.

    The extraction function is NESTED so cloudpickle ships it by
    value (module-level functions pickle by reference and require the
    package on worker PYTHONPATH — not guaranteed).

    The oracle recomputes both features in SQL: payloads are ASCII
    text, so octet_length == character count and the byte checksum ==
    sum of character codes.
    """

    def _byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the deterministic stand-in for decode_media(): per-payload
        # byte length + additive checksum, one output row per input row
        for pdf in batches:
            data = pdf["data"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "uri": pdf["uri"],
                    "mime": pdf["mime"],
                    "byte_len": data.map(len).astype("int64"),
                    "checksum": data.map(lambda b: sum(b) % CHECKSUM_MOD).astype(
                        "int64"
                    ),
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    flat = media_envelope(docs).select(
        "doc_id", "media.uri", "media.mime", "media.data"
    )
    return flat.mapInPandas(_byte_features, schema=FEATURE_SCHEMA)


#: Thumbnail stand-in: the first THUMB_BYTES of the payload. A real
#: deployment swaps `_thumb` for resize_image() once PIL is present —
#: the Spark-side plumbing (transform_media) is identical.
THUMB_BYTES = 64


@query(
    "multimodal_thumbnail",
    oracle=f"""
    SELECT doc_id,
           least(octet_length(encode(text)), {THUMB_BYTES}) AS thumb_len,
           CAST(list_sum(list_transform(
                    string_split(substring(text, 1, {THUMB_BYTES}), ''),
                    c -> ascii(c))) % {CHECKSUM_MOD} AS BIGINT) AS thumb_sum
    FROM documents
    """,
)
def multimodal_thumbnail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload transform through the GENERIC `transform_media`
    plumbing — the path `resize_image`/`sample_frames` plug into.

    The transform is a deterministic byte-level thumbnail (first
    THUMB_BYTES=64 bytes + additive checksum) standing in for an image
    resize, so the full chain — typed envelope → payload flatten →
    Arrow-batched mapInPandas → per-row Python transform → typed
    output — runs and is oracle-verified even without decode
    libraries (payloads are ASCII text, so byte arithmetic is SQL-
    reproducible).
    """

    def _thumb(payload: bytes, row: dict) -> dict:
        head = payload[:THUMB_BYTES]
        return {
            "doc_id": row["doc_id"],
            "thumb_len": len(head),
            "thumb_sum": sum(head) % CHECKSUM_MOD,
        }

    docs = load_table(spark, sf_dir, "documents")
    return transform_media(
        media_envelope(docs),
        "doc_id long, thumb_len long, thumb_sum long",
        _thumb,
    )


#: `multimodal_decode`: a REAL image decode through the generic
#: `transform_media` plumbing — binary PPM (netpbm P6), the one raster
#: format a pure-stdlib codec can read, standing where PIL/ffmpeg
#: would plug in (decode_media above stays the documented plug point
#: for formats that need external libraries). Image dims and pixels
#: are pure functions of doc_id, so the DuckDB oracle recomputes the
#: decoded channel sums from the generating formula — if the encoder
#: OR the parser mangles a single byte, the strict compare fails.
PPM_DOCS = 200
PPM_PIXEL = "(doc_id * 31 + i) % 256"  # byte i of the pixel plane
#: widest image: w ≤ 16, h ≤ 14 ⇒ plane ≤ 672 bytes (range() in the
#: oracle cannot take a correlated argument, so it spans this max and
#: filters to each image's true plane size)
PPM_MAX_PLANE = 16 * 14 * 3


def _ppm_dims(doc_id: int) -> tuple[int, int]:
    return 8 + doc_id % 9, 8 + doc_id % 7


def _ppm_bytes(doc_id: int) -> bytes:
    """Encode doc_id's deterministic image as real P6 bytes. Three
    header variants by doc_id (canonical / comment line / exotic-but-
    legal whitespace) so the fixture exercises the parser's full
    header grammar, not just the bytes this encoder would pick."""
    w, h = _ppm_dims(doc_id)
    if doc_id % 3 == 0:
        header = f"P6\n{w} {h}\n255\n".encode()
    elif doc_id % 3 == 1:
        header = f"P6\n# synthetic fixture image {doc_id}\n{w} {h}\n255\n".encode()
    else:
        header = f"P6 {w}\t{h}\r\n255\n".encode()
    plane = bytes((doc_id * 31 + i) % 256 for i in range(w * h * 3))
    return header + plane


@query(
    "multimodal_decode",
    oracle=f"""
    SELECT doc_id,
           CAST(8 + doc_id % 9 AS BIGINT) AS width,
           CAST(8 + doc_id % 7 AS BIGINT) AS height,
           CAST((8 + doc_id % 9) * (8 + doc_id % 7) AS BIGINT) AS n_px,
           (SELECT CAST(SUM({PPM_PIXEL}) AS BIGINT) FROM range({PPM_MAX_PLANE}) t(i)
            WHERE i < (8 + doc_id % 9) * (8 + doc_id % 7) * 3 AND i % 3 = 0) AS sum_r,
           (SELECT CAST(SUM({PPM_PIXEL}) AS BIGINT) FROM range({PPM_MAX_PLANE}) t(i)
            WHERE i < (8 + doc_id % 9) * (8 + doc_id % 7) * 3 AND i % 3 = 1) AS sum_g,
           (SELECT CAST(SUM({PPM_PIXEL}) AS BIGINT) FROM range({PPM_MAX_PLANE}) t(i)
            WHERE i < (8 + doc_id % 9) * (8 + doc_id % 7) * 3 AND i % 3 = 2) AS sum_b
    FROM documents WHERE doc_id < {PPM_DOCS}
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end: .ppm files on disk → `binaryFile`
    scan → header parse + pixel-plane slice → per-channel integer
    stats, all through the generic `transform_media` plumbing — the
    executed form of the plug point `decode_media` documents for
    PIL/ffmpeg formats.

    The fixture writes one binary-PPM (P6) file per doc_id < PPM_DOCS
    with deterministic dims/pixels and three legal header spellings
    (canonical, comment line, mixed whitespace). The decoder is a real
    netpbm parser — magic check, comment-skipping whitespace
    tokenizer, declared-size validation — not a byte-offset hack tied
    to one encoder layout; it is NESTED so cloudpickle ships it by
    value (the module-level-helper worker trap, see multimodal_cols).
    All outputs are integers (dims, pixel-channel sums), so the oracle
    — which recomputes them from the generating formula, never from
    the bytes — is strict and float-free: a single flipped byte in
    encode OR decode breaks the compare.

    Scale shape: identical to every transform_media consumer — listing
    + per-file tasks for the scan, then a map-only Arrow pass; at
    100 TB the payloads ride parquet binary columns instead of small
    files (the multimodal_cols shape) and the same decode runs
    unchanged.
    """
    base = scratch_dir("ppm", sf_dir, "documents")
    img_dir = f"{base}/images"

    def _build() -> None:
        os.makedirs(img_dir, exist_ok=True)
        ids = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < PPM_DOCS)
            .select("doc_id")
            .collect()  # bounded: PPM_DOCS rows, fixture setup only
        )
        for row in ids:
            path = os.path.join(img_dir, f"img_{row.doc_id}.ppm")
            with open(path, "wb") as f:
                f.write(_ppm_bytes(row.doc_id))

    build_once(base, _build)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.ppm")
        .load(img_dir)
    )
    env = raw.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)\.ppm$", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content"),
    )

    def _decode_stats(payload: bytes, row: dict) -> dict:
        # real P6 parser, nested for by-value pickling
        def _tokens(buf: bytes, n: int) -> tuple[list[int], int]:
            """First n whitespace-separated integer header tokens
            after the magic, skipping '#' comments; returns (values,
            offset just past the single whitespace byte that
            terminates the last token — the netpbm rule)."""
            vals: list[int] = []
            pos = 2  # past b"P6"
            while len(vals) < n:
                while buf[pos] in b" \t\r\n":
                    pos += 1
                if buf[pos] == ord("#"):
                    while buf[pos] != ord("\n"):
                        pos += 1
                    continue
                start = pos
                while buf[pos] not in b" \t\r\n":
                    pos += 1
                vals.append(int(buf[start:pos]))
            return vals, pos + 1  # exactly ONE whitespace ends the header

        assert payload[:2] == b"P6", "not a binary PPM"
        (w, h, maxval), off = _tokens(payload, 3)
        assert maxval == 255, f"unsupported maxval {maxval}"
        plane = payload[off:]
        assert len(plane) == w * h * 3, (
            f"truncated pixel plane: {len(plane)} != {w}x{h}x3"
        )
        sums = [0, 0, 0]
        for i, b in enumerate(plane):
            sums[i % 3] += b
        return {
            "doc_id": row["doc_id"],
            "width": w,
            "height": h,
            "n_px": w * h,
            "sum_r": sums[0],
            "sum_g": sums[1],
            "sum_b": sums[2],
        }

    return transform_media(
        env,
        "doc_id long, width long, height long, n_px long, "
        "sum_r long, sum_g long, sum_b long",
        _decode_stats,
        payload_col="content",
    )


@query(
    "multimodal_dedup",
    oracle="""
    SELECT doc_id,
           md5(text) AS digest,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
           doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
    FROM documents
    """,
)
def multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over OPAQUE binary payloads — the byte-
    identical rung of the dedup ladder, applied to the media column.

    Image/audio/video corpora are deduped first by raw content digest
    (the same asset re-crawled under different URIs): hash the binary
    payload JVM-side (`F.md5` on the envelope's `data` — works on any
    bytes, no decode needed), shuffle once on the 128-bit digest, and
    elect the minimum doc_id as each group's canonical copy. Digest
    partitioning is uniform by construction (cryptographic hash), so
    the shuffle has no skew at any scale; the window min is one
    exchange, same cost as the groupBy+join-back alternative but
    keeps every row's verdict in the output (keep/drop decision
    stream, what a curation pipeline actually persists).

    The text sibling is `dedup_exact` (orders, whole-row); here the
    digest is computed from the envelope bytes themselves, so the
    operator is modality-agnostic: the same plan dedups 100 TB of
    JPEGs. DuckDB's md5() hashes the VARCHAR's UTF-8 bytes — exactly
    the envelope's `encode(text, 'UTF-8')` payload, so digests match
    bit-for-bit.
    """
    from pyspark.sql import Window

    env = media_envelope(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("digest")
    return (
        env.select(
            "doc_id", F.md5(F.col("media.data")).alias("digest")
        )
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("is_dup", F.col("doc_id") != F.col("canonical_id"))
    )


@query(
    "pipeline_media_ingest",
    # Payloads are ASCII text, so every byte feature is SQL-
    # reproducible (octet_length == chars, byte sums == ascii sums) —
    # the same contract as the other multimodal oracles.
    oracle=f"""
    WITH env AS (
        SELECT doc_id, lang, text, md5(text) AS digest
        FROM documents
    ), verdict AS (
        SELECT doc_id, lang, text,
               doc_id <> MIN(doc_id) OVER (PARTITION BY digest) AS is_dup
        FROM env
    )
    SELECT lang,
           COUNT(*) FILTER (WHERE NOT is_dup) AS n_assets,
           COUNT(*) FILTER (WHERE is_dup) AS n_dups,
           CAST(COALESCE(SUM(octet_length(encode(text)))
                    FILTER (WHERE NOT is_dup), 0) AS BIGINT) AS total_bytes,
           CAST(COALESCE(SUM(list_sum(list_transform(
                    string_split(substring(text, 1, {THUMB_BYTES}), ''),
                    c -> ascii(c))) % {CHECKSUM_MOD})
                    FILTER (WHERE NOT is_dup), 0) AS BIGINT)
               AS thumb_checksum
    FROM verdict
    GROUP BY lang
    """,
)
def pipeline_media_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal family composed end-to-end in ONE lazy plan —
    the media-ingest topology a 100 TB asset pipeline runs nightly:
    typed envelope → byte-digest dedup verdict → Arrow-batched
    payload transform on SURVIVORS only → per-language ingest report
    (kept/dropped counts, payload bytes, transform checksum).

    Composition details that matter at scale: the dedup verdict is a
    window over the cryptographic digest (uniform shuffle, no skew),
    computed BEFORE the Python transform so duplicate payloads never
    pay the expensive per-payload work (with real decoders that is
    the entire cost); the transform flows through one Arrow
    `mapInPandas` carrying the verdict and language along, so the
    final report is a single hash aggregate over its output. The
    thumbnail stand-in keeps the chain oracle-verifiable without
    media libraries — a deployment swaps in `resize_image` and
    nothing else moves.
    """
    from pyspark.sql import Window

    env = media_envelope(load_table(spark, sf_dir, "documents"))
    flat = env.select(
        "doc_id",
        F.col("media.data").alias("data"),
        F.col("media.meta.lang").alias("lang"),
        F.md5(F.col("media.data")).alias("digest"),
    )
    w = Window.partitionBy("digest")
    flagged = flat.withColumn(
        "is_dup", F.col("doc_id") != F.min("doc_id").over(w)
    )

    def _features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keep = ~pdf["is_dup"]
            data = pdf["data"]
            yield pd.DataFrame(
                {
                    "lang": pdf["lang"],
                    "is_dup": pdf["is_dup"],
                    "byte_len": data.map(len).where(keep, 0).astype("int64"),
                    "thumb_sum": data.map(
                        lambda b: sum(b[:THUMB_BYTES]) % CHECKSUM_MOD
                    ).where(keep, 0).astype("int64"),
                }
            )

    feats = flagged.mapInPandas(
        _features,
        schema="lang string, is_dup boolean, byte_len long, thumb_sum long",
    )
    return feats.groupBy("lang").agg(
        F.count(F.when(~F.col("is_dup"), 1)).alias("n_assets"),
        F.count(F.when(F.col("is_dup"), 1)).alias("n_dups"),
        F.sum("byte_len").alias("total_bytes"),
        F.sum("thumb_sum").alias("thumb_checksum"),
    )


#: Frame-sampling stand-in parameters: payloads are treated as a
#: container of fixed FRAME_BYTES "frames"; every EVERY_N-th frame is
#: sampled, at most MAX_FRAMES per asset (the uniform-stride sampling
#: a video curation pipeline runs before captioning/embedding).
FRAME_BYTES = 32
EVERY_N = 4
MAX_FRAMES = 8


@query(
    "multimodal_framesample",
    oracle=f"""
    SELECT doc_id,
           CAST(u.i AS BIGINT) AS frame_idx,
           CAST(u.i * {EVERY_N} AS BIGINT) AS chunk_idx,
           octet_length(encode(substring(
               text, 1 + u.i * {EVERY_N} * {FRAME_BYTES}, {FRAME_BYTES}
           ))) AS frame_len,
           CAST(list_sum(list_transform(
               string_split(substring(
                   text, 1 + u.i * {EVERY_N} * {FRAME_BYTES}, {FRAME_BYTES}
               ), ''), c -> ascii(c)
           )) % {CHECKSUM_MOD} AS BIGINT) AS frame_sum
    FROM documents,
         unnest(range(least({MAX_FRAMES},
             ((octet_length(encode(text)) + {FRAME_BYTES - 1})
              // {FRAME_BYTES} + {EVERY_N - 1}) // {EVERY_N}
         ))) AS u(i)
    """,
)
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform-stride frame sampling — the ONE-TO-MANY leg of the
    multimodal family (`multimodal_cols`/`multimodal_thumbnail` are
    1:1 transforms; a video pipeline's demux step emits N frame rows
    PER asset row, and that fan-out batch shape is what this key
    exercises end-to-end): typed envelope → Arrow-batched
    `mapInPandas` → per-asset frame loop → flat frame table.

    The deterministic stand-in samples every 4th 32-byte chunk (at
    most 8 per asset — the EVERY_N/FRAME_BYTES/MAX_FRAMES constants
    above) with a length + additive checksum per frame —
    `sample_frames()` (the documented
    ffmpeg plug point, multimodal.py:70) swaps in once a demux
    library exists; schema, stride arithmetic, and the 1:N Arrow
    batch shape are identical either way. Payloads are ASCII text, so
    the oracle replays the byte arithmetic with substring/ascii in
    SQL.

    Scale shape: `mapInPandas` streams Arrow batches — no per-group
    materialization, no shuffle at all (the transform is map-only);
    output fan-out is bounded by MAX_FRAMES, so task memory is
    O(batch · MAX_FRAMES). At 100 TB the only cost is the scan plus
    Python/Arrow transfer of the payload column — exactly the cost a
    real demux pays, and the reason the envelope keeps bytes OUT of
    every query that only needs typed metadata.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # nested so cloudpickle ships it by value (module-level
        # functions pickle by reference; workers lack the package)
        for pdf in batches:
            ids, fidx, cidx, flen, fsum = [], [], [], [], []
            for doc_id, data in zip(pdf["doc_id"], pdf["data"]):
                n_chunks = (len(data) + FRAME_BYTES - 1) // FRAME_BYTES
                n = min(MAX_FRAMES, (n_chunks + EVERY_N - 1) // EVERY_N)
                for i in range(n):
                    c = i * EVERY_N
                    chunk = data[c * FRAME_BYTES:(c + 1) * FRAME_BYTES]
                    ids.append(doc_id)
                    fidx.append(i)
                    cidx.append(c)
                    flen.append(len(chunk))
                    fsum.append(sum(chunk) % CHECKSUM_MOD)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(fidx, dtype="int64"),
                    "chunk_idx": pd.Series(cidx, dtype="int64"),
                    "frame_len": pd.Series(flen, dtype="int64"),
                    "frame_sum": pd.Series(fsum, dtype="int64"),
                }
            )

    docs = load_table(spark, sf_dir, "documents")
    flat = media_envelope(docs).select("doc_id", "media.data")
    return flat.mapInPandas(
        _frames,
        schema="doc_id long, frame_idx long, chunk_idx long,"
        " frame_len long, frame_sum long",
    )


#: `multimodal_dedup_semantic`: SEMANTIC near-dup detection for media
#: payloads — the capability `multimodal_dedup` (byte-digest EXACT
#: dedup above) cannot provide: a re-uploaded image that differs by
#: one byte has a different md5 but the same content.
#:
#: Feature space — SIGN-TRICK FEATURE HASHING (Weinberger et al.) of
#: byte MEDIA_GRAM_K-grams into a MEDIA_EMBED_BINS-dim signed
#: histogram: each K-gram's rolling hash (progressive *31 mod 2^31 —
#: every intermediate stays in int64 in BOTH engines) is mixed
#: (Knuth multiplicative, mod 2^32), the mix selects a bucket AND a
#: ±1 sign, and the doc's vector is the signed bucket sum. The sign
#: trick makes the hashed dot an UNBIASED estimator of the sparse
#: K-gram dot — which is what kills the failure mode measured before
#: this design was chosen: unsigned histograms (byte unigrams OR
#: low-order n-grams) of same-generator payloads fold thousands of
#: common grams into 64 always-positive buckets and ALL sit at
#: cosine 0.8-0.999, putting 30-52% of all pairs in LSH collision
#: (quadratic). Measured on driver data (sf0.1, 5250 payloads):
#: unigram-centered 0.9999 natural max; bigram-centered 52% candidate
#: mass; K=10 sign-trick → 4.6% candidate mass with natural p99
#: cosine 0.34 — the production family's pruning regime. BINS equals
#: EMBED_DIM so the vector reuses the SAME deterministic dim-64
#: hyperplanes and the production 64-bit/8×8 band geometry as the
#: `dedup_embedding_lsh_prod` family.
#:
#: Planted ground truth (the media twin of llm_dedup's PLANT_*):
#: every PLANT_EVERY-th payload is "re-uploaded" with a single
#: trailing space at doc_id + PLANT_OFFSET; the K-gram delta is ~K
#: grams out of hundreds, so planted pairs sit at cos ≥ 0.985 and —
#: replayed through the exact signature math in numpy at sf0.001,
#: sf0.01, and sf0.1 — collide in ≥1 band deterministically (recall
#: 1.0, asserted in tests). Natural pairs above the threshold are
#: genuine byte-space near-dups (this corpus contains them by
#: construction) and are found too.
#:
#: Int64 bounds: |q_i| ≤ len(payload), so the plane dot
#: (≤ 64·2^20·len) and self dot (≤ 64·len²) stay in int64 for
#: payloads to ~100 MB; the rolling hash is bounded by construction.
MEDIA_EMBED_BINS = 64
MEDIA_GRAM_K = 10
MEDIA_GRAM_MULT = 31
MEDIA_GRAM_MOD = 1 << 31
MEDIA_MIX_MULT = 2654435761
MEDIA_MIX_MOD = 1 << 32
MEDIA_COSINE_THRESHOLD = 0.97
MEDIA_PLANT_SUFFIX = " "
#: WIDE band geometry for the 128-bit media rung (the multi-word
#: signature knob, bits ~ log N): 8 bands of 16 bits across TWO
#: signature words. Numpy band replay on the REAL corpus
#: (sf0.1, 5250 payloads): candidate ratio drops 0.0458 → 0.00042
#: (109×) — the knob that removes the fixed-geometry N² boundary of
#: the 64-bit rung — at a measured planted recall of 249/250
#: (the one miss, src=3000 at cos 0.9949, is a SHORT payload whose
#: ~10-gram delta flips more sign bits than its cosine suggests;
#: 192-bit/12×16 misses the same pair, so the loss is inherent to
#: 16-bit bands, not a width shortfall). The 64-bit key remains the
#: recall-1.0 ground-truth rung; this is the scale rung — the same
#: deliberate two-rung split as sim_search_knn_graph vs _prod.
MEDIA_WIDE_BITS = 128
MEDIA_WIDE_BANDS = 8
MEDIA_WIDE_BAND_BITS = 16

#: The NEXT-decade geometry, chosen by measurement: the numpy band
#: replay on the sf0.1 media corpus (5250 payloads) measured the
#: candidate-pair union ratio per geometry as
#:   64-bit  8×8  → 4.59%    (recall 250/250)
#:   128-bit 8×16 → 0.0416%  (recall 249/250, the shipped wide rung)
#:   192-bit 12×16 → 0.0606% (recall 249/250 — REJECTED: adding
#:       bands at fixed band width RAISES collision mass ~1.45×;
#:       "bits ~ log N" executed as band-count growth moves the
#:       wrong way)
#:   192-bit 6×32 → 0.0034%  (recall 237/250 — too much recall lost)
#:   256-bit 8×32 → 0.0035%  (recall 244/250 — 12× below the wide
#:       rung at 2.4% planted-recall cost; the honest knob is BAND
#:       WIDTH ~ log N at constant band count)
#: So the registered next rung is 256-bit/8×32. Like the 16-bit-band
#: trade, the recall loss is deterministic and pinned against the
#: numpy replay in tests — never claimed as 1.0.
MEDIA_XWIDE_BITS = 256
MEDIA_XWIDE_BANDS = 8
MEDIA_XWIDE_BAND_BITS = 32


def _sql_media_ctes(bits: int, bands: int, band_bits: int) -> str:
    """Shared WITH-body for the media oracles, ending at the
    `scored(vec_a, vec_b, cos_sim)` CTE (callers append their final
    shape) — see `_sql_media_scored` for the stage walk-through.

    `sig` and `scored` are MATERIALIZED and `q` is not. DuckDB inlines
    a non-materialized CTE at every reference: `bands` reads `sig`
    once per band arm (re-running the `bits`-wide signature
    expression each time), and the kNN callers read `scored` more
    than once. Measured DuckDB time per oracle at sf0.001, 4 cores:
    the 64-bit rung takes 2.0 s (29.6 s un-hinted), the 128-bit rung
    3.3 s (un-hinted it ran out of memory at 12.5 GiB), the 256-bit
    rung 9.1 s (31 s with `q` materialized too). Materializing `q`
    also slows the 128-bit rung to 7.5 s."""

    gram = "ascii(text[i])"
    for j in range(1, MEDIA_GRAM_K):
        gram = (
            f"(({gram}) * {MEDIA_GRAM_MULT} + ascii(text[i+{j}]))"
            f" % {MEDIA_GRAM_MOD}"
        )
    return f"""pay AS (
        SELECT doc_id, text FROM (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + {PLANT_OFFSET} AS doc_id,
                   text || '{MEDIA_PLANT_SUFFIX}' AS text
            FROM documents WHERE doc_id % {PLANT_EVERY} = 0
        ) WHERE length(text) >= {MEDIA_GRAM_K}
    ), bg AS (
        SELECT doc_id,
               unnest(list_transform(
                   range(1, length(text) - {MEDIA_GRAM_K - 2}),
                   i -> (({gram}) * {MEDIA_MIX_MULT})
                        % {MEDIA_MIX_MOD})) AS g
        FROM pay
    ), cnt AS (
        SELECT doc_id, g % {MEDIA_EMBED_BINS} AS bkt,
               CAST(SUM(1 - 2 * ((g >> 8) & 1)) AS BIGINT) AS c
        FROM bg GROUP BY doc_id, g % {MEDIA_EMBED_BINS}
    ), grid AS (
        SELECT p.doc_id, r.b FROM pay p
        CROSS JOIN (SELECT unnest(range(0, {MEDIA_EMBED_BINS})) AS b) r
    ), q0 AS (
        SELECT g.doc_id AS vec_id,
               list(COALESCE(c.c, 0) ORDER BY g.b) AS qe
        FROM grid g
        LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.bkt = g.b
        GROUP BY g.doc_id
    ), q AS (
        SELECT * FROM q0
        WHERE len(list_filter(qe, x -> x <> 0)) > 0
    ), {sql_pair_cand_ctes(bits, bands, band_bits)}, nrm AS (
        SELECT vec_id, {sql_qdot('qe', 'qe')} AS nsq FROM q
    ), scored AS MATERIALIZED (
        SELECT cand.vec_a, cand.vec_b,
               ({sql_qdot('ca.qe', 'cb.qe')} / sqrt(na.nsq * nb.nsq))
                   AS cos_sim
        FROM cand
        JOIN q ca ON ca.vec_id = cand.vec_a
        JOIN q cb ON cb.vec_id = cand.vec_b
        JOIN nrm na ON na.vec_id = cand.vec_a
        JOIN nrm nb ON nb.vec_id = cand.vec_b
    )"""


def _sql_media_scored(bits: int, bands: int, band_bits: int) -> str:
    """Shared DuckDB oracle body for the media semantic-dedup rungs:
    replay the planted payload augmentation, the sign-trick hashed
    K-gram embedding (characters == bytes on this ASCII corpus, the
    equivalence every multimodal oracle relies on; the rolling hash
    applies the mod at every step so both engines stay in int64), the
    `bits`-wide signature (scalar ≤64 bits, LIST of words above), the
    banding, and the exact quantized-cosine verify — the same
    single-rounding arithmetic as Spark's descale(idot(...)),
    bit-identical (the `_sql_prod_scored_ctes` qdot pattern, with
    self-dots precomputed once per vector in a `nrm` CTE so each
    candidate pair costs ONE cross-dot)."""
    return f"""
    WITH {_sql_media_ctes(bits, bands, band_bits)}
    SELECT vec_a AS doc_a, vec_b AS doc_b, cos_sim FROM scored
    WHERE cos_sim >= {MEDIA_COSINE_THRESHOLD}
    """


def _media_corpus_embedded(
    spark: SparkSession, sf_dir: str, pred: object = None
) -> DataFrame:
    """The planted media corpus embedded: (vec_id, q) — base payloads
    plus the single-space re-upload of every PLANT_EVERY-th one at
    doc_id + PLANT_OFFSET, each embedded by ONE Arrow `mapInPandas`
    pass computing the sign-trick hashed K-gram vector (vectorized
    numpy rolling hash + signed bincount per Arrow batch). Shared by
    the three semantic-dedup rungs and the incremental key so the
    feature seam is defined exactly once.
    `pred` (a Column over doc_id) restricts the corpus BEFORE the
    Arrow pass — a filter placed after mapInPandas cannot be pushed
    through it, so the incremental paths pass their slice predicate
    here and embed only what they ingest."""

    docs = load_table(spark, sf_dir, "documents")
    # same id-collision guard as llm_dedup._planted_quantized: a
    # corpus with doc_id >= PLANT_OFFSET would alias planted rows
    guarded = docs.where(
        F.assert_true(
            F.col("doc_id") < F.lit(PLANT_OFFSET),
            F.lit(
                f"planted-media id collision: doc_id >= {PLANT_OFFSET}"
            ),
        ).isNull()
    )
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    planted = guarded.where(
        F.col("doc_id") % PLANT_EVERY == 0
    ).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(MEDIA_PLANT_SUFFIX)).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    corpus = (
        guarded.select(*cols)
        .unionByName(planted)
        .where(F.length("text") >= MEDIA_GRAM_K)
    )
    if pred is not None:
        corpus = corpus.where(pred)
    pay = media_envelope(corpus).select(
        F.col("doc_id").alias("vec_id"), F.col("media.data").alias("data")
    )

    # constants captured by VALUE at closure-definition time (the
    # nested-function shipping rule)
    k, mult, gmod = MEDIA_GRAM_K, MEDIA_GRAM_MULT, MEDIA_GRAM_MOD
    mix, mixmod, bins = MEDIA_MIX_MULT, MEDIA_MIX_MOD, MEDIA_EMBED_BINS

    def _kgram_embed(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        # NESTED (ships by value); rolling-hash + signed bincount,
        # vectorized ACROSS the whole Arrow batch (native code inside
        # the UDF): a per-payload Python loop pays ~k numpy-call
        # overheads per document. All payloads are concatenated;
        # windows that straddle a document boundary are masked out (doc_of[i] == doc_of[i+k-1]); each surviving
        # window lands in its OWN document's histogram via a
        # doc-offset flattened two-sided np.bincount (unweighted →
        # exact int64 counts; add.at measured 4x slower). Per-window
        # integer ops are IDENTICAL to the per-doc form (same bytes,
        # same mod chain, commutative adds) — pure-numpy A/B equal on
        # boundary cases (len 0/1/k-1/k/k+1) and 2.0x faster per 10k
        # docs (0.73 s → 0.37 s); oracle re-proven on all consumers.
        # Docs shorter than k yield no valid window → zero vector,
        # filtered by the exists() guard below, as before.
        import numpy as np

        for pdf in batches:
            raws = [bytes(r) for r in pdf["data"]]
            ndocs = len(raws)
            H = np.zeros(ndocs * bins, dtype="int64")
            if ndocs:
                lens = np.fromiter(
                    (len(r) for r in raws), dtype="int64", count=ndocs
                )
                b = np.frombuffer(b"".join(raws), dtype=np.uint8).astype(
                    "int64"
                )
                n = b.size - k + 1
                if n > 0:
                    doc_of = np.repeat(
                        np.arange(ndocs, dtype="int64"), lens
                    )
                    v = b[:n].copy()
                    for j in range(1, k):
                        v = (v * mult + b[j : j + n]) % gmod
                    valid = doc_of[:n] == doc_of[k - 1 :]
                    g = (v[valid] * mix) % mixmod
                    neg = ((g >> 8) & 1).astype(bool)
                    idx = doc_of[:n][valid] * bins + (g % bins)
                    H = (
                        np.bincount(idx[~neg], minlength=H.size)
                        - np.bincount(idx[neg], minlength=H.size)
                    ).astype("int64")
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "q": H.reshape(ndocs, bins).tolist()}
            )

    return (
        spread(pay, spark, probe_key=f"{sf_dir}/documents#media_pay")
        .mapInPandas(_kgram_embed, schema="vec_id long, q array<long>")
        .where(F.exists("q", lambda x: x != 0))
    )


def _media_semantic_dedup(bits: int, bands: int, band_bits: int):
    """SEMANTIC media dedup at one band geometry: near-duplicate
    payload pairs (doc_a < doc_b, cos_sim ≥ MEDIA_COSINE_THRESHOLD)
    via a byte-feature embedding through the shared banded-LSH
    pipeline — the image-dedup capability beyond `multimodal_dedup`'s
    exact digests. See the MEDIA_* constants for the feature design,
    planted ground truth, and separation measurements.

    Composition: `_media_corpus_embedded` (the typed `media_envelope`
    and ONE Arrow `mapInPandas` pass computing the sign-trick hashed
    K-gram vector per payload; a real deployment swaps in a CLIP or
    pHash embedding at this seam — same schema, same downstream) →
    `signature_frame(bits)` (sig = int64 at 64 bits, array of int64
    words above) → `banded_scored_pairs(bands, band_bits)` (band
    explode, ID-only bucket self-join, exact quantized-cosine verify
    on candidates only). The oracle replays every stage bit-for-bit
    through `sql_sig_expr`/`sql_bands_cte`.

    Three rungs are registered (`_media_rungs`), one per corpus
    decade, each trading planted recall for candidate mass (numpy
    band replay on the sf0.1 media corpus: 5250 payloads, 250 planted
    pairs):

    - `multimodal_dedup_semantic`: 64 bits, 8×8 — 4.59%, 250/250;
    - `multimodal_dedup_semantic_wide`: 128 bits, 8×16 — 0.0416%,
      249/250;
    - `multimodal_dedup_semantic_xwide`: 256 bits, 8×32 — 0.0035%,
      244/250.

    The misses are short payloads whose ~K-gram re-upload delta
    flips more sign bits than their cosine suggests; they are
    deterministic and pinned against an independent numpy band
    replay in tests. The 64-bit rung is the recall-1.0 ground truth;
    the wider rungs are the ones that hold the verify stage's N²
    coefficient down at scale (band WIDTH ~ log N at constant band
    count — see MEDIA_XWIDE_* for the rejected 12×16 and 6×32).
    """

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:

        with_q = signature_frame(
            _media_corpus_embedded(spark, sf_dir), bits=bits
        )
        return (
            banded_scored_pairs(with_q, bands, band_bits)
            .where(F.col("cos_sim") >= MEDIA_COSINE_THRESHOLD)
            .select(
                F.col("vec_a").alias("doc_a"),
                F.col("vec_b").alias("doc_b"),
                "cos_sim",
            )
        )

    return run


def _media_rungs() -> tuple[tuple[str, int, int, int], ...]:
    """(key, bits, bands, band_bits) of each media semantic rung, in
    registration order."""

    return (
        (
            "multimodal_dedup_semantic",
            PROD_LSH_BITS,
            PROD_LSH_BANDS,
            PROD_LSH_BAND_BITS,
        ),
        (
            "multimodal_dedup_semantic_wide",
            MEDIA_WIDE_BITS,
            MEDIA_WIDE_BANDS,
            MEDIA_WIDE_BAND_BITS,
        ),
        (
            "multimodal_dedup_semantic_xwide",
            MEDIA_XWIDE_BITS,
            MEDIA_XWIDE_BANDS,
            MEDIA_XWIDE_BAND_BITS,
        ),
    )


for _key, _bits, _bands, _band_bits in _media_rungs():
    query(_key, oracle=_sql_media_scored(_bits, _bands, _band_bits))(
        _media_semantic_dedup(_bits, _bands, _band_bits)
    )


def _sql_media_semantic_inc() -> str:
    """Full-value DuckDB oracle for `multimodal_dedup_semantic_inc`:
    the shared media chain at the WIDE constants, symmetrized and
    kNN-ranked, the shared SemDeDup witness CTE at the media
    threshold, restricted to the ingest batch — the union-replay form
    (probe edges equal the full graph's restriction to batch sources,
    the inc-equals-rebuild invariant)."""

    return f"""
    WITH {_sql_media_ctes(
        MEDIA_WIDE_BITS, MEDIA_WIDE_BANDS, MEDIA_WIDE_BAND_BITS
    )}, {sql_knn_ranked_ctes()},
    {sql_semantic_witness_cte(MEDIA_COSINE_THRESHOLD)},
    batch AS (
        SELECT vec_id FROM q
        WHERE vec_id >= {PLANT_OFFSET}
           OR vec_id % {SEMDEDUP_INC_MOD} = {SEMDEDUP_INC_RESIDUE}
    )
    SELECT c.vec_id AS doc_id,
           (w.vec_id IS NULL) AS kept,
           CAST(COALESCE(w.witness_id, -1) AS BIGINT) AS witness_id,
           CAST(COALESCE(w.witness_cos, 0.0) AS DOUBLE) AS witness_cos
    FROM batch c LEFT JOIN witness w ON c.vec_id = w.vec_id
    """


@query(
    "multimodal_dedup_semantic_inc", oracle=_sql_media_semantic_inc()
)
def multimodal_dedup_semantic_inc(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """INCREMENTAL semantic MEDIA dedup: the keep/drop verdict for a newly ingested media batch, decided from
    the incremental probe against a persisted media signature index —
    `dedup_semantic_inc`'s per-ingest curation cadence composed with
    the media embed, at the 128-bit WIDE geometry (the multi-word
    scale knob proven in the incremental path too).

    The ingest story: the index covers the base payload corpus
    (embedded once, signed at MEDIA_WIDE_* constants, persisted); the
    batch is every planted re-upload (dropped with its index source
    as witness at cos > 0.99) plus the novel base slice ≡
    SEMDEDUP_INC_RESIDUE (mod SEMDEDUP_INC_MOD) — mostly kept, except
    members of this corpus's genuine byte-space near-dup groups,
    which are correctly dropped with their natural lower-id group
    member as witness (the media corpus HAS natural ≥0.97 pairs; the
    verdict treats re-uploads and natural dups identically, as a
    curation pass should). Per-ingest cost is O(batch × collision
    fan-in): only the batch is embedded (the slice predicate is
    applied BEFORE the Arrow pass — a filter after mapInPandas cannot
    be pushed through it), only the batch is signed, and the corpus
    self-join never runs.

    Composition of verified kernels only: `_media_corpus_embedded`
    (pred-restricted), `write_sig_index` for the persisted index, the
    shared `knn_inc_probe`, and the shared `semantic_verdict` at the
    media threshold. The scratch kind bakes
    the wide geometry, gram K, plant cadence, and batch residue so
    any constants change keys a fresh index build (the ZORDER_KIND
    staleness class).
    """

    base_dir = scratch_dir(
        f"mediainc_b{MEDIA_WIDE_BITS}x{MEDIA_WIDE_BAND_BITS}"
        f"_k{MEDIA_GRAM_K}_p{PLANT_EVERY}o{PLANT_OFFSET}"
        f"_m{SEMDEDUP_INC_MOD}r{SEMDEDUP_INC_RESIDUE}_v1",
        sf_dir,
        "documents",
    )
    is_batch = (F.col("doc_id") >= PLANT_OFFSET) | (
        F.col("doc_id") % SEMDEDUP_INC_MOD == SEMDEDUP_INC_RESIDUE
    )
    build_once(base_dir, lambda: write_sig_index(
        _media_corpus_embedded(spark, sf_dir, pred=~is_batch),
        base_dir,
        MEDIA_WIDE_BITS,
        MEDIA_WIDE_BANDS,
        MEDIA_WIDE_BAND_BITS,
    ))
    inc_q = signature_frame(
        _media_corpus_embedded(spark, sf_dir, pred=is_batch),
        bits=MEDIA_WIDE_BITS,
    )
    edges = knn_inc_probe(
        inc_q, base_dir, MEDIA_WIDE_BANDS, MEDIA_WIDE_BAND_BITS
    )
    return semantic_verdict(
        edges, inc_q.select("vec_id"), MEDIA_COSINE_THRESHOLD
    ).select(
        F.col("vec_id").alias("doc_id"),
        "kept",
        "witness_id",
        "witness_cos",
    )
