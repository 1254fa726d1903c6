"""Invariant tests for the LLM-pipeline operators (dedup, similarity,
text analysis, multimodal) — the properties the DuckDB oracle cannot
check for the rows-only (hash-dependent) operators.

SURVEY.md §5.2: rows-only ops carry self-checks — precision/recall of
the approximate methods against their exact ground truth, stub
contracts, and determinism properties.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.operators.llm_dedup import (
    HAMMING_THRESHOLD,
    dedup_minhash,
    dedup_ngram_jaccard,
    dedup_simhash,
)
from crime_data_batch_processing_spark.operators.multimodal import (
    CHECKSUM_MOD,
    decode_media,
    media_envelope,
    multimodal_cols,
)
from crime_data_batch_processing_spark.operators.similarity import (
    TOP_K,
    sim_search,
    sim_search_lsh,
)
from crime_data_batch_processing_spark.operators.text_analysis import (
    text_fingerprint,
)


def _pairs(df):
    return {(r.doc_a, r.doc_b) for r in df.select("doc_a", "doc_b").collect()}


class TestDedup:
    def test_minhash_subset_of_exact(self, spark, sf_dir):
        """Exact-verification makes MinHash precision 1.0: every
        emitted pair must also pass the ground-truth threshold."""
        exact = _pairs(dedup_ngram_jaccard(spark, sf_dir))
        approx = _pairs(dedup_minhash(spark, sf_dir))
        assert approx <= exact

    def test_minhash_oracle_validity_full_recall(self, spark, sf_dir):
        """ORACLE-VALIDITY GUARD: `dedup_minhash`'s registered oracle is
        the exact-Jaccard pair set, which is only correct while banded
        LSH recall is 1.0 on THIS corpus (a data-dependent property —
        a single banding miss of an above-threshold pair would be a
        designed-in approximation, not a bug, yet would hash-fail the
        driver row). This test asserts that equality engine-side, so a
        testdata change that breaks the assumption fails HERE with an
        explanation instead of as an opaque driver mismatch; the fix
        then is to re-tune bands/rows or switch the key to a
        recall-contract output, not to patch the operator.

        Since round 8 this guard covers EVERY `near_dup_pairs`
        consumer: dedup_clusters, dedup_clusters_star and the graph_*
        keys all build on the banded pair base while their oracles
        stay on the exact pair algebra — a recall miss here means all
        of their exact-set oracles are invalid too."""
        exact = _pairs(dedup_ngram_jaccard(spark, sf_dir))
        approx = _pairs(dedup_minhash(spark, sf_dir))
        assert approx == exact, (
            f"banded-LSH recall < 1.0 on this corpus: misses "
            f"{sorted(exact - approx)[:5]} — the exact-set oracles of "
            "dedup_minhash AND every near_dup_pairs consumer "
            "(dedup_clusters*, graph_*) are no longer valid at this sf"
        )

    def test_minhash_recall_on_near_dups(self, spark, sf_dir):
        """Planted near-dups (Jaccard ≥ 0.8) collide in ≥1 band with
        prob ≈ 1-(1-0.8^4)^8 ≈ 0.98 — demand full recall on this
        corpus (deterministic: hashes are fixed)."""
        exact_hi = _pairs(
            dedup_ngram_jaccard(spark, sf_dir).where(F.col("jaccard") >= 0.8)
        )
        approx = _pairs(dedup_minhash(spark, sf_dir))
        assert exact_hi, "testdata should contain planted near-dups"
        assert exact_hi <= approx

    def test_simhash_finds_near_dups_with_low_hamming(self, spark, sf_dir):
        """Lexical near-dups have near-identical token multisets, so
        most land inside the Hamming radius — but not all: a planted
        pair whose few differing tokens happen to flip many fingerprint
        bits can sit just outside radius 7/64 (which pairs do is a
        property of the token-hash function, not a bug; the operator's
        exact output set is verified bit-for-bit by the DuckDB oracle).
        Assert high recall rather than totality, plus the radius
        invariant on everything emitted."""
        exact_hi = _pairs(
            dedup_ngram_jaccard(spark, sf_dir).where(F.col("jaccard") >= 0.9)
        )
        sim = {
            (r.doc_a, r.doc_b): r.hamming
            for r in dedup_simhash(spark, sf_dir).collect()
        }
        assert exact_hi, "testdata should contain planted near-dups"
        recall = len(exact_hi & sim.keys()) / len(exact_hi)
        assert recall >= 0.8, f"simhash recall {recall:.2f} on planted near-dups"
        assert all(h <= HAMMING_THRESHOLD for h in sim.values())

    def test_simhash_pair_ordering(self, spark, sf_dir):
        """Pairs are emitted once, in (low, high) id order."""
        for r in dedup_simhash(spark, sf_dir).collect():
            assert r.doc_a < r.doc_b

    def test_simhash_output_bounded_per_doc(self, spark, sf_dir):
        """The per-doc cap (SIMHASH_TOPK) is the operator's O(n·k)
        output contract — the property that lets it run the
        vocabulary-saturated soak tiers where the raw radius-7 pair
        set is quadratic. On driver-scale data the cap must NOT bind
        (max degree ever observed is 120): binding here would mean
        the corpus shape changed and the BASELINE soak adjudication
        needs re-reading."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            SIMHASH_TOPK,
        )

        deg = (
            dedup_simhash(spark, sf_dir)
            .groupBy("doc_a")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        assert deg is not None and deg < SIMHASH_TOPK

    def test_embedding_lsh_prod_oracle_validity_full_recall(
        self, spark, sf_dir
    ):
        """ORACLE-VALIDITY GUARD for `dedup_embedding_lsh_prod` (same
        contract as the minhash guard above): the banded candidate set
        must recover EVERY cos ≥ 0.85 pair of the planted-augmented
        corpus on this data — and the planted pairs themselves must
        all be found back (recall of the production regime, asserted
        rather than assumed; analytically ≥ 0.9999 per pair at the
        planted cos ≈ 0.9999). The registered oracle replays the
        banding, so a recall miss would NOT driver-fail — this test is
        what notices the approximation drifting on new data."""
        from crime_data_batch_processing_spark.functions.veckit import (
            descale,
            idot,
        )
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_EVERY,
            PLANT_OFFSET,
            PROD_COSINE_THRESHOLD,
            _planted_quantized,
            dedup_embedding_lsh_prod,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        emb = load_table(spark, sf_dir, "embeddings")
        corpus = _planted_quantized(emb).select(
            "vec_id",
            "q",
            descale(idot(F.col("q"), F.col("q"))).alias("nsq"),
        )
        a = corpus.select(
            F.col("vec_id").alias("vec_a"),
            F.col("q").alias("qa"),
            F.col("nsq").alias("na"),
        )
        b = corpus.select(
            F.col("vec_id").alias("vec_b"),
            F.col("q").alias("qb"),
            F.col("nsq").alias("nb"),
        )
        exact = {
            (r.vec_a, r.vec_b)
            for r in a.join(b, F.col("vec_a") < F.col("vec_b"))
            .where(
                descale(idot(F.col("qa"), F.col("qb")))
                / F.sqrt(F.col("na") * F.col("nb"))
                >= PROD_COSINE_THRESHOLD
            )
            .collect()
        }
        prod = {
            (r.vec_a, r.vec_b)
            for r in dedup_embedding_lsh_prod(spark, sf_dir).collect()
        }
        planted = {
            (v, v + PLANT_OFFSET)
            for (v,) in emb.select("vec_id").collect()
            if v % PLANT_EVERY == 0
        }
        assert planted, "corpus should yield planted near-dup pairs"
        assert planted <= prod, "planted production-regime pairs missed"
        assert prod == exact, (
            f"banded 8x8 recall < 1.0 on this corpus: misses "
            f"{sorted(exact - prod)[:5]}"
        )

    def test_planted_quantized_rejects_id_collision(self, spark):
        """A corpus with vec_id ≥ PLANT_OFFSET must fail LOUDLY at
        plant time: planted ids would collide with real ids and
        silently corrupt the verify join-backs. The guard is a
        per-row `assert_true` filter (a select column would be
        pruned away), so the failure surfaces as a job error."""
        from py4j.protocol import Py4JJavaError
        from pyspark.errors import SparkRuntimeException

        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
            _planted_quantized,
        )

        bad = spark.createDataFrame(
            [(PLANT_OFFSET + 1, [0.1, 0.2])],
            "vec_id: long, embedding: array<float>",
        )
        with pytest.raises(
            (Py4JJavaError, SparkRuntimeException),
            match="PLANT_OFFSET|planted",
        ):
            _planted_quantized(bad).collect()

        ok = spark.createDataFrame(
            [(1, [0.1, 0.2])],
            "vec_id: long, embedding: array<float>",
        )
        # a legal corpus passes the guard untouched: 1 base + 0
        # planted rows (vec_id % PLANT_EVERY != 0)
        assert _planted_quantized(ok).count() == 1


class TestSimilarity:
    @pytest.mark.parametrize("partitions", ["auto", "cores+3"])
    def test_distinct_at_width_reads_any_shuffle_partitions(
        self, spark, monkeypatch, partitions
    ):
        """Runtimes that size shuffles themselves allow
        spark.sql.shuffle.partitions = "auto", which OSS Spark rejects
        at set time: the conf read is faked. "auto" falls back to the
        cores; a number wider than the cores sets the width."""
        from pyspark.sql.conf import RuntimeConfig

        from crime_data_batch_processing_spark.operators.similarity import (
            _distinct_at_width,
        )

        cores = spark.sparkContext.defaultParallelism
        value, width = (
            ("auto", cores) if partitions == "auto" else (str(cores + 3), cores + 3)
        )
        real_get = RuntimeConfig.get

        def get(self, key, *default):
            if key == "spark.sql.shuffle.partitions":
                return value
            return real_get(self, key, *default)

        pairs = spark.createDataFrame([(1, 2), (1, 2), (3, 4)], "a long, b long")
        monkeypatch.setattr(RuntimeConfig, "get", get)
        out = _distinct_at_width(pairs, "a", "b")
        monkeypatch.undo()
        assert out.rdd.getNumPartitions() == width
        assert sorted(map(tuple, out.collect())) == [(1, 2), (3, 4)]

    def test_lsh_recall_vs_brute_force(self, spark, sf_dir):
        """Banded hyperplane LSH must recover most of the true top-k.

        Deterministic (fixed hyperplanes, fixed data), so the floor is
        tight-ish; brute force is the ground truth."""
        truth = {
            (r.qid, r.vec_id) for r in sim_search(spark, sf_dir).collect()
        }
        approx = {
            (r.qid, r.vec_id) for r in sim_search_lsh(spark, sf_dir).collect()
        }
        recall = len(truth & approx) / len(truth)
        assert recall >= 0.5, f"LSH recall {recall:.2f} below floor"

    def test_embedding_lsh_recall_and_exact_precision(self, spark, sf_dir):
        """The scale rung of semantic dedup: every LSH pair must also
        be an exact all-pairs near-dup (precision 1 by construction —
        candidates are verified with the same exact cosine), and
        recall vs the all-pairs ground truth must clear the geometric
        floor (measured 0.88 at sf0.001 / 0.71 at sf0.01: pairs at the
        0.4 threshold have per-bit sign agreement ≈ 0.63, so
        1-(1-0.63³)⁶ ≈ 0.82 expected recall at the boundary)."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            dedup_embedding,
            dedup_embedding_lsh,
        )

        exact = {
            (r.vec_a, r.vec_b) for r in dedup_embedding(spark, sf_dir).collect()
        }
        lsh = {
            (r.vec_a, r.vec_b)
            for r in dedup_embedding_lsh(spark, sf_dir).collect()
        }
        assert lsh <= exact, f"false positives: {sorted(lsh - exact)[:5]}"
        recall = len(lsh & exact) / max(1, len(exact))
        assert recall >= 0.5, f"embedding-LSH recall {recall:.2f} below floor"

    def test_knn_graph_recall_and_shape(self, spark, sf_dir):
        """Corpus-wide kNN graph: recall vs the brute-force per-vector
        top-k (numpy ground truth over all pairs) must clear the weak-
        geometry floor, every src's ranks must be consecutive from 1,
        and cos_sim must be non-increasing in rank (the total order
        actually ordered)."""
        import numpy as np

        from crime_data_batch_processing_spark.operators.similarity import (
            KNN_K,
            sim_search_knn_graph,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        ids = np.array([r.vec_id for r in emb])
        mat = np.stack([np.array(r.embedding, dtype="float64") for r in emb])
        normed = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        cos = normed @ normed.T
        np.fill_diagonal(cos, -2.0)
        truth = set()
        for i in range(len(ids)):
            top = np.argsort(-cos[i])[:KNN_K]
            truth |= {(int(ids[i]), int(ids[j])) for j in top}

        rows = sim_search_knn_graph(spark, sf_dir).collect()
        got = {(r.src, r.dst) for r in rows}
        recall = len(truth & got) / len(truth)
        assert recall >= 0.5, f"kNN-graph recall {recall:.2f} below floor"

        by_src: dict[int, list] = {}
        for r in rows:
            by_src.setdefault(r.src, []).append(r)
        for src, edges in by_src.items():
            edges.sort(key=lambda r: r.rank)
            assert [e.rank for e in edges] == list(
                range(1, len(edges) + 1)
            ), f"src {src}: ranks not consecutive"
            sims = [e.cos_sim for e in edges]
            assert sims == sorted(sims, reverse=True), (
                f"src {src}: cos_sim not monotone in rank"
            )
            assert len(edges) <= KNN_K

    def test_knn_inc_equals_full_rebuild_restriction(self, spark, sf_dir):
        """The incremental probe must assign the new vectors EXACTLY
        the edges a full-graph rebuild would give them: for any inc
        source, base-index collisions + inc-internal collisions is the
        same candidate set the full self-join produces, and the exact
        re-rank is the same arithmetic — so the persisted index can be
        trusted to stand in for the rebuild."""
        from crime_data_batch_processing_spark.operators.similarity import (
            KNN_INC_MOD,
            sim_search_knn_graph,
            sim_search_knn_inc,
        )

        inc = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in sim_search_knn_inc(spark, sf_dir).collect()
        }
        full = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in sim_search_knn_graph(spark, sf_dir).collect()
            if r.src % KNN_INC_MOD == 0
        }
        assert inc, "no incremental edges"
        assert inc == full, (
            f"incremental/rebuild divergence: {sorted(inc ^ full)[:4]}"
        )

    def test_knn_graph_prod_finds_planted_neighbors(self, spark, sf_dir):
        """The production-geometry kNN graph must recover the planted
        structure: every planted copy's rank-1 neighbor is its source
        vector at cos ≈ 0.9999 (and symmetrically the source's rank-1
        is the copy — nothing else in this corpus comes close to a
        planted pair). The lsh_prod recall contract, restated for the
        graph shape."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_EVERY,
            PLANT_OFFSET,
            sim_search_knn_graph_prod,
        )

        rows = sim_search_knn_graph_prod(spark, sf_dir).collect()
        rank1 = {r.src: r for r in rows if r.rank == 1}
        planted = [s for s in rank1 if s >= PLANT_OFFSET]
        assert planted, "no planted vectors in the graph"
        for s in planted:
            r = rank1[s]
            assert r.dst == s - PLANT_OFFSET, (s, r)
            assert r.cos_sim > 0.99, (s, r)
            back = rank1[r.dst]
            assert back.dst == s, (r.dst, back)

    def test_knn_inc_prod_equals_full_rebuild_restriction(
        self, spark, sf_dir
    ):
        """The PRODUCTION-geometry incremental probe must assign the
        ingested batch (the planted copies) exactly the edges the
        full prod-graph rebuild gives those sources — the
        inc-equals-rebuild invariant at the 64-bit/8×8 constants
        (the weak-geometry twin above, restated for the scale
        rung)."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
            sim_search_knn_graph_prod,
            sim_search_knn_inc_prod,
        )

        inc = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in sim_search_knn_inc_prod(spark, sf_dir).collect()
        }
        full = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in sim_search_knn_graph_prod(spark, sf_dir).collect()
            if r.src >= PLANT_OFFSET
        }
        assert inc, "no incremental edges"
        assert inc == full, (
            f"incremental/rebuild divergence: {sorted(inc ^ full)[:4]}"
        )

    def test_index_append_equals_rebuild_at_grown_index(
        self, spark, sf_dir
    ):
        """The append lifecycle's inc-equals-rebuild invariant (r12
        verdict item 3): batch B's edges from the GROWN persisted
        index (base ∪ appended ingest A) must equal exactly what a
        full three-generation rebuild assigns B's sources — appending
        rows must be indistinguishable from having built the index
        with them."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT2_OFFSET,
            PROD_LSH_BAND_BITS,
            PROD_LSH_BANDS,
            PROD_LSH_BITS,
            _planted_quantized2,
            sim_search_index_append,
        )
        from crime_data_batch_processing_spark.operators.similarity import (
            banded_scored_pairs,
            knn_rank_directed,
            signature_frame,
        )
        from crime_data_batch_processing_spark.sources.tables import spread_table

        inc = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in sim_search_index_append(spark, sf_dir).collect()
        }
        with_q = signature_frame(
            _planted_quantized2(
                spread_table(spark, sf_dir, "embeddings")
            ),
            bits=PROD_LSH_BITS,
        )
        full = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in knn_rank_directed(
                banded_scored_pairs(
                    with_q, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
                )
            ).collect()
            if r.src >= PLANT2_OFFSET
        }
        assert inc, "no batch-B edges"
        assert inc == full, (
            f"append/rebuild divergence: {sorted(inc ^ full)[:4]}"
        )

    def test_index_append_probe_finds_base_source_and_appended_sibling(
        self, spark, sf_dir
    ):
        """What makes the append NON-VACUOUS: every batch-B member's
        top-k must contain BOTH its base source (in the index since
        ingest 0) and its generation-A sibling (in the index ONLY
        because ingest A appended it) at cos > 0.99 — a probe served
        by a stale, never-appended index would miss every sibling."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT2_OFFSET,
            PLANT_OFFSET,
            sim_search_index_append,
        )

        rows = sim_search_index_append(spark, sf_dir).collect()
        assert rows, "no batch-B edges"
        by_src: dict = {}
        for r in rows:
            by_src.setdefault(r.src, {})[r.dst] = r.cos_sim
        for src, dsts in by_src.items():
            assert src >= PLANT2_OFFSET, src
            base_src = src - PLANT2_OFFSET
            sibling = base_src + PLANT_OFFSET
            assert base_src in dsts, (src, sorted(dsts))
            assert sibling in dsts, (src, sorted(dsts))
            assert dsts[base_src] > 0.99, (src, dsts[base_src])
            assert dsts[sibling] > 0.99, (src, dsts[sibling])

    def test_index_maintain_purges_dropped_docs_from_probe(
        self, spark, sf_dir
    ):
        """Delete propagation's contract (r13 verdict item 1): after
        curation drops generation A and maintenance purges it, a
        dropped doc must NEVER surface again — not as a candidate, a
        top-k edge, or a witness. Non-vacuous: against the
        merely-grown index the SAME batch's probe contains gen-A
        siblings (sim_search_index_append asserts rank-1 there). The
        base source must survive the rewrite (still rank-1 at
        cos ≈ 0.9999), and the audit sidecar must list EXACTLY the
        generation-A ids, each witnessed by its base source."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT2_OFFSET,
            PLANT_EVERY,
            PLANT_OFFSET,
            _maintain_dirs,
            sim_search_index_maintain,
        )

        rows = sim_search_index_maintain(spark, sf_dir).collect()
        assert rows, "no batch-B edges from the maintained index"
        gen_a = lambda i: PLANT_OFFSET <= i < PLANT2_OFFSET  # noqa: E731
        assert not [r for r in rows if gen_a(r.dst)], (
            "a purged generation-A row surfaced as a probe edge"
        )
        rank1 = {r.src: r for r in rows if r.rank == 1}
        for src, r in rank1.items():
            assert r.dst == src - PLANT2_OFFSET, (src, r)
            assert r.cos_sim > 0.99, (src, r)
        dropped = spark.read.parquet(
            _maintain_dirs(sf_dir)["dropped"]
        ).collect()
        base_ids = {
            d.vec_id - PLANT_OFFSET for d in dropped
        }
        expected = {
            r.src - PLANT2_OFFSET for r in rows
        }  # same plant cadence: every B member's base had an A copy
        assert base_ids == expected, "drop set is not exactly gen A"
        for d in dropped:
            assert d.vec_id % PLANT_EVERY == PLANT_OFFSET % PLANT_EVERY
            assert d.witness_id == d.vec_id - PLANT_OFFSET, d
            assert d.witness_cos > 0.99, d

    def test_index_maintain_compaction_alone_preserves_edges(
        self, spark, sf_dir, tmp_path
    ):
        """Compaction with an EMPTY drop set must be a pure physical
        rewrite: batch B's probe against the compacted-but-unpurged
        grown index equals `sim_search_index_append`'s probe against
        the raw grown index tuple-for-tuple — bin-packing moves
        bytes, never rows."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT2_OFFSET,
            PROD_LSH_BAND_BITS,
            PROD_LSH_BANDS,
            PROD_LSH_BITS,
            _maintain_dirs,
            _planted_quantized2,
            purge_compact_dir,
            sim_search_index_append,
            sim_search_index_maintain,
        )
        from crime_data_batch_processing_spark.operators.similarity import (
            knn_inc_probe,
            signature_frame,
        )
        from crime_data_batch_processing_spark.sources.tables import spread_table

        sim_search_index_maintain(spark, sf_dir).count()  # build fixture
        dirs = _maintain_dirs(sf_dir)
        no_drops = spark.createDataFrame([], "vec_id long")
        compacted_dir = f"{tmp_path}/c"
        ci, cb = f"{compacted_dir}/index", f"{compacted_dir}/bands"
        purge_compact_dir(spark, dirs["index"], ci, no_drops)
        purge_compact_dir(spark, dirs["bands"], cb, no_drops)
        corpus = _planted_quantized2(
            spread_table(spark, sf_dir, "embeddings")
        )
        inc_q = signature_frame(
            corpus.where(F.col("vec_id") >= PLANT2_OFFSET),
            bits=PROD_LSH_BITS,
        )
        compacted = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in knn_inc_probe(
                inc_q, compacted_dir, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
            ).collect()
        }
        raw = {
            (r.src, r.rank, r.dst, r.cos_sim)
            for r in sim_search_index_append(spark, sf_dir).collect()
        }
        assert compacted, "no edges from the compacted index"
        assert compacted == raw, (
            f"compaction changed edges: {sorted(compacted ^ raw)[:4]}"
        )

    def test_write_sig_index_round_trip_append_and_probe(
        self, spark, sf_dir, tmp_path
    ):
        """`write_sig_index` writes exactly `_with_sig_cols` to
        `{path}/index` and its `band_rows_of` to `{path}/bands`;
        `mode="append"` grows both by exactly the appended ids; and
        `knn_inc_probe` on the written path gives the increment the
        edges a full rebuild over the same rows assigns it. Runs at
        the 64-bit prod geometry, so signatures with the sign bit set
        round-trip too."""
        from crime_data_batch_processing_spark.functions.veckit import (
            quantize,
        )
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PROD_LSH_BAND_BITS,
            PROD_LSH_BANDS,
            PROD_LSH_BITS,
        )
        from crime_data_batch_processing_spark.operators.similarity import (
            band_rows_of,
            banded_scored_pairs,
            knn_inc_probe,
            knn_rank_directed,
            signature_frame,
            write_sig_index,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        def rows(df):
            return {
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in df.collect()
            }

        q = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", quantize(F.col("embedding")).alias("q")
        )
        # every vector signed once (signature_frame = persisted
        # _with_sig_cols); the expected rows are slices of it
        signed = signature_frame(q, bits=PROD_LSH_BITS)
        bands_of = band_rows_of(signed, PROD_LSH_BANDS, PROD_LSH_BAND_BITS)
        part = F.col("vec_id") % 5
        base, appended = part > 1, part == 1
        path = str(tmp_path)
        geometry = (PROD_LSH_BITS, PROD_LSH_BANDS, PROD_LSH_BAND_BITS)

        def assert_index_holds(ids):
            index = spark.read.parquet(f"{path}/index")
            assert index.columns == signed.columns
            assert rows(index) == rows(signed.where(ids))
            bands = spark.read.parquet(f"{path}/bands")
            assert rows(bands) == rows(bands_of.where(ids))
            return index.count(), bands.count()

        write_sig_index(q.where(base), path, *geometry)
        n_index, n_bands = assert_index_holds(base)
        write_sig_index(q.where(appended), path, *geometry, mode="append")
        n_app = q.where(appended).count()
        assert assert_index_holds(base | appended) == (
            n_index + n_app,
            n_bands + PROD_LSH_BANDS * n_app,
        )

        inc = part == 0
        probed = rows(
            knn_inc_probe(
                signed.where(inc), path, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
            )
        )
        inc_ids = {r.vec_id for r in signed.where(inc).collect()}
        rebuilt = {
            r
            for r in rows(
                knn_rank_directed(
                    banded_scored_pairs(
                        signed, PROD_LSH_BANDS, PROD_LSH_BAND_BITS
                    )
                )
            )
            if r[0] in inc_ids
        }
        assert probed, "no probe edges"
        assert probed == rebuilt, sorted(probed ^ rebuilt)[:4]

    def test_knn_inc_prod_probe_finds_sources_in_index(
        self, spark, sf_dir
    ):
        """The ingest story's ground truth: every newly ingested
        planted copy's rank-1 neighbor is its SOURCE, found in the
        persisted index at cos ≈ 0.9999 — the re-collected-content
        catch an incremental semantic index exists for."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
            sim_search_knn_inc_prod,
        )

        rows = sim_search_knn_inc_prod(spark, sf_dir).collect()
        assert rows, "no probe edges"
        srcs = {r.src for r in rows}
        assert all(s >= PLANT_OFFSET for s in srcs), (
            "probe emitted a non-increment source"
        )
        rank1 = {r.src: r for r in rows if r.rank == 1}
        assert set(rank1) == srcs, "a source lost its rank-1 edge"
        for s, r in rank1.items():
            assert r.dst == s - PLANT_OFFSET, (s, r)
            assert r.cos_sim > 0.99, (s, r)

    def test_semantic_dedup_drops_exactly_the_planted_copies(
        self, spark, sf_dir
    ):
        """The SemDeDup verdict must drop EXACTLY the planted copies:
        every planted id (≥ PLANT_OFFSET) is dropped with its source
        as the witness at cos > 0.99, and every natural corpus vector
        is kept with sentinel witness fields (nothing natural reaches
        SEMDEDUP_TAU — corpus max cosine is 0.60)."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
            dedup_semantic,
        )

        rows = dedup_semantic(spark, sf_dir).collect()
        dropped = {r.vec_id for r in rows if not r.kept}
        planted = {r.vec_id for r in rows if r.vec_id >= PLANT_OFFSET}
        assert planted, "no planted rows in the verdict"
        assert dropped == planted, sorted(dropped ^ planted)[:5]
        for r in rows:
            if r.kept:
                assert (r.witness_id, r.witness_cos) == (-1, 0.0), r
            else:
                assert r.witness_id == r.vec_id - PLANT_OFFSET, r
                assert r.witness_cos > 0.99, r

    def test_embedding_lsh_strong_threshold_regime(self):
        """Evidence for the docstring's production claim: at cos≥0.85
        duplicates, 8 bands × 8 bits of a 64-bit hyperplane signature
        recalls ≥70% of planted pairs while keeping <15% of all pairs
        as candidates — the regime where sign-LSH pruning earns its
        keep (this corpus's 0.42-median pairs are below it, hence the
        operator's measured 55% candidate ratio there). Pure-numpy
        replay of the same integer-plane signature pipeline."""
        import numpy as np

        from crime_data_batch_processing_spark.operators.similarity import (
            EMBED_DIM,
            _hyperplanes,
        )

        rng = np.random.RandomState(7)
        base = rng.randn(40, EMBED_DIM)
        # 40 planted dup pairs at cos ~0.95-0.99 + 400 noise vectors
        dups = base + 0.25 * rng.randn(40, EMBED_DIM)
        noise = rng.randn(400, EMBED_DIM)
        vecs = np.vstack([base, dups, noise])
        true_pairs = {(i, 40 + i) for i in range(40)}
        planes = np.array(_hyperplanes(bits=64), dtype="int64").T
        q = np.round(vecs * 10**6).astype("int64")
        bits = (q @ planes) >= 0  # (n, 64) sign bits
        n = len(vecs)
        cand = set()
        for b in range(8):
            band = bits[:, b * 8 : (b + 1) * 8]
            codes = (band * (1 << np.arange(8))).sum(axis=1)
            buckets: dict[int, list[int]] = {}
            for i, c in enumerate(codes):
                buckets.setdefault(int(c), []).append(i)
            for members in buckets.values():
                for ai in range(len(members)):
                    for bi in range(ai + 1, len(members)):
                        cand.add((members[ai], members[bi]))
        recall = len(cand & true_pairs) / len(true_pairs)
        ratio = len(cand) / (n * (n - 1) / 2)
        assert recall >= 0.7, f"strong-regime recall {recall:.2f}"
        assert ratio < 0.15, f"candidate ratio {ratio:.2%} — pruning failed"

    def test_sql_bands_cte_word_straddle_guard(self):
        """r13 advisor: a multi-word geometry whose band_bits does not
        divide 64 must fail at SQL-GENERATION time (mirroring
        band_rows_of's Spark-side assert), never silently emit a band
        slice that reads past a word boundary. Valid geometries —
        scalar and multi-word — still render."""
        import pytest

        from crime_data_batch_processing_spark.operators.similarity import (
            sql_bands_cte,
        )

        with pytest.raises(AssertionError, match="divide 64"):
            sql_bands_cte(bands=5, band_bits=24)  # 120 bits, straddles
        assert "sig[2]" in sql_bands_cte(bands=8, band_bits=16)  # 128-bit
        assert "sig >>" in sql_bands_cte(bands=8, band_bits=8)  # scalar
        assert "sig[3]" in sql_bands_cte(bands=12, band_bits=16)  # 192-bit

    def test_sq_recall_vs_brute_force(self, spark, sf_dir):
        """SQ8 code-dot prefilter + exact re-rank must recover most of
        the true top-k: the int8 affine code preserves ranking well on
        unit-ish vectors, and keeping 32 candidates per query leaves
        generous slack over the final top-5. Deterministic geometry,
        so the floor is tight."""
        from crime_data_batch_processing_spark.operators.similarity import (
            sim_search_sq,
        )

        truth = {
            (r.qid, r.vec_id) for r in sim_search(spark, sf_dir).collect()
        }
        approx = {
            (r.qid, r.vec_id) for r in sim_search_sq(spark, sf_dir).collect()
        }
        recall = len(truth & approx) / len(truth)
        assert recall >= 0.6, f"SQ recall {recall:.2f} below floor"

    def test_ivf_recall_vs_brute_force(self, spark, sf_dir):
        """IVF probing 6/16 cells must recover most of the true top-k
        (measured 0.78 at sf0.001 / 0.66 at sf0.01 on this
        weak-neighbor corpus — deterministic, so the floor is tight).
        Returned scores must be a subset of the exact ones: IVF only
        approximates recall, never the cosine itself."""
        from crime_data_batch_processing_spark.operators.similarity import (
            sim_search_ivf,
        )

        truth = {
            (r.qid, r.vec_id): r.cos_sim
            for r in sim_search(spark, sf_dir).collect()
        }
        approx = {
            (r.qid, r.vec_id): r.cos_sim
            for r in sim_search_ivf(spark, sf_dir).collect()
        }
        hits = truth.keys() & approx.keys()
        recall = len(hits) / len(truth)
        assert recall >= 0.6, f"IVF recall {recall:.2f} below floor"
        assert all(truth[k] == approx[k] for k in hits), (
            "re-ranked cosines must be bit-identical to brute force"
        )

    def test_pq_recall_vs_brute_force(self, spark, sf_dir):
        """PQ/ADC with 8 nibble codes must recover most of the true
        top-k through its 64-candidate shortlist (measured 0.72 at
        sf0.001 / 0.78 at sf0.01 on this weak-neighbor corpus —
        deterministic, so the floor is tight), and the re-ranked
        cosines of every hit must be bit-identical to brute force
        (PQ approximates WHICH vectors make the shortlist, never the
        final score)."""
        from crime_data_batch_processing_spark.operators.similarity import (
            sim_search_pq,
        )

        truth = {
            (r.qid, r.vec_id): r.cos_sim
            for r in sim_search(spark, sf_dir).collect()
        }
        approx = {
            (r.qid, r.vec_id): r.cos_sim
            for r in sim_search_pq(spark, sf_dir).collect()
        }
        hits = truth.keys() & approx.keys()
        recall = len(hits) / len(truth)
        assert recall >= 0.65, f"PQ recall {recall:.2f} below floor"
        assert all(truth[k] == approx[k] for k in hits), (
            "re-ranked cosines must be bit-identical to brute force"
        )

    def test_topk_shape_and_order(self, spark, sf_dir):
        rows = sim_search(spark, sf_dir).collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append(r)
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r.rank)
            assert [r.rank for r in rs] == list(range(1, TOP_K + 1))
            sims = [r.cos_sim for r in rs]
            assert sims == sorted(sims, reverse=True)
            assert all(r.vec_id != qid for r in rs), "self-match leaked"


class TestMultimodal:
    def test_decode_stub_contract(self):
        with pytest.raises(NotImplementedError):
            decode_media(b"\x89PNG...", "image/png")

    def test_envelope_schema(self, spark, sf_dir):
        from crime_data_batch_processing_spark.sources.tables import load_table

        env = media_envelope(load_table(spark, sf_dir, "documents"))
        media_type = dict(env.dtypes)["media"]
        assert "uri:string" in media_type.replace(" ", "")
        assert "data:binary" in media_type.replace(" ", "")
        assert "meta:struct" in media_type.replace(" ", "")

    def test_features_match_manual(self, spark, sf_dir):
        from crime_data_batch_processing_spark.sources.tables import load_table

        feats = {
            r.doc_id: r
            for r in multimodal_cols(spark, sf_dir).where(F.col("doc_id") < 5).collect()
        }
        docs = {
            r.doc_id: r.text
            for r in load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 5)
            .collect()
        }
        for doc_id, text in docs.items():
            raw = text.encode("utf-8")
            assert feats[doc_id].byte_len == len(raw)
            assert feats[doc_id].checksum == sum(raw) % CHECKSUM_MOD


class TestTextAnalysis:
    def test_fingerprint_is_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "c b a"), (3, "a b c")],
            "doc_id long, text string",
        )
        df.createOrReplaceTempView("documents")
        # drive the same expression directly (fingerprint operator
        # reads the documents table from sf_dir; here we check the
        # primitive's order sensitivity on a controlled frame)
        from crime_data_batch_processing_spark.operators.text_analysis import (
            FP_MOD,
            FP_P,
        )
        from crime_data_batch_processing_spark.functions.textkit import tokens

        tok_codes = F.transform(
            tokens("text"), lambda t: (F.ascii(t) * 131 + F.length(t)).cast("long")
        )
        fp = F.aggregate(
            tok_codes, F.lit(0).cast("long"), lambda acc, x: (acc * FP_P + x) % FP_MOD
        )
        got = {r.doc_id: r.f for r in df.select("doc_id", fp.alias("f")).collect()}
        assert got[1] == got[3], "identical docs must collide"
        assert got[1] != got[2], "permuted docs must not collide"

    def test_fingerprint_deterministic_across_runs(self, spark, sf_dir):
        a = {r.doc_id: r.fingerprint for r in text_fingerprint(spark, sf_dir).collect()}
        b = {r.doc_id: r.fingerprint for r in text_fingerprint(spark, sf_dir).collect()}
        assert a == b


class TestMultimodalTransforms:
    def test_resize_and_frame_sample_stubs(self):
        from crime_data_batch_processing_spark.operators.multimodal import (
            resize_image,
            sample_frames,
        )

        with pytest.raises(NotImplementedError):
            resize_image(b"...", 224, 224)
        with pytest.raises(NotImplementedError):
            sample_frames(b"...", 10)

    def test_transform_media_plumbing(self, spark, sf_dir):
        """The generic mapInPandas transform carries arbitrary per-
        payload logic with a typed output schema — verified with a
        deterministic fake extractor."""
        from crime_data_batch_processing_spark.operators.multimodal import (
            media_envelope,
            transform_media,
        )
        from crime_data_batch_processing_spark.sources.tables import load_table

        docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 10)
        env = media_envelope(docs)

        def fake_extract(payload: bytes, row: dict) -> dict:
            return {
                "doc_id": row["doc_id"],
                "head": payload[:4].decode("utf-8", "replace"),
                "n_bytes": len(payload),
            }

        out = transform_media(
            env, "doc_id long, head string, n_bytes long", fake_extract
        )
        got = {r.doc_id: (r.head, r.n_bytes) for r in out.collect()}
        want = {
            r.doc_id: (r.text[:4], len(r.text.encode()))
            for r in docs.collect()
        }
        assert got == want


class TestDedupClusters:
    def test_pairs_land_in_same_cluster(self, spark, sf_dir):
        """Every detected near-dup pair must be in one cluster, and
        every cluster's canonical doc is its minimum member."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            dedup_clusters,
            dedup_ngram_jaccard,
        )

        label = {
            r.doc_id: r.cluster_id
            for r in dedup_clusters(spark, sf_dir).collect()
        }
        pairs = dedup_ngram_jaccard(spark, sf_dir).collect()
        assert pairs, "fixture must contain planted near-dups"
        for p in pairs:
            assert label[p.doc_a] == label[p.doc_b]
        members: dict[int, list[int]] = {}
        for d, c in label.items():
            members.setdefault(c, []).append(d)
        assert all(c == min(ms) for c, ms in members.items())


class TestConnectedComponents:
    """Synthetic-topology tests for the label-propagation core — the
    fixed testdata only plants shallow clusters, so path/star/cycle
    shapes (and the convergence bound) need direct construction."""

    def _cc(self, spark, pairs):
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            connected_components,
        )

        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        return {
            r.doc_id: r.cluster_id for r in connected_components(df).collect()
        }

    def test_path_graph_converges_to_min_label(self, spark):
        # 0-1-2-...-9 chain: worst diameter per node count
        got = self._cc(spark, [(i, i + 1) for i in range(9)])
        assert got == {i: 0 for i in range(10)}

    def test_star_and_separate_component(self, spark):
        got = self._cc(spark, [(5, 50), (5, 51), (5, 52), (100, 101)])
        assert got == {5: 5, 50: 5, 51: 5, 52: 5, 100: 100, 101: 100}

    def test_cycle_and_reversed_pair_order(self, spark):
        # cycle 1-2-3-1 plus a pair given high-id-first: direction of
        # the input pair must not matter (edges are undirected)
        got = self._cc(spark, [(1, 2), (2, 3), (3, 1), (20, 10)])
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 20: 10}

    def test_long_path_beyond_round_budget_raises(self, spark):
        import pytest as _pytest

        from crime_data_batch_processing_spark.operators.llm_dedup import (
            connected_components,
        )

        # min-label takes ~diameter rounds on a path; a 12-node chain
        # cannot finish in 3 rounds — the loop must fail loudly, never
        # return silently split components
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(11)], "doc_a long, doc_b long"
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_rounds=3)


class TestStarContraction:
    """connected_components_star: O(log n)-round variant — must agree
    with a union-find reference on random graphs and handle depths the
    propagation variant's round budget cannot."""

    def _cc_star(self, spark, pairs, max_rounds=20):
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            connected_components_star,
        )

        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        return {
            r.doc_id: r.cluster_id
            for r in connected_components_star(df, max_rounds).collect()
        }

    @staticmethod
    def _reference(pairs):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in pairs:
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        return {n: find(n) for n in parent}

    def test_long_path_converges_in_log_rounds(self, spark):
        # diameter 60 — far beyond the propagation variant's 20-round
        # budget; star contraction needs ~log2(60) doubled passes
        pairs = [(i, i + 1) for i in range(60)]
        got = self._cc_star(spark, pairs, max_rounds=12)
        assert got == {i: 0 for i in range(61)}

    def test_matches_union_find_on_random_graph(self, spark):
        import random

        rnd = random.Random(7)
        pairs = [
            (rnd.randrange(200), rnd.randrange(200)) for _ in range(120)
        ]
        pairs = [(x, y) for x, y in pairs if x != y]
        assert self._cc_star(spark, pairs) == self._reference(pairs)

    def test_agrees_with_propagation_variant(self, spark):
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            connected_components,
        )

        pairs = [(0, 1), (1, 2), (5, 9), (9, 7), (30, 31)]
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        prop = {
            r.doc_id: r.cluster_id for r in connected_components(df).collect()
        }
        assert self._cc_star(spark, pairs) == prop

    def test_self_pair_only_node_is_labeled(self, spark):
        """A doc appearing ONLY in a self-pair (u == v) must still get
        its identity label — the propagation variant emits it, so the
        star variant must too (same contract)."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            connected_components,
        )

        pairs = [(7, 7), (1, 2)]
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        prop = {
            r.doc_id: r.cluster_id for r in connected_components(df).collect()
        }
        got = self._cc_star(spark, pairs)
        assert got == prop == {7: 7, 1: 1, 2: 1}


class TestIncrementalDedup:
    def test_redelivered_docs_blame_their_original(self, spark, sf_dir):
        """Every re-delivered copy (synthetic id = original + offset)
        must come back exact_dup blaming exactly its original — the
        corpus has no other byte-identical text (asserted in-test), so
        any other blame means the digest join is wrong. All three
        verdicts must occur: an increment where a rung never fires
        proves nothing about it."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            REDELIVER_OFFSET,
            dedup_incremental,
        )

        rows = dedup_incremental(spark, sf_dir).collect()
        verdicts = {r.verdict for r in rows}
        assert verdicts == {"exact_dup", "near_dup", "unique"}, verdicts
        redelivered = [r for r in rows if r.doc_id >= REDELIVER_OFFSET]
        assert redelivered, "fixture must contain re-delivered copies"
        for r in redelivered:
            assert r.verdict == "exact_dup", r
            assert r.dup_of == r.doc_id - REDELIVER_OFFSET, r
        # genuinely-new docs must never be blamed on themselves
        for r in rows:
            if r.verdict != "unique":
                assert r.dup_of is not None and r.dup_of != r.doc_id, r


class TestBM25:
    def test_literal_identities(self):
        """The SQL literals 2.2/0.25 must equal the Python-derived
        constants exactly (the docstring's bit-exactness claim)."""
        from crime_data_batch_processing_spark.operators.text_analysis import (
            BM25_1MB,
            BM25_B,
            BM25_K1,
            BM25_K1P1,
        )

        assert BM25_K1 + 1.0 == BM25_K1P1
        assert 1.0 - BM25_B == BM25_1MB

    def test_topk_shape_and_rank_order(self, spark, sf_dir):
        """Each query returns at most TOP_K rows with dense ranks
        1..k and non-increasing scores. (Self-retrieval at rank 1 is
        NOT asserted: BM25's length normalization legitimately ranks
        a shorter doc sharing the terms above the longer query doc.)"""
        from crime_data_batch_processing_spark import registry
        from crime_data_batch_processing_spark.operators.text_analysis import (
            BM25_QUERY_STRIDE,
            BM25_TOP_K,
        )

        rows = registry.QUERIES["text_bm25"](spark, sf_dir).collect()
        assert rows, "no queries scored"
        by_query: dict[int, list] = {}
        for r in rows:
            by_query.setdefault(r.query_id, []).append(r)
        for qid, group in by_query.items():
            assert qid % BM25_QUERY_STRIDE == 0
            ranks = sorted(r.rank for r in group)
            assert ranks == list(range(1, len(group) + 1))
            assert len(group) <= BM25_TOP_K
            ordered = sorted(group, key=lambda r: r.rank)
            for a, b in zip(ordered, ordered[1:]):
                assert a.score >= b.score
            for r in group:
                assert r.n_terms >= 1

    def test_matches_pure_python_reference(self, spark, sf_dir):
        """Full independent replay: BM25 recomputed in plain Python
        (collections + math + Decimal per-term rounding mirroring
        dsum) must produce the identical top-k doc ordering AND
        6dp-equal scores for every query."""
        import math
        from collections import Counter
        from decimal import Decimal

        import pyarrow.parquet as pq

        from crime_data_batch_processing_spark import registry
        from crime_data_batch_processing_spark.operators.text_analysis import (
            BM25_1MB,
            BM25_B,
            BM25_K1,
            BM25_K1P1,
            BM25_QUERY_STRIDE,
            BM25_TOP_K,
        )

        tab = pq.read_table(
            f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
        )
        docs = dict(
            zip(tab.column("doc_id").to_pylist(), tab.column("text").to_pylist())
        )
        toks = {d: t.split(" ") for d, t in docs.items()}
        n_docs = len(docs)
        avgdl = sum(len(t) for t in toks.values()) / n_docs
        tf = {d: Counter(t) for d, t in toks.items()}
        df = Counter()
        for c in tf.values():
            df.update(c.keys())

        def score(qterms, d):
            c, dl, s = tf[d], len(toks[d]), Decimal(0)
            for t in qterms:
                if t not in c:
                    continue
                idf = math.log(1.0 + (n_docs - df[t] + 0.5) / (df[t] + 0.5))
                v = idf * (
                    (c[t] * BM25_K1P1)
                    / (c[t] + BM25_K1 * (BM25_1MB + BM25_B * (dl / avgdl)))
                )
                s += Decimal(v).quantize(Decimal("0.000001"))
            return float(s)

        expected = {}
        for qid in (d for d in docs if d % BM25_QUERY_STRIDE == 0):
            qterms = {t for t in toks[qid] if len(t) >= 4}
            scored = [
                (d, score(qterms, d))
                for d in docs
                if any(t in tf[d] for t in qterms)
            ]
            scored.sort(key=lambda x: (-x[1], x[0]))
            expected[qid] = scored[:BM25_TOP_K]

        rows = registry.QUERIES["text_bm25"](spark, sf_dir).collect()
        got = {}
        for r in rows:
            got.setdefault(r.query_id, []).append(r)
        assert set(got) == set(expected)
        for qid in expected:
            g = sorted(got[qid], key=lambda r: r.rank)
            assert [r.doc_id for r in g] == [d for d, _ in expected[qid]], qid
            for r, (_, s) in zip(g, expected[qid]):
                assert abs(r.score - s) < 1e-9, (qid, r.doc_id, r.score, s)


class TestHybridRRF:
    def test_fusion_invariants_and_formula(self, spark, sf_dir):
        """Structure + exact formula replay for `sim_search_rrf`:
        every query returns RRF_TOP rows ranked 1..RRF_TOP with
        non-increasing scores; each candidate carries at least one
        real ranker rank (0 = absent encoding, never both); and the
        fused score equals 1/(60+r) per present ranker, recomputed
        here with the identical IEEE ops — any wiring error in the
        full-outer join / coalesce / ordering breaks equality."""
        from crime_data_batch_processing_spark import registry
        from crime_data_batch_processing_spark.operators.similarity import (
            RRF_K0,
            RRF_N_Q,
            RRF_POOL,
            RRF_TOP,
        )

        rows = registry.QUERIES["sim_search_rrf"](spark, sf_dir).collect()
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r.qid, []).append(r)
        assert set(by_q) == set(range(RRF_N_Q))
        for qid, group in by_q.items():
            assert sorted(r.rank for r in group) == list(
                range(1, RRF_TOP + 1)
            )
            ordered = sorted(group, key=lambda r: r.rank)
            for a, b in zip(ordered, ordered[1:]):
                # total order: score desc, then cand_id asc on ties
                assert a.rrf_score > b.rrf_score or (
                    a.rrf_score == b.rrf_score and a.cand_id < b.cand_id
                )
            for r in group:
                assert 0 <= r.lex_rank <= RRF_POOL
                assert 0 <= r.vec_rank <= RRF_POOL
                assert r.lex_rank > 0 or r.vec_rank > 0
                expected = (
                    1.0 / (RRF_K0 + r.lex_rank) if r.lex_rank else 0.0
                ) + (1.0 / (RRF_K0 + r.vec_rank) if r.vec_rank else 0.0)
                assert r.rrf_score == expected, (qid, r)

    def test_both_rankers_contribute(self, spark, sf_dir):
        """The fused top must draw from BOTH rankers somewhere in the
        result (else the fusion is vacuously one index): at least one
        row with lex_rank > 0 and at least one with vec_rank > 0."""
        from crime_data_batch_processing_spark import registry

        rows = registry.QUERIES["sim_search_rrf"](spark, sf_dir).collect()
        assert any(r.lex_rank > 0 for r in rows)
        assert any(r.vec_rank > 0 for r in rows)


class TestEvalDecontaminate:
    def test_gate_matches_decontaminate_verdict(self, spark, sf_dir):
        """Cross-kernel consistency: the manifest's flagged-doc total
        must equal `text_decontaminate`'s contaminated verdict
        restricted to the manifest's gate+dedup survivors — the two
        registered keys share the 5-gram semantics, so they may never
        disagree on who is contaminated."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            text_decontaminate,
        )
        from crime_data_batch_processing_spark.operators.pipeline import (
            pipeline_eval_decontaminate,
        )
        from crime_data_batch_processing_spark.operators.text_analysis import (
            QM_THRESHOLD,
            text_quality_model,
        )
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            BENCH_MOD,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        manifest = pipeline_eval_decontaminate(spark, sf_dir)
        rows = manifest.collect()
        got_flagged = sum(r.n_flagged for r in rows)

        # independent reconstruction of the survivor set from the
        # registered quality-model key + exact keep-first dedup
        keep = (
            text_quality_model(spark, sf_dir)
            .where(F.col("quality_score") >= QM_THRESHOLD)
            .where(F.col("doc_id") % BENCH_MOD != 0)
            .select("doc_id")
        )
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.md5("text").alias("digest")
        )
        kept = docs.join(keep, "doc_id")
        survivors = kept.join(
            kept.groupBy("digest").agg(F.min("doc_id").alias("keep_id")),
            "digest",
        ).where(F.col("doc_id") == F.col("keep_id"))
        want_flagged = (
            text_decontaminate(spark, sf_dir)
            .where(F.col("contaminated"))
            .join(survivors, "doc_id")
            .count()
        )
        assert got_flagged == want_flagged
        # the audit column can never exceed the flag column
        for r in rows:
            assert 0 <= r.n_flagged_retrieved <= r.n_flagged, r
        # survivor accounting: kept + flagged == survivors
        assert (
            sum(r.n_docs for r in rows) + got_flagged == survivors.count()
        )

    def test_retrieval_audit_hits_on_planted_near_dup(
        self, spark, sf_oracle_dir
    ):
        """At sf0.01 (the driver's compare tier) exactly one
        contaminated doc survives the gate — the flag must fire there
        (at sf0.001 the true answer is zero: both contaminated docs
        fail the quality gate, which the oracle compare already
        pins). The audit column can never exceed the flag column."""
        from crime_data_batch_processing_spark.operators.pipeline import (
            pipeline_eval_decontaminate,
        )

        rows = pipeline_eval_decontaminate(spark, sf_oracle_dir).collect()
        assert sum(r.n_flagged for r in rows) >= 1
        assert sum(r.n_flagged_retrieved for r in rows) <= sum(
            r.n_flagged for r in rows
        )


class TestRelease:
    def test_release_inc_card_equals_spark_full_rebuild(
        self, spark, sf_dir
    ):
        """The incremental release's whole contract (r13 verdict item
        2): the card folded from persisted base state + one ingest
        batch must equal the FULL REBUILD over the same planted
        corpus tuple-for-tuple, release digest included — computed
        here Spark-vs-Spark (the registered oracle already pins it
        cross-engine against DuckDB)."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            BENCH_MOD,
            DECON_K,
        )
        from crime_data_batch_processing_spark.functions.textkit import (
            shingles_of,
            tokens,
        )
        from crime_data_batch_processing_spark.operators.pipeline import (
            _card_counters,
            _card_finish,
            _docs_planted,
            _quality_kept,
            pipeline_release_inc,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        inc = {
            tuple(r)
            for r in pipeline_release_inc(spark, sf_dir).collect()
        }
        # full rebuild from scratch over the identical planted corpus,
        # using pipeline_release's stage kernels directly
        docs = _docs_planted(load_table(spark, sf_dir, "documents"))
        is_bench = F.col("doc_id") % BENCH_MOD == 0
        with_sh = docs.select(
            "doc_id",
            shingles_of(tokens("text"), DECON_K).alias("sh"),
        ).persist()
        qgrams = (
            with_sh.where(is_bench)
            .select(F.explode("sh").alias("g"))
            .distinct()
        )
        contaminated = (
            with_sh.where(~is_bench)
            .select("doc_id", F.explode("sh").alias("g"))
            .join(F.broadcast(qgrams), "g")
            .select("doc_id")
            .distinct()
        )
        kept = _quality_kept(docs.where(~is_bench))
        first = kept.groupBy("digest").agg(
            F.min("doc_id").alias("keep_id")
        )
        dedup = (
            kept.join(first, "digest")
            .where(F.col("doc_id") == F.col("keep_id"))
            .select("doc_id", "lang", "n_toks")
        )
        clean = dedup.join(
            contaminated.withColumn("fl_", F.lit(True)),
            "doc_id",
            "left",
        ).select(
            "lang",
            "n_toks",
            F.coalesce("fl_", F.lit(False)).alias("fl"),
        )
        full = {
            tuple(r)
            for r in _card_finish(_card_counters(clean)).collect()
        }
        with_sh.unpersist()
        assert inc and inc == full, sorted(inc ^ full)[:4]

    def test_release_inc_fold_paths_are_nonvacuous(
        self, spark, sf_dir
    ):
        """Every interesting fold path must actually execute on this
        corpus: (a) the batch ships NEW docs (merged card grows past
        the persisted base card), (b) the digest-index anti-join
        DROPS at least one re-upload of an already-released text,
        (c) within-batch keep-first collapses at least one duplicate
        pair (the second plant generation shares its text with the
        first). Guards the round-4 vacuous-pass class for this key."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            BENCH_MOD,
        )
        from crime_data_batch_processing_spark.operators.pipeline import (
            RELEASE_INC_MOD,
            RELEASE_INC_RESIDUE,
            _docs_planted,
            _quality_kept,
            _release_inc_dirs,
            pipeline_release_inc,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        merged = {
            r.lang: r
            for r in pipeline_release_inc(spark, sf_dir).collect()
        }
        dirs = _release_inc_dirs(sf_dir)
        base_card = {
            r.lang: r
            for r in spark.read.parquet(dirs["card"]).collect()
        }
        assert sum(r.n_docs for r in merged.values()) > sum(
            r.n_docs for r in base_card.values()
        ), "the ingest shipped nothing — vacuous fold"
        docs = _docs_planted(load_table(spark, sf_dir, "documents"))
        batch_kept = _quality_kept(
            docs.where(
                (
                    F.col("doc_id") % RELEASE_INC_MOD
                    == RELEASE_INC_RESIDUE
                )
                & (F.col("doc_id") % BENCH_MOD != 0)
            )
        ).persist()
        n_batch = batch_kept.count()
        n_batch_digests = (
            batch_kept.select("digest").distinct().count()
        )
        assert n_batch_digests < n_batch, (
            "no within-batch duplicate — keep-first path vacuous"
        )
        index = spark.read.parquet(dirs["index"])
        n_reuploads = (
            batch_kept.select("digest")
            .distinct()
            .join(index, "digest")
            .count()
        )
        batch_kept.unpersist()
        assert n_reuploads > 0, (
            "no batch digest hit the released index — anti-join vacuous"
        )

    def test_release_media_drop_paths_and_embed_seam(
        self, spark, sf_dir
    ):
        """The media release's three contracts: (a) every exact
        re-upload plant dies at the digest stage (none survives into
        the card universe), (b) every near-dup plant dies at the
        SEMANTIC stage (counted in n_dropped_semantic, which must
        cover at least the planted count), (c) the embed seam
        (`_media_corpus_embedded`) covers EXACTLY the exact-stage
        survivors — the equality the key's docstring asserts instead
        of recomputing the embed on survivors."""
        from pyspark.sql import Window

        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_EVERY,
            PLANT_OFFSET,
        )
        from crime_data_batch_processing_spark.operators.multimodal import (
            MEDIA_GRAM_K,
            MEDIA_PLANT_SUFFIX,
            _media_corpus_embedded,
        )
        from crime_data_batch_processing_spark.operators.pipeline import (
            MEDIA_RELEASE_EXACT_MULT,
            pipeline_release_media,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        rows = pipeline_release_media(spark, sf_dir).collect()
        assert rows and len({r.release_digest for r in rows}) == 1
        assert abs(sum(r.asset_share for r in rows) - 1.0) < 1e-9

        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
        planted_src = F.col("doc_id") % PLANT_EVERY == 0
        near = docs.where(planted_src).select(
            (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
            "lang",
            F.concat("text", F.lit(MEDIA_PLANT_SUFFIX)).alias("text"),
        )
        exact_off = MEDIA_RELEASE_EXACT_MULT * PLANT_OFFSET
        exact = docs.where(planted_src).select(
            (F.col("doc_id") + exact_off).alias("doc_id"),
            "lang",
            "text",
        )
        valid = (
            docs.unionByName(near)
            .unionByName(exact)
            .where(F.length("text") >= MEDIA_GRAM_K)
        )
        w = Window.partitionBy(F.md5(F.encode("text", "UTF-8")))
        surv_ids = {
            r.doc_id
            for r in valid.withColumn("m", F.min("doc_id").over(w))
            .where(F.col("doc_id") == F.col("m"))
            .select("doc_id")
            .collect()
        }
        n_exact_planted = exact.count()
        assert n_exact_planted > 0
        assert not [i for i in surv_ids if i >= exact_off], (
            "an exact re-upload survived the digest stage"
        )
        n_near_planted = near.where(
            F.length("text") >= MEDIA_GRAM_K
        ).count()
        total_sem_drops = sum(r.n_dropped_semantic for r in rows)
        assert total_sem_drops >= n_near_planted > 0, (
            total_sem_drops,
            n_near_planted,
        )
        emb_ids = {
            r.vec_id
            for r in _media_corpus_embedded(spark, sf_dir)
            .select("vec_id")
            .collect()
        }
        # seam equality modulo zero-embed payloads (filtered by the
        # embed, kept — and trivially unpaired — in the card universe)
        assert emb_ids <= surv_ids
        assert not {
            i for i in surv_ids - emb_ids if i >= PLANT_OFFSET
        }, "a planted survivor fell out of the embed seam"

    def test_release_digest_is_reproducible_and_card_consistent(
        self, spark, sf_dir
    ):
        """The release digest must be exactly md5 over the
        lang-ordered (lang, n_docs, n_tokens) rows — recomputed here
        in pure Python from the card itself (pins the digest formula
        both engines replay), shares one value across every row, and
        doc_share must sum to 1 over the card."""
        import hashlib

        from crime_data_batch_processing_spark.operators.pipeline import (
            pipeline_release,
        )

        rows = pipeline_release(spark, sf_dir).collect()
        assert len(rows) > 1  # several languages — non-vacuous
        digests = {r.release_digest for r in rows}
        assert len(digests) == 1
        expected = hashlib.md5(
            "|".join(
                f"{r.lang}:{r.n_docs}:{r.n_tokens}"
                for r in sorted(rows, key=lambda r: r.lang)
            ).encode()
        ).hexdigest()
        assert digests == {expected}
        assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-12

    def test_release_counts_match_component_kernels(self, spark, sf_dir):
        """Cross-kernel consistency: the card's kept+flagged doc total
        must equal the quality-gated, keep-first-deduped, non-bench
        survivor count reconstructed from the registered
        `text_quality_model` key — the same invariant
        TestEvalDecontaminate pins for the shard manifest."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            BENCH_MOD,
        )
        from crime_data_batch_processing_spark.operators.pipeline import (
            pipeline_release,
        )
        from crime_data_batch_processing_spark.operators.text_analysis import (
            QM_THRESHOLD,
            text_quality_model,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        rows = pipeline_release(spark, sf_dir).collect()
        got_total = sum(r.n_docs + r.n_flagged for r in rows)

        keep = (
            text_quality_model(spark, sf_dir)
            .where(F.col("quality_score") >= QM_THRESHOLD)
            .where(F.col("doc_id") % BENCH_MOD != 0)
            .select("doc_id")
        )
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", F.md5("text").alias("digest")
        )
        kept = docs.join(keep, "doc_id")
        first = kept.groupBy("digest").agg(
            F.min("doc_id").alias("keep_id")
        )
        expected = (
            kept.join(first, "digest")
            .where(F.col("doc_id") == F.col("keep_id"))
            .count()
        )
        assert got_total == expected


class TestSemanticInc:
    def test_inc_verdict_equals_full_verdict_restriction(
        self, spark, sf_dir
    ):
        """The batch verdict decided from index-plus-probe edges must
        be tuple-identical to the full corpus verdict restricted to
        the batch — the SemDeDup extension of the inc-equals-rebuild
        invariant (same edges per source ⇒ same witness ⇒ same
        verdict)."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
            SEMDEDUP_INC_MOD,
            SEMDEDUP_INC_RESIDUE,
            dedup_semantic,
            dedup_semantic_inc,
        )

        inc = {
            (r.vec_id, r.kept, r.witness_id, r.witness_cos)
            for r in dedup_semantic_inc(spark, sf_dir).collect()
        }
        full = {
            (r.vec_id, r.kept, r.witness_id, r.witness_cos)
            for r in dedup_semantic(spark, sf_dir).collect()
            if r.vec_id >= PLANT_OFFSET
            or r.vec_id % SEMDEDUP_INC_MOD == SEMDEDUP_INC_RESIDUE
        }
        assert inc, "empty batch verdict"
        assert inc == full, sorted(inc ^ full)[:4]

    def test_batch_outcomes_are_exactly_the_plants(self, spark, sf_dir):
        """Both decision paths must fire deterministically: every
        planted batch member is DROPPED with its index source as
        witness at cos > 0.99; every novel (base-slice) batch member
        is KEPT with sentinel witness fields."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
            dedup_semantic_inc,
        )

        rows = dedup_semantic_inc(spark, sf_dir).collect()
        planted = [r for r in rows if r.vec_id >= PLANT_OFFSET]
        novel = [r for r in rows if r.vec_id < PLANT_OFFSET]
        assert planted and novel, "batch must mix both outcomes"
        for r in planted:
            assert not r.kept, r
            assert r.witness_id == r.vec_id - PLANT_OFFSET, r
            assert r.witness_cos > 0.99, r
        for r in novel:
            assert r.kept, r
            assert (r.witness_id, r.witness_cos) == (-1, 0.0), r


class TestMultimodalSemantic:
    def test_planted_media_pairs_recovered_at_full_recall(
        self, spark, sf_dir
    ):
        """The stretch contract (r11 verdict item 8): every planted
        near-dup media pair — the single-space re-upload at doc_id +
        PLANT_OFFSET — must come back through the banded pipeline
        (recall 1.0; the signature replay showed band collision is
        deterministic for these pairs at both fixture SFs), paired
        with its source at cos > 0.99."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_EVERY,
            PLANT_OFFSET,
        )
        from crime_data_batch_processing_spark import registry
        from crime_data_batch_processing_spark.operators.multimodal import (
            MEDIA_COSINE_THRESHOLD,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        rows = registry.QUERIES["multimodal_dedup_semantic"](
            spark, sf_dir
        ).collect()
        assert rows, "no media near-dup pairs"
        pairs = {(r.doc_a, r.doc_b): r.cos_sim for r in rows}
        n_docs = load_table(spark, sf_dir, "documents").count()
        expected = {
            (d, d + PLANT_OFFSET)
            for d in range(0, n_docs, PLANT_EVERY)
        }
        got_planted = {
            p for p in pairs if p[1] >= PLANT_OFFSET and p[0] < PLANT_OFFSET
        }
        assert expected <= got_planted, (
            f"missed planted pairs: {sorted(expected - got_planted)[:5]}"
        )
        for p in expected:
            assert pairs[p] > 0.99, (p, pairs[p])
        # non-vacuous beyond the plants: the corpus's genuine byte-
        # space near-dups surface too
        assert any(b < PLANT_OFFSET for _, b in pairs), (
            "no natural near-dup pairs found"
        )
        for (a, b), c in pairs.items():
            assert a < b
            assert c >= MEDIA_COSINE_THRESHOLD

    def test_batch_vectorized_embed_equals_per_doc_reference(
        self, spark, sf_dir
    ):
        """r15 pinned equivalence: `_kgram_embed` is vectorized ACROSS
        the Arrow batch (concatenated rolling hash, document-boundary
        masking, doc-offset two-sided bincount). Every emitted vector
        must equal the straightforward per-document rolling-hash +
        signed-bincount reference computed here from the SAME envelope
        payloads, and exactly the zero-vector payloads must be
        filtered (the exists() guard)."""
        import numpy as np

        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_EVERY,
            PLANT_OFFSET,
        )
        from crime_data_batch_processing_spark.operators.multimodal import (
            MEDIA_EMBED_BINS,
            MEDIA_GRAM_K,
            MEDIA_GRAM_MOD,
            MEDIA_GRAM_MULT,
            MEDIA_MIX_MOD,
            MEDIA_MIX_MULT,
            MEDIA_PLANT_SUFFIX,
            _media_corpus_embedded,
            media_envelope,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        got = {
            r.vec_id: list(r.q)
            for r in _media_corpus_embedded(spark, sf_dir).collect()
        }

        # same corpus construction as the seam: base + planted copies,
        # length-filtered; payload bytes via the same envelope
        docs = load_table(spark, sf_dir, "documents")
        cols = ["doc_id", "text", "lang", "source", "n_chars"]
        planted = docs.where(F.col("doc_id") % PLANT_EVERY == 0).select(
            (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
            F.concat(F.col("text"), F.lit(MEDIA_PLANT_SUFFIX)).alias(
                "text"
            ),
            "lang",
            "source",
            (F.col("n_chars") + 1).alias("n_chars"),
        )
        corpus = (
            docs.select(*cols)
            .unionByName(planted)
            .where(F.length("text") >= MEDIA_GRAM_K)
        )
        payloads = (
            media_envelope(corpus)
            .select("doc_id", F.col("media.data").alias("data"))
            .collect()
        )

        k, mult, gmod = MEDIA_GRAM_K, MEDIA_GRAM_MULT, MEDIA_GRAM_MOD
        mix, mixmod, bins = MEDIA_MIX_MULT, MEDIA_MIX_MOD, MEDIA_EMBED_BINS
        n_nonzero = 0
        for row in payloads:
            b = np.frombuffer(bytes(row.data), dtype=np.uint8).astype(
                "int64"
            )
            n = b.size - k + 1
            v = b[:n].copy()
            for j in range(1, k):
                v = (v * mult + b[j : j + n]) % gmod
            g = (v * mix) % mixmod
            h = np.zeros(bins, dtype="int64")
            np.add.at(h, g % bins, 1 - 2 * ((g >> 8) & 1))
            ref = h.tolist()
            if any(ref):
                n_nonzero += 1
                assert got[row.doc_id] == ref, row.doc_id
            else:
                assert row.doc_id not in got, row.doc_id
        assert n_nonzero > 0 and len(got) == n_nonzero

    @pytest.mark.parametrize(
        "rung,bits,bands,band_bits,recall_floor",
        [
            ("wide", 128, 8, 16, 0.99),
            # xwide: 244/250 = 0.976 measured at sf0.1 — the next
            # decade's trade (never claim 1.0 at banded geometries)
            ("xwide", 256, 8, 32, 0.97),
        ],
    )
    def test_wide_rungs_match_independent_numpy_band_replay(
        self, spark, sf_dir, rung, bits, bands, band_bits, recall_floor
    ):
        """The multi-word rungs' honesty contract (128-bit/8×16 wide
        and 256-bit/8×32 xwide): each rung's planted-pair result must
        equal EXACTLY what an independent numpy replay of the embed +
        multi-word signature + banding predicts — recall is whatever
        the tighter bands deterministically give (wide: 249/250 at
        sf0.1; xwide: 244/250), never silently less, and every
        returned pair must clear the cosine threshold. This is the
        multi-word twin of the 64-bit rung's recall-1.0 test: each
        scale rung trades a measured sliver of recall for a measured
        candidate-mass reduction (109× wide, a further 12× xwide),
        and this test pins that trade bit-for-bit."""
        import numpy as np

        from crime_data_batch_processing_spark import registry
        from crime_data_batch_processing_spark.operators import (
            multimodal as mm,
        )
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_EVERY,
            PLANT_OFFSET,
        )
        from crime_data_batch_processing_spark.operators.multimodal import (
            MEDIA_COSINE_THRESHOLD,
            MEDIA_EMBED_BINS,
            MEDIA_GRAM_K,
            MEDIA_GRAM_MOD,
            MEDIA_GRAM_MULT,
            MEDIA_MIX_MOD,
            MEDIA_MIX_MULT,
        )
        from crime_data_batch_processing_spark.operators.similarity import (
            _hyperplanes,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        # the registered constants must be exactly the parametrized
        # geometry (guards a constants drift from the test's replay)
        pfx = f"MEDIA_{rung.upper()}_"
        assert (
            getattr(mm, pfx + "BITS"),
            getattr(mm, pfx + "BANDS"),
            getattr(mm, pfx + "BAND_BITS"),
        ) == (bits, bands, band_bits)
        key_fn = registry.QUERIES[f"multimodal_dedup_semantic_{rung}"]

        def embed(s: str):
            b = np.frombuffer(s.encode(), dtype=np.uint8).astype("int64")
            n = b.size - MEDIA_GRAM_K + 1
            if n <= 0:
                return None
            v = b[:n].copy()
            for j in range(1, MEDIA_GRAM_K):
                v = (v * MEDIA_GRAM_MULT + b[j : j + n]) % MEDIA_GRAM_MOD
            g = (v * MEDIA_MIX_MULT) % MEDIA_MIX_MOD
            h = np.zeros(MEDIA_EMBED_BINS, dtype="int64")
            np.add.at(h, g % MEDIA_EMBED_BINS, 1 - 2 * ((g >> 8) & 1))
            return h if (h != 0).any() else None

        planes = np.array(_hyperplanes(bits), dtype="int64").T
        w = np.left_shift(
            np.int64(1), np.arange(band_bits, dtype="int64")
        )

        def bvals(v):
            sbits = (v @ planes) >= 0
            return np.array(
                [
                    (
                        sbits[b * band_bits : (b + 1) * band_bits] * w
                    ).sum()
                    for b in range(bands)
                ]
            )

        docs = load_table(spark, sf_dir, "documents").collect()
        predicted, total_planted = set(), 0
        for r in docs:
            if r.doc_id % PLANT_EVERY:
                continue
            a, b = embed(r.text), embed(r.text + " ")
            if a is None or b is None:
                continue
            cos = (a @ b) / np.sqrt((a @ a) * (b @ b))
            if cos < MEDIA_COSINE_THRESHOLD:
                continue
            total_planted += 1
            if (bvals(a) == bvals(b)).any():
                predicted.add((r.doc_id, r.doc_id + PLANT_OFFSET))

        rows = key_fn(spark, sf_dir).collect()
        assert rows, f"no media near-dup pairs at the {rung} geometry"
        pairs = {(r.doc_a, r.doc_b): r.cos_sim for r in rows}
        # source↔its-own-copy pairs only: natural near-dup GROUPS also
        # pair members with other members' planted copies (e.g. doc 8
        # with 10000120) — genuine finds, but not what the replay
        # predicts pair-by-pair here
        got_planted = {
            p for p in pairs if p[1] == p[0] + PLANT_OFFSET
        }
        assert got_planted == predicted, (
            f"spark != replay: only-spark "
            f"{sorted(got_planted - predicted)[:5]}, only-replay "
            f"{sorted(predicted - got_planted)[:5]}"
        )
        assert total_planted > 0
        assert len(predicted) / total_planted >= recall_floor, (
            f"{rung} recall {len(predicted)}/{total_planted} below "
            "the measured floor"
        )
        for (a, b), c in pairs.items():
            assert a < b
            assert c >= MEDIA_COSINE_THRESHOLD


class TestMultimodalSemanticInc:
    def test_media_batch_verdict_equals_full_restriction(
        self, spark, sf_dir
    ):
        """The media batch verdict decided from index-plus-probe
        edges must be tuple-identical to the full wide-graph verdict
        restricted to the batch — the SemDeDup inc-equals-rebuild
        invariant, restated for the media corpus at the 128-bit wide
        geometry (same edges per source ⇒ same witness ⇒ same
        verdict)."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
            SEMDEDUP_INC_MOD,
            SEMDEDUP_INC_RESIDUE,
            semantic_verdict,
        )
        from crime_data_batch_processing_spark.operators.multimodal import (
            MEDIA_COSINE_THRESHOLD,
            MEDIA_WIDE_BAND_BITS,
            MEDIA_WIDE_BANDS,
            MEDIA_WIDE_BITS,
            _media_corpus_embedded,
            multimodal_dedup_semantic_inc,
        )
        from crime_data_batch_processing_spark.operators.similarity import (
            banded_scored_pairs,
            knn_rank_directed,
            signature_frame,
        )

        inc = {
            (r.doc_id, r.kept, r.witness_id, r.witness_cos)
            for r in multimodal_dedup_semantic_inc(
                spark, sf_dir
            ).collect()
        }
        with_q = signature_frame(
            _media_corpus_embedded(spark, sf_dir),
            bits=MEDIA_WIDE_BITS,
        )
        full_verdict = semantic_verdict(
            knn_rank_directed(
                banded_scored_pairs(
                    with_q, MEDIA_WIDE_BANDS, MEDIA_WIDE_BAND_BITS
                )
            ),
            with_q.select("vec_id"),
            MEDIA_COSINE_THRESHOLD,
        )
        full = {
            (r.vec_id, r.kept, r.witness_id, r.witness_cos)
            for r in full_verdict.collect()
            if r.vec_id >= PLANT_OFFSET
            or r.vec_id % SEMDEDUP_INC_MOD == SEMDEDUP_INC_RESIDUE
        }
        assert inc, "empty media batch verdict"
        assert inc == full, sorted(inc ^ full)[:4]

    def test_media_batch_mixes_drop_and_keep_paths(self, spark, sf_dir):
        """Both decision paths must fire: the planted re-uploads are
        (near-)all dropped with a lower-id witness at cos ≥ the media
        threshold (the wide geometry's measured recall floor is 0.99
        — witness may be the source OR a natural near-dup group-mate,
        whichever id is smaller), and novel batch members without a
        ≥-threshold neighbor are kept with sentinel fields."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            PLANT_OFFSET,
        )
        from crime_data_batch_processing_spark.operators.multimodal import (
            MEDIA_COSINE_THRESHOLD,
            multimodal_dedup_semantic_inc,
        )

        rows = multimodal_dedup_semantic_inc(spark, sf_dir).collect()
        planted = [r for r in rows if r.doc_id >= PLANT_OFFSET]
        novel = [r for r in rows if r.doc_id < PLANT_OFFSET]
        assert planted and novel, "batch must mix both populations"
        dropped = [r for r in planted if not r.kept]
        assert len(dropped) / len(planted) >= 0.99, (
            f"only {len(dropped)}/{len(planted)} re-uploads caught"
        )
        for r in dropped:
            assert r.witness_id < r.doc_id, r
            assert r.witness_cos >= MEDIA_COSINE_THRESHOLD, r
        kept_novel = [r for r in novel if r.kept]
        assert kept_novel, "no novel member kept"
        for r in kept_novel:
            assert (r.witness_id, r.witness_cos) == (-1, 0.0), r


class TestReleaseSemantic:
    def test_semantic_release_digest_reproducible_and_card_consistent(
        self, spark, sf_dir
    ):
        """The semantic release's digest must be exactly md5 over the
        lang-ordered (lang, n_docs, n_tokens) rows of the
        POST-SEMANTIC card (recomputed in pure Python — pins the
        formula both engines replay), shared across rows; doc_share
        sums to 1; and the semantic stage must do real work on this
        corpus (Σ n_semantic > 0 — a vacuous stage would make the
        oracle compare prove nothing)."""
        import hashlib

        from crime_data_batch_processing_spark.operators.pipeline import (
            pipeline_release_semantic,
        )

        rows = pipeline_release_semantic(spark, sf_dir).collect()
        assert len(rows) > 1
        assert sum(r.n_semantic for r in rows) > 0, (
            "semantic stage dropped nothing — vacuous on this corpus"
        )
        digests = {r.release_digest for r in rows}
        assert len(digests) == 1
        expected = hashlib.md5(
            "|".join(
                f"{r.lang}:{r.n_docs}:{r.n_tokens}"
                for r in sorted(rows, key=lambda r: r.lang)
            ).encode()
        ).hexdigest()
        assert digests == {expected}
        assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-12

    def test_semantic_release_consistent_with_plain_release(
        self, spark, sf_dir
    ):
        """Cross-kernel consistency: the semantic card partitions the
        SAME survivor set the plain release card partitions — per
        language, n_docs + n_flagged + n_semantic (semantic) must
        equal n_docs + n_flagged (plain), and the semantic drop count
        per language must equal the `semantic_verdict` drops
        restricted to that language's exact-dedup survivors."""
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            semantic_verdict,
        )
        from crime_data_batch_processing_spark.operators.pipeline import (
            RELEASE_SEMDEDUP_TAU,
            pipeline_release,
            pipeline_release_semantic,
        )
        from crime_data_batch_processing_spark.operators.similarity import (
            sim_search_knn_graph,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        sem = {
            r.lang: r
            for r in pipeline_release_semantic(spark, sf_dir).collect()
        }
        plain = {
            r.lang: r for r in pipeline_release(spark, sf_dir).collect()
        }
        assert set(sem) == set(plain)
        for lang, s in sem.items():
            p = plain[lang]
            assert (
                s.n_docs + s.n_flagged + s.n_semantic
                == p.n_docs + p.n_flagged
            ), lang

        drops = {
            r.vec_id
            for r in semantic_verdict(
                sim_search_knn_graph(spark, sf_dir),
                load_table(spark, sf_dir, "embeddings").select("vec_id"),
                RELEASE_SEMDEDUP_TAU,
            )
            .where(~F.col("kept"))
            .collect()
        }
        assert drops, "verdict dropped nothing at the release tau"
        total_sem = sum(s.n_semantic for s in sem.values())
        # every semantic drop in the card IS a verdict drop; the card
        # counts only exact-dedup survivors, so <= the verdict total
        assert 0 < total_sem <= len(drops)

    def test_prod_semantic_release_ships_exactly_the_plain_release(
        self, spark, sf_dir
    ):
        """The r12 verdict's item-1 contract: at PROD constants
        (64-bit/8×8, tau 0.9) over the planted corpus, the semantic
        stage drops EXACTLY the planted re-uploads — so the curated
        card must be bit-identical to the plain release over the base
        corpus (same n_docs/n_tokens/n_flagged per language, same
        release digest: a missed re-upload would inflate the card, a
        wrongly dropped base doc would deflate it), with a non-zero
        n_semantic column proving the stage did real work."""
        from crime_data_batch_processing_spark.operators.pipeline import (
            pipeline_release,
            pipeline_release_semantic_prod,
        )

        prod = {
            r.lang: r
            for r in pipeline_release_semantic_prod(
                spark, sf_dir
            ).collect()
        }
        plain = {
            r.lang: r for r in pipeline_release(spark, sf_dir).collect()
        }
        assert set(prod) == set(plain) and len(prod) > 1
        assert sum(r.n_semantic for r in prod.values()) > 0, (
            "prod semantic stage dropped nothing — vacuous"
        )
        for lang, p in prod.items():
            q = plain[lang]
            assert (p.n_docs, p.n_tokens, p.n_flagged) == (
                q.n_docs,
                q.n_tokens,
                q.n_flagged,
            ), lang
            assert p.release_digest == q.release_digest, lang

    def test_prod_semantic_release_digest_reproducible(
        self, spark, sf_dir
    ):
        """The digest is exactly md5 over the lang-ordered
        (lang, n_docs, n_tokens) rows of the POST-SEMANTIC card
        (recomputed in pure Python — pins the formula both engines
        replay), shared across rows; doc_share sums to 1; and a
        second run of the same plan reproduces the digest (the
        release-manifest pin property)."""
        import hashlib

        from crime_data_batch_processing_spark.operators.pipeline import (
            pipeline_release_semantic_prod,
        )

        rows = pipeline_release_semantic_prod(spark, sf_dir).collect()
        assert len(rows) > 1
        digests = {r.release_digest for r in rows}
        assert len(digests) == 1
        expected = hashlib.md5(
            "|".join(
                f"{r.lang}:{r.n_docs}:{r.n_tokens}"
                for r in sorted(rows, key=lambda r: r.lang)
            ).encode()
        ).hexdigest()
        assert digests == {expected}
        assert abs(sum(r.doc_share for r in rows) - 1.0) < 1e-12
        rerun = pipeline_release_semantic_prod(spark, sf_dir).collect()
        assert {r.release_digest for r in rerun} == {expected}


    def test_prod_semantic_release_matches_oracle_smoke(self, spark, sf_dir):
        """Default-tier smoke of the shared semantic-drop path: the prod
        semantic release matches its DuckDB oracle at the smoke scale,
        and its semantic stage drops documents there, so `_decon_gate`'s
        drop-list branch runs without the slow oracle tests."""
        from crime_data_batch_processing_spark import cachekit, registry
        from tests.oracle_harness import compare, duck_connection

        key = "pipeline_release_semantic_prod"
        registry.load_all_operators()
        df = registry.QUERIES[key](spark, sf_dir).cache()
        con = duck_connection(sf_dir)
        try:
            compare(df, con, registry.ORACLES[key])
            assert sum(r.n_semantic for r in df.collect()) > 0
        finally:
            con.close()
            df.unpersist()
            cachekit.release_all()


class TestHardNegatives:
    def test_no_returned_negative_shares_a_gram(self, spark, sf_dir):
        """The whole point of the exclusion: no mined negative may
        share a 5-token shingle with its query (a near-verbatim doc
        labeled 'negative' poisons a contrastive loss), and the query
        itself may never appear. Ranks must be dense from 1 per query
        (computed AFTER exclusion, not post-filtered)."""
        from crime_data_batch_processing_spark.functions.textkit import (
            shingles_of,
            tokens,
        )
        from crime_data_batch_processing_spark.operators.similarity import (
            HN_EXCL_K,
            HN_N_Q,
            sample_hard_negatives,
        )
        from crime_data_batch_processing_spark.sources.tables import (
            load_table,
        )

        rows = sample_hard_negatives(spark, sf_dir).collect()
        assert rows
        assert all(r.doc_id != r.query_id for r in rows)
        # dense ranks per query
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r.rank)
        for q, ranks in by_q.items():
            assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
        # gram-sharing ground truth recomputed independently
        sh = {
            r.doc_id: set(r.sh)
            for r in load_table(spark, sf_dir, "documents")
            .select(
                "doc_id",
                shingles_of(tokens("text"), HN_EXCL_K).alias("sh"),
            )
            .collect()
        }
        for r in rows:
            assert not (sh[r.query_id] & sh[r.doc_id]), (
                r.query_id,
                r.doc_id,
            )

    def test_exclusion_changes_the_pool(self, spark, sf_oracle_dir):
        """At sf0.01 the gram-sharing exclusion provably bites: the
        mined pool differs from the unexcluded BM25 pool (if it never
        bound, the anti-join would be dead machinery)."""
        from crime_data_batch_processing_spark.operators.similarity import (
            HN_N_Q,
            HN_POOL,
            sample_hard_negatives,
        )
        from crime_data_batch_processing_spark.operators.text_analysis import (
            _bm25_ranked,
        )
        import pyspark.sql.functions as F

        mined = {
            (r.query_id, r.doc_id, r.rank)
            for r in sample_hard_negatives(spark, sf_oracle_dir).collect()
        }
        plain = {
            (r.query_id, r.doc_id, r.rank)
            for r in _bm25_ranked(
                spark,
                sf_oracle_dir,
                F.col("doc_id") < HN_N_Q,
                HN_POOL,
                exclude_self=True,
            ).collect()
        }
        assert mined - plain, "exclusion never changed any rank"


class TestClusterBalancedSample:
    def test_quota_and_hash_order_semantics(self, spark, sf_dir):
        """Per cluster: exactly min(CB_QUOTA, |cluster|) rows, and the
        picked set is the hash-order PREFIX of the cluster (key-
        determinism: which vectors are picked is a pure function of
        vec_id — re-runs and engines must agree on identity, not just
        count)."""
        from crime_data_batch_processing_spark.operators.clustering import (
            CB_QUOTA,
            cluster_kmeans,
            sample_cluster_balanced,
        )
        from crime_data_batch_processing_spark.operators.filters import (
            SAMPLE_A,
            SAMPLE_M,
        )

        picked = {}
        for r in sample_cluster_balanced(spark, sf_dir).collect():
            picked.setdefault(r.cid, set()).add(r.vec_id)
        full = {}
        for r in cluster_kmeans(spark, sf_dir).collect():
            full.setdefault(r.cid, set()).add(r.vec_id)
        assert picked and set(picked) == set(full)
        h = lambda k: (k % SAMPLE_M) * SAMPLE_A % SAMPLE_M
        for cid, members in full.items():
            want = set(
                sorted(members, key=lambda v: (h(v), v))[:CB_QUOTA]
            )
            assert picked[cid] == want, cid


class TestLabelPropagation:
    def test_communities_refine_components(self, spark, sf_dir):
        """Sync LPA labels can only travel along edges, so every
        community must sit INSIDE one connected component (LPA refines
        the component partition — that refinement is the operator's
        reason to exist next to dedup_clusters). Also: labels are node
        ids from the graph, and sizes must sum to the node count."""
        from crime_data_batch_processing_spark.operators.graph import (
            graph_label_propagation,
        )
        from crime_data_batch_processing_spark.operators.llm_dedup import (
            dedup_clusters,
        )

        rows = graph_label_propagation(spark, sf_dir).collect()
        assert rows
        comp = {
            r.doc_id: r.cluster_id
            for r in dedup_clusters(spark, sf_dir).collect()
        }
        seen_nodes = set()
        by_comm = {}
        for r in rows:
            assert r.doc_id not in seen_nodes  # one label per node
            seen_nodes.add(r.doc_id)
            by_comm.setdefault(r.community, set()).add(r.doc_id)
        for community, members in by_comm.items():
            comps = {comp[m] for m in members}
            assert len(comps) == 1, (community, comps)
        sizes = {r.community: r.community_size for r in rows}
        for community, members in by_comm.items():
            assert sizes[community] == len(members)
