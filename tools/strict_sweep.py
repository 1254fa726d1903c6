#!/usr/bin/env python
"""Strict cross-engine sweep: every registered query vs its DuckDB
oracle, bit-exact, in one fresh process walking the driver's key order.

This is the repo-checked-in form of the driver-replica harness. Rows
compare through tests/oracle_harness.py's `_normalize`, the rule the
oracle tests apply: exact repr (doubles bit-for-bit), int/float type
tags, NULL distinct from any string, map cells in key order, bytes by
hex. Running it at MULTIPLE scale factors and parallelism configs is
the point: the sf0.1 sweep is what surfaced the 1-ULP JVM-vs-libm log
drift in text_tfidf that the sf0.01 gate could never see.

Usage (ALWAYS from a cwd outside the repo — a repo cwd lands on
worker sys.path and masks by-reference pickling bugs in UDF closures):

    cd /tmp
    python /root/repo/tools/strict_sweep.py                   # sf0.01, local[8]
    python /root/repo/tools/strict_sweep.py --sf-dir /root/testdata/sf0.1 \
        --cpus 32 --keys text_tfidf,join_dpp
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
for _p in (REPO, f"{REPO}/tests"):
    if _p not in sys.path:
        sys.path.insert(0, _p)


def _recall_guard(spark, sf_dir: str) -> list[str]:
    """Banded-vs-exact pair-set equality on THIS corpus — the
    strict-sweep form of the tests/test_llm_ops.py oracle-validity
    guards (those run only at the fixture SFs). Returns failure tags
    for the final STRICT_FAILS line."""
    from pyspark.sql import functions as F

    from crime_data_batch_processing_spark.functions.veckit import (
        descale,
        idot,
    )
    from crime_data_batch_processing_spark.operators.llm_dedup import (
        PROD_COSINE_THRESHOLD,
        _planted_quantized,
        dedup_embedding_lsh_prod,
        dedup_minhash,
        dedup_ngram_jaccard,
    )
    from crime_data_batch_processing_spark.sources.tables import spread_table

    fails: list[str] = []

    def pairs(df, a="doc_a", b="doc_b"):
        return {(r[a], r[b]) for r in df.select(a, b).collect()}

    exact = pairs(dedup_ngram_jaccard(spark, sf_dir))
    banded = pairs(dedup_minhash(spark, sf_dir))
    if banded == exact:
        print(f"OK   recall-guard:minhash ({len(exact)} pairs)", flush=True)
    else:
        fails.append("recall-guard:minhash")
        print(
            "FAIL recall-guard:minhash — banded recall < 1.0 on this "
            f"corpus (misses {sorted(exact - banded)[:5]}); the "
            "exact-set oracles of dedup_minhash AND every "
            "near_dup_pairs consumer (dedup_clusters*, graph_*) are "
            "invalid here",
            flush=True,
        )

    corpus = _planted_quantized(
        spread_table(spark, sf_dir, "embeddings")
    ).select(
        "vec_id", "q", descale(idot(F.col("q"), F.col("q"))).alias("nsq")
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
    exact_e = pairs(
        a.join(b, F.col("vec_a") < F.col("vec_b")).where(
            descale(idot(F.col("qa"), F.col("qb")))
            / F.sqrt(F.col("na") * F.col("nb"))
            >= PROD_COSINE_THRESHOLD
        ),
        "vec_a",
        "vec_b",
    )
    prod = pairs(dedup_embedding_lsh_prod(spark, sf_dir), "vec_a", "vec_b")
    if prod == exact_e:
        print(
            f"OK   recall-guard:embedding_lsh_prod ({len(exact_e)} pairs)",
            flush=True,
        )
    else:
        fails.append("recall-guard:embedding_lsh_prod")
        print(
            "FAIL recall-guard:embedding_lsh_prod — 8x8-band recall "
            f"< 1.0 on this corpus (misses {sorted(exact_e - prod)[:5]})",
            flush=True,
        )
    return fails


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--cpus", type=int, default=8,
                    help="local[N] master AND shuffle partition count")
    ap.add_argument("--keys", default="",
                    help="comma-separated subset (default: all, driver order)")
    ap.add_argument("--recall-guard", action="store_true",
                    help="also run the banded-vs-exact pair-set probes "
                         "(the tests/test_llm_ops.py oracle-validity "
                         "guards) against THIS sf-dir — run it on any "
                         "NEW corpus before trusting the exact-set "
                         "oracles of dedup_minhash, its near_dup_pairs "
                         "consumers (dedup_clusters*, graph_*), and "
                         "dedup_embedding_lsh_prod: their banded-LSH "
                         "recall is a data-dependent property, and a "
                         "miss surfaces as an opaque value mismatch "
                         "across many keys instead of a named guard "
                         "failure. Implied automatically whenever "
                         "--sf-dir points outside /root/testdata (a "
                         "corpus the guards have never vetted); pass "
                         "--no-recall-guard to suppress that.")
    ap.add_argument("--no-recall-guard", action="store_true",
                    help="suppress the implicit recall guard on "
                         "non-driver sf-dirs (e.g. re-sweeping a soak "
                         "tier the guard already vetted this session)")
    args = ap.parse_args()
    # The guard is a data property, not a code property: driver tiers
    # under /root/testdata are vetted every round by the driver's own
    # compare, but ANY other corpus (soak tiers, user data) must prove
    # banded-LSH recall before its exact-set oracles mean anything —
    # so sweeping one implies the guard unless explicitly suppressed.
    if not args.recall_guard and not args.no_recall_guard:
        inside_driver = os.path.realpath(args.sf_dir).startswith(
            "/root/testdata/"
        )
        if not inside_driver:
            args.recall_guard = True
            print("# non-driver sf-dir: recall guard implied "
                  "(--no-recall-guard suppresses)", flush=True)

    from oracle_harness import _normalize, duck_connection, duck_spill_dir
    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod
    from crime_data_batch_processing_spark import cachekit

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    assert len(entrymod.entry(spark).collect()) > 0, "entry smoke failed"
    qs, osql = entrymod.queries(), entrymod.oracle_sql()

    con = duck_connection(args.sf_dir)
    spill = duck_spill_dir(con)
    # The spill is unbounded, and a stopped sweep must not leave it.
    # DuckDB turns a signal in a query into "Query interrupted".
    stopped: list[int] = []

    def stop(signum, _frame):
        stopped.append(signum)
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    try:
        keys = args.keys.split(",") if args.keys else list(qs)
        fails: list[str] = []
        if args.recall_guard:
            fails += _recall_guard(spark, args.sf_dir)
            cachekit.release_all()
        for k in keys:
            t0 = time.time()
            try:
                df = qs[k](spark, args.sf_dir)
                scols, srows = df.columns, df.collect()
                rel = con.execute(osql[k])
                dcols = [c[0] for c in rel.description]
                drows = rel.fetchall()
                assert sorted(scols) == sorted(dcols), (
                    f"cols {sorted(scols)} vs {sorted(dcols)}"
                )
                sn, dn = _normalize(scols, srows), _normalize(dcols, drows)
                assert len(sn) == len(dn), f"rows {len(sn)} vs {len(dn)}"
                assert sn == dn, "value mismatch, first diff: " + repr(
                    next((a, b) for a, b in zip(sn, dn) if a != b)
                )
                assert len(sn) > 0, "0-row result — vacuous-oracle hazard"
                print(f"OK   {k} ({len(sn)} rows, {time.time() - t0:.1f}s)",
                      flush=True)
            except Exception as ex:  # keep sweeping; report at the end
                fails.append(k)
                print(f"FAIL {k}: {type(ex).__name__}: {str(ex)[:300]}",
                      flush=True)
                if stopped:
                    raise SystemExit(128 + stopped[0]) from ex
            finally:
                cachekit.release_all()
    finally:
        con.close()
        shutil.rmtree(spill, ignore_errors=True)
    print("STRICT_FAILS:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
