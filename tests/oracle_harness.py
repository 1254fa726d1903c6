"""Local replica of the driver's DuckDB-oracle comparison.

Mirrors the documented driver behavior: run the Spark query and the
oracle SQL on the same parquet files, then compare row count, sorted
column names, and an order-insensitive multiset of normalized values.
Used by tests/test_oracle.py as the inner correctness loop so a
mismatch is caught locally before the driver's per-round run.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import tempfile
import uuid

import duckdb

from crime_data_batch_processing_spark.sources.tables import TABLES

#: The share of the memory this process may use (MemTotal, or a lower
#: cgroup limit) one oracle connection may hold. Without a cap DuckDB
#: took a strict sweep's process to 13.9 GB on a 15 GB host (the
#: `graph_*` oracles at sf0.1). Capped, it spills to its temp directory
#: instead, or fails the query with an out-of-memory error.
DUCK_MEMORY_SHARE = 0.25


def _memory_bytes() -> int:
    """MemTotal, or this process's cgroup memory limit when lower."""
    mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            return min(mem, int(f.read()))
    except (OSError, ValueError):  # no cgroup v2 limit ("max")
        return mem


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """An in-memory DuckDB with a view per table of `sf_dir`. It spills
    into `duck_spill_dir(con)`, under the temp dir, which DuckDB creates
    on the first spill and removes on a clean close.

    The spill has no bound (DuckDB 1.0 ignores
    `max_temp_directory_size`): a runaway oracle can fill the temp
    dir's disk instead of the memory (the `graph_*` oracles at sf0.1
    wrote 6-10 GB), and a process killed mid-spill leaves its files
    behind. Callers that may be stopped remove the dir themselves.
    """
    con = duckdb.connect(config={
        "memory_limit": f"{int(_memory_bytes() * DUCK_MEMORY_SHARE) // 2**20}MiB",
        "temp_directory": os.path.join(
            tempfile.gettempdir(), f"duckdb-spill-{uuid.uuid4().hex}"
        ),
    })
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def duck_spill_dir(con: duckdb.DuckDBPyConnection) -> str:
    """The directory `con` spills into."""
    return con.execute("SELECT current_setting('temp_directory')").fetchone()[0]


def _norm_cell(v):
    """Type-aware normalization, deliberately STRICTER than needed:
    int vs float vs Decimal are distinct ('i:'/'f:' prefixes) so a
    query whose two sides return different numeric types fails here
    even when the values print alike — we can't know how tolerant the
    driver's hash is, so queries must match on type AND full value.
    """
    if v is None:
        return "\x00NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v!r}"
    if isinstance(v, decimal.Decimal):
        return f"f:{float(v)!r}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ", timespec="microseconds")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return json.dumps({k: _norm_cell(x) for k, x in sorted(v.items())})
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def _normalize(columns: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def _driver_canon_checks(s_pdf, d_pdf) -> None:
    """Replicate the two driver failure modes CORRECTNESS_r01 exposed
    that tuple-level comparison hides:

    * the driver sorts a PANDAS frame by every column before hashing —
      a list/dict/ndarray cell raises `TypeError: unhashable type`
      (r01 `string_funcs`/`array_funcs` err);
    * the driver's value hash is dtype-sensitive at the PANDAS level —
      DuckDB returns HUGEINT (e.g. SUM OVER) as float64 via `fetchdf`
      while `fetchall` yields exact Python ints, so an int64-vs-float64
      divergence passes tuple comparison but hash-fails at the driver
      (r01 `pack_sequences`/`multimodal_cols`).
    """
    for name, pdf in (("spark", s_pdf), ("duckdb", d_pdf)):
        obj_cols = pdf.select_dtypes(include=["object"]).columns
        for c in obj_cols:
            for v in pdf[c]:
                if isinstance(v, (list, dict)) or type(v).__name__ == "ndarray":
                    raise AssertionError(
                        f"{name} column {c!r} holds unhashable {type(v).__name__} "
                        "cells — the driver's canonicalizer would err; emit a "
                        "scalar/stringified form instead"
                    )
                if v is not None:
                    break
    kinds = {"i": "int", "u": "int", "f": "float", "b": "bool", "M": "ts"}
    for c in s_pdf.columns:
        sk = kinds.get(s_pdf[c].dtype.kind)
        dk = kinds.get(d_pdf[c].dtype.kind)
        # only flag numeric-kind divergence: date/object representation
        # differs benignly between toPandas and fetchdf (driver passes
        # those), but int-vs-float is exactly the HUGEINT hash-fail
        if {sk, dk} == {"int", "float"}:
            raise AssertionError(
                f"pandas dtype divergence on {c!r}: spark={s_pdf[c].dtype} "
                f"duckdb={d_pdf[c].dtype} — the driver hash-fails on this; "
                "CAST the oracle (or Spark) side so both are the same kind"
            )


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> None:
    """Assert Spark result == DuckDB result (count, columns, values)."""
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = spark_df.columns
    rel = con.execute(sql)
    d_cols = [c[0] for c in rel.description]
    d_rows = rel.fetchall()
    s_pdf = spark_df.toPandas()
    d_pdf = con.execute(sql).fetchdf()
    _driver_canon_checks(s_pdf, d_pdf[s_pdf.columns] if sorted(
        d_pdf.columns) == sorted(s_pdf.columns) else d_pdf)

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    s_norm = _normalize(s_cols, s_rows)
    d_norm = _normalize(d_cols, d_rows)
    if s_norm != d_norm:
        diffs = [
            (a, b) for a, b in zip(s_norm, d_norm) if a != b
        ][:5]
        raise AssertionError(f"value mismatch; first diffs (spark, duckdb): {diffs}")
