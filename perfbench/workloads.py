"""The two workloads: what one operation runs and how its output is
checked.

An operation is a function `run(stage)`; `stage(name)` is a context
manager the runner wraps around each call into a layer, so the same
code serves the timed and the traced runs.
"""

from __future__ import annotations

import contextlib
import os
from dataclasses import dataclass, field
from typing import Callable

import inputs

#: engine_keys: registry keys, each built driver-side and executed
#: through the noop sink. Every layer a key can load is on the list,
#: through the cheapest key that loads it on 4 cores, so that one warm
#: pass takes a few seconds and a whole run fits the time a run has.
ENGINE_KEYS = [
    "analytics_promo_share",  # TPC-H idiom: scans, join, shuffle, codegen
    "udf_arrow",  # Python/Arrow workers (the functions layer)
    "agg_entropy",  # an intermediate persisted through cachekit
    "stream_dedup",  # a stream run to completion inside the build
]

#: daily_etl: dated days per pass and rows per day's CSV.
ETL_DAYS = 3
ETL_ROWS_PER_DAY = 10_000

Run = Callable[[Callable[[str], object]], None]


@dataclass
class Op:
    name: str
    run: Run
    #: Runs the operation again untimed and returns an error message,
    #: or None when the output matches its oracle.
    check: Callable[[], str | None]
    #: Bytes of input this operation reads from outside the engine.
    in_bytes: int = 0
    #: Snapshot partitions the operation writes (daily_etl only). The
    #: first is the one its latest-snapshot read should touch.
    out_parts: list[str] = field(default_factory=list)


@dataclass
class Workload:
    name: str
    #: Registry keys; empty for daily_etl, whose operations are days.
    keys: list[str]


WORKLOADS = {
    "daily_etl": Workload("daily_etl", []),
    "engine_keys": Workload("engine_keys", ENGINE_KEYS),
}


def make_inputs(wl: Workload, repo: str, work: str, seed: int):
    """Generate the workload's inputs; returns the crime days for
    daily_etl (an empty list otherwise)."""
    if wl.keys:
        inputs.write_tree(repo, os.path.join(work, "tree"), seed)
        return []
    return inputs.write_crime_days(
        os.path.join(work, "csv"), seed, ETL_DAYS, ETL_ROWS_PER_DAY
    )


def make_ops(spark, wl: Workload, work: str, days) -> list[Op]:
    if wl.keys:
        return key_ops(spark, os.path.join(work, "tree"), wl.keys)
    return etl_ops(spark, work, days)


# --------------------------------------------------------------------------
# Key workloads: registry build, then execution through the noop sink
# --------------------------------------------------------------------------


def _rows_match(cols, rows, d_cols, d_rows) -> str | None:
    from oracle_harness import _normalize

    if sorted(cols) != sorted(d_cols):
        return f"columns {sorted(cols)} != oracle {sorted(d_cols)}"
    if len(rows) != len(d_rows):
        return f"{len(rows)} rows != oracle {len(d_rows)}"
    if not rows:
        return "no rows: an empty result proves nothing"
    if _normalize(cols, rows) != _normalize(d_cols, d_rows):
        return "values differ from oracle"
    return None


def key_ops(spark, tree: str, keys: list[str]) -> list[Op]:
    from oracle_harness import duck_connection

    from crime_data_batch_processing_spark import cachekit
    from crime_data_batch_processing_spark.registry import ORACLES, QUERIES

    con = duck_connection(tree)

    def make(key: str) -> Op:
        def run(stage):
            with stage("registry.build"):
                df = QUERIES[key](spark, tree)
            with stage("operators.exec"):
                df.write.format("noop").mode("overwrite").save()

        def check():
            df = QUERIES[key](spark, tree)
            rows = [tuple(r) for r in df.collect()]
            cols = df.columns
            cachekit.release_all()
            rel = con.execute(ORACLES[key])
            d_cols = [c[0] for c in rel.description]
            return _rows_match(cols, rows, d_cols, rel.fetchall())

        return Op(key, run, check)

    return [make(k) for k in keys]


# --------------------------------------------------------------------------
# daily_etl: the reference's job, one dated day per operation
# --------------------------------------------------------------------------


def etl_ops(spark, work: str, days: list[tuple[str, str]]) -> list[Op]:
    import duckdb

    from crime_data_batch_processing_spark.operators.sinks import (
        read_latest_snapshot,
        write_snapshot,
    )
    from crime_data_batch_processing_spark.sources.crime_schema import (
        flagship_query,
        read_crime_csv,
        repair,
    )

    snap = os.path.join(work, "etl", "crimes")
    result = os.path.join(work, "etl", "crime_counts")
    con = duckdb.connect()

    def make(date: str, csv_path: str) -> Op:
        def run(stage):
            with stage("sinks.ingest_snapshot"):
                write_snapshot(repair(read_crime_csv(spark, csv_path)), snap, date)
            with stage("sinks.query_result"):
                latest = read_latest_snapshot(spark, snap, date)
                write_snapshot(flagship_query(latest, typed=True), result, date)

        def check():
            run(lambda name: contextlib.nullcontext())
            src = f"read_csv('{csv_path}', header=true, all_varchar=true, quote='\"')"
            (n_csv,) = con.execute(f"SELECT count(*) FROM {src}").fetchone()
            n_snap = read_latest_snapshot(spark, snap, date).count()
            if n_snap != n_csv:
                return f"latest snapshot has {n_snap} rows, CSV {n_csv}"
            got = read_latest_snapshot(spark, result, date)
            rows = [tuple(r) for r in got.collect()]
            oracle = con.execute(
                "SELECT primary_type, CAST(count(primary_type) AS BIGINT) "
                f"AS crime_count FROM {src} WHERE arrest = 'False' "
                "GROUP BY primary_type"
            )
            return _rows_match(
                got.columns, rows, [c[0] for c in oracle.description],
                oracle.fetchall(),
            )

        y, m, d = (int(v) for v in date.split("-"))
        part = f"y={y}/m={m}/d={d}"
        return Op(
            f"day_{date}", run, check, in_bytes=os.path.getsize(csv_path),
            out_parts=[os.path.join(snap, part), os.path.join(result, part)],
        )

    return [make(d, p) for d, p in days]
