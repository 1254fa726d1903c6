"""Reference-parity tests on a synthesized `crime_reported` fixture.

Exercises the reference's exact pipeline semantics (SURVEY.md §2.1)
on data shaped per FIXTURES.md §B: CSV load with header+quotes, the
boolean-as-string filter, COUNT(col) null-skipping, y/m/d snapshot
stamping, and the latest-snapshot protocol.
"""

from __future__ import annotations

import csv
import random

import pytest
from pyspark.sql import functions as F

from crime_data_batch_processing_spark.sources.crime_schema import (
    CRIME_RAW_SCHEMA,
    flagship_query,
    read_crime_csv,
    repair,
    stamp_partitions,
)

PRIMARY_TYPES = ["THEFT", "BATTERY", "CRIMINAL DAMAGE", "NARCOTICS", "ASSAULT"]


@pytest.fixture(scope="module")
def crime_csv(tmp_path_factory):
    """Deterministic ~400-row crime_reported CSV per FIXTURES.md §B.

    Includes the semantic landmines: NULL primary_type rows (COUNT(col)
    must skip them), a lowercase 'false' arrest row and a NULL arrest
    row (case-sensitive equality must exclude both).
    """
    rng = random.Random(42)
    path = tmp_path_factory.mktemp("crime") / "crime_reported.csv"
    cols = [f.name for f in CRIME_RAW_SCHEMA.fields]
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_ALL)
        w.writerow(cols)
        for i in range(400):
            pt = rng.choices(PRIMARY_TYPES, weights=[8, 5, 3, 2, 1])[0]
            if i % 100 == 7:
                pt = ""  # NULL primary_type
            arrest = "True" if rng.random() < 0.26 else "False"
            if i == 11:
                arrest = "false"  # case variant — must NOT match 'False'
            if i == 13:
                arrest = ""  # NULL
            w.writerow(
                [
                    i,
                    f"HY{i:06d}",
                    "09/05/2015 01:30:00 PM",
                    "043XX S WOOD ST",
                    "0486",
                    pt,
                    "DOMESTIC BATTERY SIMPLE",
                    "RESIDENCE",
                    arrest,
                    "True" if rng.random() < 0.13 else "False",
                    "0924",
                    "009",
                    12,
                    "61",
                    "08B",
                    1165074,
                    1875917,
                    2015,
                    "02/10/2018 03:50:01 PM",
                    "41.815117282",
                    "-87.669999562",
                    "(41.815117282, -87.66)",
                ]
            )
    return str(path)


def test_csv_load_schema_and_nulls(spark, crime_csv):
    df = read_crime_csv(spark, crime_csv)
    assert [f.name for f in df.schema.fields] == [f.name for f in CRIME_RAW_SCHEMA.fields]
    assert df.count() == 400
    # empty CSV fields arrive as NULL (reference loads them the same way)
    assert df.filter(F.col("primary_type").isNull()).count() == 4


def test_flagship_null_and_case_semantics(spark, crime_csv):
    """The two quirks SURVEY.md §1.2 pins: COUNT(col) skips NULLs, and
    arrest='False' is case-sensitive (excludes 'false' and NULL)."""
    df = read_crime_csv(spark, crime_csv)
    out = flagship_query(df).collect()
    got = {r["primary_type"]: r["crime_count"] for r in out}

    rows = df.collect()
    expect: dict[str | None, int] = {}
    for r in rows:
        if r["arrest"] == "False" and r["primary_type"] is not None:
            expect[r["primary_type"]] = expect.get(r["primary_type"], 0) + 1
    # NULL group appears (GROUP BY keeps it) with count 0 if any
    # unarrested NULL-type rows exist; COUNT(primary_type) skips them.
    null_unarrested = sum(
        1 for r in rows if r["arrest"] == "False" and r["primary_type"] is None
    )
    if null_unarrested:
        expect[None] = 0
    assert got == expect


def test_typed_model_equivalence(spark, crime_csv):
    """repair() + boolean filter ≡ raw string filter for non-NULL,
    well-cased data (the documented equivalence)."""
    raw = read_crime_csv(spark, crime_csv)
    raw_out = {
        (r["primary_type"], r["crime_count"])
        for r in flagship_query(raw).collect()
    }
    typed_out = {
        (r["primary_type"], r["crime_count"])
        for r in flagship_query(repair(raw), typed=True).collect()
    }
    # The lowercase-'false' row maps to NULL boolean → excluded by both.
    assert typed_out == raw_out
    # and the timestamp parse actually produced timestamps
    parsed = repair(raw).select(F.year("date_value").alias("y")).first()
    assert parsed["y"] == 2015


def test_snapshot_stamps_match_reference_format(spark, crime_csv):
    """y/m/d are non-zero-padded strings — '%-m'/'%-d' semantics
    (spark_ingest_script.py:67-69)."""
    df = stamp_partitions(read_crime_csv(spark, crime_csv), "2022-01-05")
    row = df.select("y", "m", "d").first()
    assert (row["y"], row["m"], row["d"]) == ("2022", "1", "5")


def test_latest_snapshot_roundtrip(spark, crime_csv, tmp_path):
    from crime_data_batch_processing_spark.operators.sinks import (
        read_latest_snapshot,
        write_snapshot,
    )

    df = read_crime_csv(spark, crime_csv)
    base = str(tmp_path / "snap")
    write_snapshot(df.limit(100), base, "2022-01-04")
    write_snapshot(df, base, "2022-01-05")
    latest = read_latest_snapshot(spark, base, "2022-01-05")
    assert latest.count() == 400
    # the dynamic overwrite keeps the earlier day's partition
    assert read_latest_snapshot(spark, base, "2022-01-04").count() == 100
    assert set(latest.columns) == {f.name for f in CRIME_RAW_SCHEMA.fields}


def test_latest_snapshot_lists_only_the_requested_day(
    spark, crime_csv, tmp_path
):
    """A latest read lists only the requested day's directory: a stray
    directory that is not `d=` under another day's month must not break
    it, and a day with no snapshot raises instead of reading empty."""
    from pyspark.errors import AnalysisException

    from crime_data_batch_processing_spark.operators.sinks import (
        read_latest_snapshot,
        write_snapshot,
    )

    df = read_crime_csv(spark, crime_csv)
    base = str(tmp_path / "snap")
    write_snapshot(df.limit(100), base, "2022-01-04")
    write_snapshot(df, base, "2022-02-05")
    df.limit(3).write.parquet(f"{base}/y=2022/m=1/stray")
    latest = read_latest_snapshot(spark, base, "2022-02-05")
    assert latest.count() == 400
    assert set(latest.columns) == {f.name for f in CRIME_RAW_SCHEMA.fields}
    with pytest.raises(AnalysisException):
        read_latest_snapshot(spark, base, "2022-02-06")


class TestLatestSnapshotCompat:
    def test_location_pinning_repoints_table(self, spark, sf_dir, tmp_path):
        """O12 compat mode: readers of the unsuffixed table see exactly
        the run whose partition dir is pinned, and a repoint switches
        them to the newer snapshot (spark_ingest_script.py:97-105
        semantics, rebuilt on public DDL)."""
        from crime_data_batch_processing_spark.operators.sinks import (
            pin_latest_table,
            write_snapshot,
        )
        from crime_data_batch_processing_spark.sources.tables import load_table

        base = str(tmp_path / "orders_snap")
        orders = load_table(spark, sf_dir, "orders")
        stale = orders.filter("o_orderstatus = 'F'")
        d1 = write_snapshot(stale, base, "2026-08-12")
        d2 = write_snapshot(orders, base, "2026-08-13")
        tbl = "cdbp_orders_latest_compat"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        pin_latest_table(spark, tbl, d1)
        assert spark.table(tbl).count() == stale.count()
        pin_latest_table(spark, tbl, d2)  # ALTER path
        spark.sql(f"REFRESH TABLE {tbl}")
        assert spark.table(tbl).count() == orders.count()
        spark.sql(f"DROP TABLE {tbl}")
