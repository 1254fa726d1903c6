"""Differential correctness: every registered query vs its DuckDB oracle.

This is the engine's sqllogictest (SURVEY.md §5.2): each `queries()`
entry with an oracle is executed by both engines on the same sf0.001
parquet and compared (count + columns + order-insensitive values).
Every registered query MUST carry an oracle — asserted below — so the
rows-only fallback path is intentionally untestable here.
"""

from __future__ import annotations

import pytest

from crime_data_batch_processing_spark import registry

registry.load_all_operators()

from tests.oracle_harness import compare, duck_connection  # noqa: E402

ORACLE_KEYS = sorted(registry.ORACLES)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


#: Read settings a key sets session-wide on purpose: both are read at
#: execution time, and the driver hands the library a bare session.
SESSION_WIDE_CONF = frozenset({
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.python.filterPushdown.enabled",
})


def _scoped_view(spark) -> dict[str, str]:
    return {
        k: v for k, v in spark.conf.getAll.items() if k not in SESSION_WIDE_CONF
    }


@pytest.fixture(autouse=True)
def _release_caches(spark):
    """Unpersist each query's tracked signature/corpus caches after the
    comparison consumed the result (cachekit contract), and check that
    the test left the session conf as it found it."""
    before = _scoped_view(spark)
    yield
    from crime_data_batch_processing_spark import cachekit

    cachekit.release_all()
    assert _scoped_view(spark) == before


def test_scoped_conf_restores_unsets_and_survives_errors(spark):
    from crime_data_batch_processing_spark.session import scoped_conf

    set_key, absent_key = "spark.sql.shuffle.partitions", "cdbp.test.absent"
    prev = spark.conf.get(set_key)
    with scoped_conf(spark, {set_key: "3", absent_key: "x"}):
        assert spark.conf.get(set_key) == "3"
        assert spark.conf.get(absent_key) == "x"
    assert spark.conf.get(set_key) == prev
    assert spark.conf.get(absent_key, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "5"}):
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == prev


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_query_matches_oracle(spark, sf_dir, duck, key):
    df = registry.QUERIES[key](spark, sf_dir)
    compare(df, duck, registry.ORACLES[key])


def test_every_query_carries_an_oracle():
    """100% strict-oracle coverage is a deliberate invariant: a future
    key registered without DuckDB SQL would silently fall to the
    driver's weaker rows-only check. Fail loudly instead; if a
    genuinely non-SQL-expressible key ever lands, allowlist it here
    with a comment explaining why no oracle can exist."""
    assert set(registry.QUERIES) == set(registry.ORACLES), (
        f"oracle-less keys: {sorted(set(registry.QUERIES) - set(registry.ORACLES))}"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    out = e.entry(spark)
    assert out.count() > 0
    assert set(out.columns) == {"o_orderpriority", "order_count"}


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())


@pytest.mark.parametrize("key", sorted(registry.QUERIES))
def test_query_returns_rows(spark, sf_dir, key):
    """Every registered query must return at least one row at test
    scale — a 0-row result matching an equally-empty oracle is a
    VACUOUS pass (a symmetric bug zeroes both sides; round 4's
    cluster-assignment key shipped exactly that way until caught).
    No registered key legitimately returns an empty frame on this
    testdata; if one ever should, allowlist it here explicitly."""
    assert registry.QUERIES[key](spark, sf_dir).count() > 0, (
        f"{key} returned 0 rows — vacuous-oracle hazard"
    )
