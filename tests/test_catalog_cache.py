"""Catalog plan cache: same session reuses the analyzed plan, the events
ts conversion survives caching, and cached plans still re-scan files
lazily (only listing + schema are frozen, never data)."""

from __future__ import annotations

from googlecloudstorage_blueprints_spark.sources.catalog import (
    _PLAN_CACHE,
    load_table,
)

SF = "/root/testdata/sf0.001"


def test_same_session_returns_same_plan(spark):
    a = load_table(spark, SF, "lineitem")
    b = load_table(spark, SF, "lineitem")
    assert a is b


def test_cache_keyed_by_sf_dir(spark):
    a = load_table(spark, SF, "nation")
    b = load_table(spark, "/root/testdata/sf0.01", "nation")
    assert a is not b
    assert a.count() != b.count() or a.count() == 25  # distinct datasets


def test_events_ts_conversion_cached(spark):
    ev = load_table(spark, SF, "events")
    assert dict(ev.dtypes)["ts"] == "timestamp"
    assert load_table(spark, SF, "events") is ev


def test_cache_entries_scoped_to_live_app(spark):
    load_table(spark, SF, "region")
    app = spark.sparkContext.applicationId
    assert all(k[0] == app for k in _PLAN_CACHE)


def test_operator_wrapper_normalizes_hostile_session_timezone(spark):
    """The correctness driver hands the engine ITS OWN session, possibly
    with a non-UTC session timezone; every registered operator's wrapper
    must apply the runtime-conf normalization before planning, or all
    timestamp math diverges from the UTC-based DuckDB oracles.  Pin it:
    poison the session tz, run a timestamp-heavy operator through the
    REGISTRY wrapper, and hash-compare against the oracle."""
    from googlecloudstorage_blueprints_spark.operators import (
        all_oracles,
        all_queries,
    )
    from tests.parity import canon_rows, duck_con

    sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        sdf = all_queries()["latest_snapshot"](spark, sf)
        # the wrapper must have reset the conf before planning
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        spark_rows = [tuple(r) for r in sdf.collect()]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    with duck_con(sf) as con:
        res = con.execute(all_oracles()["latest_snapshot"])
        duck_cols = [d[0] for d in res.description]
        duck_rows = res.fetchall()
    assert canon_rows(sdf.columns, spark_rows) == canon_rows(
        duck_cols, duck_rows
    ), "hostile-timezone session diverged from the UTC oracle"
