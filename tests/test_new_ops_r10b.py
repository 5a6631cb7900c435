"""Closed-form pins for the second and third r10 operator waves."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import all_queries

SF = "/root/testdata/sf0.001"

QUERIES = None


def _q():
    global QUERIES
    if QUERIES is None:
        QUERIES = all_queries()
    return QUERIES


def test_seasonality_strength_planted_periodic_and_flat(spark, tmp_path):
    """A perfectly weekly-periodic hourly series has R² = 1; a flat
    series has R² = 0 (SSB = 0 with SST > 0 needs variation — use a
    series whose variance is entirely WITHIN hour-of-week groups)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # type 'periodic': hour-of-week h gets (h % 7) + 1 events, for 3 weeks
    for week in range(3):
        for h in range(168):
            for _ in range((h % 7) + 1):
                rows.append(
                    (
                        eid,
                        base + datetime.timedelta(hours=week * 168 + h),
                        1,
                        "periodic",
                        0.0,
                        "{}",
                    )
                )
                eid += 1
    # type 'anti': week w gets w+1 events in hour 0 of the week —
    # same group each time, variance entirely within the group
    for week in range(3):
        for _ in range(week + 1):
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(hours=week * 168),
                    2,
                    "anti",
                    0.0,
                    "{}",
                )
            )
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [r[1] for r in rows], pa.timestamp("us")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    out = tmp_path / "sf_season"
    out.mkdir()
    import shutil

    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    pq.write_table(tbl, out / "events.parquet")
    got = {
        r["event_type"]: r["seasonality_r2"]
        for r in _q()["events_seasonality_strength"](
            spark, str(out)
        ).collect()
    }
    # periodic: hour-of-week fully determines the count → R² = 1
    assert got["periodic"] == pytest.approx(1.0, abs=1e-5)
    # anti: all variance within one hour-of-week group → R² = 0
    assert got["anti"] == pytest.approx(0.0, abs=1e-5)


def test_cum_users_curve_ends_at_total(spark):
    rows = _q()["events_cum_users_curve"](spark, SF).collect()
    n_users = duckdb.sql(
        f"SELECT COUNT(DISTINCT user_id) FROM "
        f"read_parquet('{SF}/events.parquet')"
    ).fetchone()[0]
    assert rows[-1]["cum_users"] == n_users
    assert rows[-1]["adoption_share"] == pytest.approx(1.0)
    cums = [r["cum_users"] for r in rows]
    assert cums == sorted(cums)
    assert sum(r["n_new"] for r in rows) == n_users


def test_repeat_rate_reconciles_with_direct_counts(spark):
    rows = _q()["customer_repeat_rate"](spark, SF).collect()
    n_cust, n_rep, n_orders = duckdb.sql(
        f"""
        WITH oc AS (SELECT o_custkey, COUNT(*) n FROM
            read_parquet('{SF}/orders.parquet') GROUP BY 1)
        SELECT COUNT(*), SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END), SUM(n)
        FROM oc
        """
    ).fetchone()
    assert sum(r["n_customers"] for r in rows) == n_cust
    assert sum(r["n_repeat"] for r in rows) == n_rep
    for r in rows:
        assert 0 <= r["repeat_rate"] <= 1
        assert r["avg_orders"] >= 1


def test_prefix_sensitivity_monotone_and_consistent(spark):
    rows = {r["k"]: r for r in
            _q()["prefix_dedup_sensitivity"](spark, SF).collect()}
    ks = sorted(rows)
    # longer prefixes → at least as many distinct keys, no more dups
    for a, b in zip(ks, ks[1:]):
        assert rows[a]["n_prefixes"] <= rows[b]["n_prefixes"]
        assert rows[a]["n_dup_docs"] >= rows[b]["n_dup_docs"]
    # every level covers the whole corpus
    n_docs = {rows[k]["n_docs"] for k in ks}
    assert len(n_docs) == 1
    # k=5 reconciles with doc_prefix_dup_share's per-source counts
    per_source = _q()["doc_prefix_dup_share"](spark, SF).collect()
    assert rows[5]["n_dup_docs"] >= 0
    # prefix groups can span sources, so the global count can only be
    # >= the sum of within-source-visible dups... both derive from the
    # same grp table, so they are exactly equal here:
    assert rows[5]["n_dup_docs"] == sum(
        r["n_prefix_dup"] for r in per_source
    )


def test_freshness_report_counts_and_watermarks(spark):
    rows = {r["table_name"]: r for r in
            _q()["table_freshness_report"](spark, SF).collect()}
    assert set(rows) == {
        "customer", "documents", "events", "lineitem", "orders"
    }
    for t in rows:
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM read_parquet('{SF}/{t}.parquet')"
        ).fetchone()[0]
        assert rows[t]["n_rows"] == n
    assert rows["customer"]["min_ts"] is None
    assert rows["events"]["min_ts"] is not None
    assert rows["events"]["min_ts"] <= rows["events"]["max_ts"]


def test_share_trend_mean_shares_sum_near_one(spark):
    rows = _q()["event_type_share_trend"](spark, SF).collect()
    total = sum(r["mean_share"] for r in rows)
    # y6 integer division truncates up to 1e-6 per (day, type)
    assert total == pytest.approx(1.0, abs=len(rows) * 2e-6)


def test_user_jaccard_bounds_and_direct_check(spark):
    rows = _q()["event_type_user_jaccard"](spark, SF).collect()
    sizes = dict(
        duckdb.sql(
            f"SELECT event_type, COUNT(DISTINCT user_id) FROM "
            f"read_parquet('{SF}/events.parquet') GROUP BY 1"
        ).fetchall()
    )
    assert len(rows) == len(sizes) * (len(sizes) - 1) // 2
    for r in rows:
        assert 0 <= r["user_jaccard"] <= 1
        assert r["n_both"] <= min(sizes[r["type_a"]], sizes[r["type_b"]])


def test_dual_sourcing_shares_partition_the_parts(spark):
    rows = _q()["supplier_dual_sourcing"](spark, SF).collect()
    n_parts = duckdb.sql(
        f"SELECT COUNT(DISTINCT l_partkey) FROM "
        f"read_parquet('{SF}/lineitem.parquet')"
    ).fetchone()[0]
    assert sum(r["n_parts"] for r in rows) == n_parts
    assert sum(r["part_share"] for r in rows) == pytest.approx(1.0)


def test_temperature_weights_sum_to_one_and_compress(spark):
    rows = _q()["source_temperature_weights"](spark, SF).collect()
    assert sum(r["weight_prop"] for r in rows) == pytest.approx(1.0)
    assert sum(r["weight_temp"] for r in rows) == pytest.approx(1.0)
    # τ < 1 compresses: the largest source loses share, the smallest
    # gains
    big = max(rows, key=lambda r: r["n_tokens"])
    small = min(rows, key=lambda r: r["n_tokens"])
    assert big["weight_temp"] < big["weight_prop"]
    assert small["weight_temp"] > small["weight_prop"]


def _events_table(rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _sf_with_events(tmp_path, tbl):
    import shutil

    out = tmp_path / "sf_ev"
    out.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    pq.write_table(tbl, out / "events.parquet")
    return str(out)


def test_active_streaks_planted_islands(spark, tmp_path):
    """User 1: weeks 0-3 contiguous (streak 4).  User 2: weeks 0,2,4
    (streak 1).  User 3: weeks 0,1,5,6,7 (streak 3)."""
    import datetime

    base = datetime.datetime(2024, 1, 4)  # mid-epoch-week anchor
    rows, eid = [], 0
    for uid, weeks in ((1, [0, 1, 2, 3]), (2, [0, 2, 4]),
                      (3, [0, 1, 5, 6, 7])):
        for wk in weeks:
            rows.append(
                (eid, base + datetime.timedelta(weeks=wk), uid,
                 "view", 1.0)
            )
            eid += 1
    sf_dir = _sf_with_events(tmp_path, _events_table(rows))
    got = {
        r["streak_weeks"]: r["n_users"]
        for r in _q()["user_active_streaks"](spark, sf_dir).collect()
    }
    assert got == {1: 1, 3: 1, 4: 1}


def test_benford_planted_single_digit_mass(spark, tmp_path):
    """All values lead with digit 1 → observed_share 1.0 for digit 1,
    deviation = 1 − log10(2); shares across digits always sum to 1 on
    the real fixture."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, "purchase",
         float(v))
        for i, v in enumerate([1.00, 10.50, 123.45, 1999.99, 0.01])
    ]
    sf_dir = _sf_with_events(tmp_path, _events_table(rows))
    got = {
        r["first_digit"]: r
        for r in _q()["events_value_benford"](spark, sf_dir).collect()
    }
    assert set(got) == {1}
    assert got[1]["observed_share"] == pytest.approx(1.0)
    assert got[1]["deviation"] == pytest.approx(1.0 - 0.3010299957)

    real = _q()["events_value_benford"](spark, SF).collect()
    assert sum(r["observed_share"] for r in real) == pytest.approx(1.0)
    for r in real:
        assert r["deviation"] == pytest.approx(
            r["observed_share"] - r["benford_share"]
        )


def _docs_with_extra(tmp_path, extra_rows):
    """sf0.001 documents + planted (doc_id, text, source) rows."""
    import shutil

    base = pq.read_table(f"{SF}/documents.parquet")
    extra = pa.table(
        {
            "doc_id": pa.array([r[0] for r in extra_rows], pa.int64()),
            "text": pa.array([r[1] for r in extra_rows], pa.string()),
            "lang": pa.array(["en"] * len(extra_rows), pa.string()),
            "source": pa.array(
                [r[2] for r in extra_rows], pa.string()
            ),
            "n_chars": pa.array(
                [len(r[1]) for r in extra_rows], pa.int64()
            ),
        }
    )
    planted = pa.concat_tables([base.select(extra.column_names), extra])
    out = tmp_path / "sf_docs"
    out.mkdir()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "embeddings"
    ).split():
        shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    pq.write_table(planted, out / "documents.parquet")
    return str(out)


def test_split_leakage_planted_cross_split_duplicate(spark, tmp_path):
    """The fixture has no exact duplicates, so the fixture pass is
    vacuous (r7 rule) — plant one content in a TRAIN bucket (40000000,
    bucket 63) and a TEST bucket (40000007, bucket 90), plus a same-
    split dup pair (40000001/40000003, both train) that must NOT count
    as leaking."""
    leak_text = "leak me across the split boundary now"
    safe_text = "duplicated but both copies stay in train"
    sf_dir = _docs_with_extra(
        tmp_path,
        [
            (40_000_000, leak_text, "srcL"),
            (40_000_007, leak_text, "srcL"),
            (40_000_001, safe_text, "srcL"),
            (40_000_003, safe_text, "srcL"),
        ],
    )
    row = _q()["split_leakage_check"](spark, sf_dir).collect()[0]
    assert row["n_leaking_groups"] == 1
    assert row["n_leaking_docs"] == 2
    # and the planted table still hash-matches its oracle
    from googlecloudstorage_blueprints_spark.operators import all_oracles
    from tests.parity import duck_con

    con = duck_con(sf_dir)

    orows = con.sql(all_oracles()["split_leakage_check"]).fetchall()
    assert orows[0] == (
        row["n_content_groups"],
        row["n_leaking_groups"],
        row["n_leaking_docs"],
    )


def test_dedup_quality_bias_planted_dropped_docs(spark, tmp_path):
    """Plant a duplicate pair so the 'dropped' row exists: the keeper is
    min(doc_id), the dropped doc carries the same n_chars."""
    text = "the same document body twice over here"
    sf_dir = _docs_with_extra(
        tmp_path,
        [(41_000_000, text, "srcD"), (41_000_001, text, "srcD")],
    )
    rows = {r["status"]: r for r in
            _q()["dedup_quality_bias"](spark, sf_dir).collect()}
    assert rows["dropped"]["n_docs"] == 1
    assert rows["dropped"]["total_chars"] == len(text)
    assert rows["dropped"]["mean_chars"] == pytest.approx(len(text))
    assert rows["kept"]["n_docs"] == 501


def test_markov_attribution_planted_two_path_chain(spark, tmp_path):
    """Hand-derived chain: journeys A→purchase, B→purchase, A→(drop).
    P(START→A)=2/3, P(START→B)=1/3, P(A→purchase)=1/2, P(B→purchase)=1;
    base conversion 2/3; removing A or B each leaves 1/3 → removal
    effects 1/2 and 1/2, attribution 50/50."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows, eid = [], 0
    journeys = [
        (1, ["A", "purchase"]),
        (2, ["B", "purchase"]),
        (3, ["A"]),
    ]
    for uid, types in journeys:
        for i, ty in enumerate(types):
            rows.append(
                (eid, base + datetime.timedelta(minutes=i), uid, ty, 1.0)
            )
            eid += 1
    sf_dir = _sf_with_events(tmp_path, _events_table(rows))
    got = {
        r["state"]: r
        for r in _q()["events_attribution_markov"](
            spark, sf_dir
        ).collect()
    }
    assert set(got) == {"A", "B"}
    assert got["A"]["base_conversion"] == pytest.approx(2 / 3, abs=1e-6)
    assert got["A"]["removal_effect"] == pytest.approx(0.5, abs=1e-6)
    assert got["B"]["removal_effect"] == pytest.approx(0.5, abs=1e-6)
    assert got["A"]["attribution_share"] == pytest.approx(0.5, abs=1e-6)
    assert got["B"]["attribution_share"] == pytest.approx(0.5, abs=1e-6)


def test_markov_attribution_fixture_sanity(spark):
    rows = _q()["events_attribution_markov"](spark, SF).collect()
    assert len(rows) > 0
    shares = [r["attribution_share"] for r in rows]
    assert sum(shares) == pytest.approx(1.0, abs=1e-4)
    for r in rows:
        assert 0 <= r["base_conversion"] <= 1


def test_peak_concurrency_planted_triple_overlap(spark, tmp_path):
    """u1 [0,10], u2 [5,15], u3 [8,20] (minutes): all three overlap in
    [8,10] → peak 3, first reached at minute 8."""
    import datetime

    base = datetime.datetime(2024, 3, 1)

    def mins(m):
        return base + datetime.timedelta(minutes=m)

    rows = [
        (1, mins(0), 1, "view", 1.0), (2, mins(10), 1, "view", 1.0),
        (3, mins(5), 2, "view", 1.0), (4, mins(15), 2, "view", 1.0),
        (5, mins(8), 3, "view", 1.0), (6, mins(20), 3, "view", 1.0),
    ]
    sf_dir = _sf_with_events(tmp_path, _events_table(rows))
    row = _q()["sessions_peak_concurrency"](spark, sf_dir).collect()[0]
    assert row["peak_concurrency"] == 3
    import calendar

    expect_us = int(
        calendar.timegm(mins(8).timetuple())
    ) * 1_000_000
    assert row["at_us"] == expect_us


def test_orders_date_gaps_planted_calendar_holes(spark, tmp_path):
    """Order days {0,1,2,5,9,10} relative to an anchor → 6 present,
    5 missing, 2 gaps, longest 3 (days 6-8)."""
    import datetime
    import shutil

    base = pq.read_table(f"{SF}/orders.parquet")
    anchor = datetime.datetime(2030, 1, 1)
    days = [0, 1, 2, 5, 9, 10]
    tbl = pa.table(
        {
            "o_orderkey": pa.array(range(1, len(days) + 1), pa.int64()),
            "o_custkey": pa.array([1] * len(days), pa.int64()),
            "o_orderstatus": pa.array(["F"] * len(days), pa.string()),
            "o_totalprice": pa.array([100.0] * len(days), pa.float64()),
            "o_orderdate": pa.array(
                [anchor + datetime.timedelta(days=d) for d in days],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT"] * len(days), pa.string()
            ),
        }
    )
    out = tmp_path / "sf_gap"
    out.mkdir()
    for t in (
        "region nation customer supplier part lineitem events "
        "documents embeddings"
    ).split():
        shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    pq.write_table(tbl.select(base.column_names), out / "orders.parquet")
    row = _q()["orders_date_gaps"](spark, str(out)).collect()[0]
    assert row["n_days_present"] == 6
    assert row["n_days_missing"] == 5
    assert row["n_gaps"] == 2
    assert row["longest_gap_days"] == 3
