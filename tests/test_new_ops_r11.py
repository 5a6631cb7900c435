"""Closed-form semantic pins for the r11 operator wave (wave 1-2).

Oracle parity proves Spark == DuckDB; these prove both == the MATH, on
planted inputs with known answers — and give the
clean-at-fixture audit op (``events_duplicate_check``: every
multiplicity is 1 on synthetic µs timestamps) the planted-DELTA test
the r7 zero-signal rule demands.

- Duplicate check planted: a double-fired click and a triple-fired view
  produce exactly the extra-row/multiplicity counters, cross-engine.
- Gap survival planted: gaps of 0/2/8 days → exceed counts 2/1/1 at
  thresholds 1/3/7.
- WoW growth planted: a silent middle week appears as an explicit zero
  and the following week's ratio is NULL (never inf).
- Entropy buckets planted: a single-type user lands in bucket 0 with
  e6 = 0; a uniform two-type user at ln2 (e6 = 693147, bucket 3).
- Status matrix / percentiles / premium / YoY: closed-form consistency
  on the real fixture (shares sum to 1, quantiles monotone, weighted
  premium reconstructs the global mean, YoY recomputes from revenue).
- Corr planted: spend ≡ balance (whole dollars) → Pearson exactly 1.0
  per segment, cross-engine.
"""

from __future__ import annotations

import datetime
import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from googlecloudstorage_blueprints_spark.sources.catalog import TABLES
from tests.parity import assert_parity, compare

SF = "/root/testdata/sf0.001"

QUERIES = None

BASE = datetime.datetime(2024, 1, 1)


def _q():
    global QUERIES
    if QUERIES is None:
        QUERIES = all_queries()
    return QUERIES


def _planted_dir(tmp_path, replace: dict):
    out = tmp_path / "sf_planted"
    out.mkdir()
    for t in TABLES:
        if t in replace:
            pq.write_table(replace[t], out / f"{t}.parquet")
        else:
            shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    return str(out)


def _events_table(rows):
    """rows: (event_id, ts, user_id, event_type, value)"""
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(
                [r[3] for r in rows], pa.string()
            ),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def test_events_duplicate_check_planted_delta(spark, tmp_path):
    """A double-fired click and a triple-fired view produce exactly the
    extra-row counters; the clean type reports zeros (the fixture-wide
    all-zeros output is meaningful only because this delta pins the
    counters)."""
    t0 = BASE
    rows = [
        (1, t0, 10, "click", 0.0),
        (2, t0, 10, "click", 0.0),                       # dup of 1
        (3, t0 + datetime.timedelta(hours=1), 10, "click", 0.0),
        (4, t0, 20, "view", 0.0),
        (5, t0, 20, "view", 0.0),                        # dup of 4
        (6, t0, 20, "view", 0.0),                        # dup of 4
        (7, t0, 30, "purchase", 5.0),
    ]
    sf = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got = {
        r["event_type"]: r
        for r in _q()["events_duplicate_check"](spark, sf).collect()
    }
    assert got["click"]["n_groups"] == 2
    assert got["click"]["n_dup_groups"] == 1
    assert got["click"]["n_extra_rows"] == 1
    assert got["click"]["max_multiplicity"] == 2
    assert got["view"]["n_dup_groups"] == 1
    assert got["view"]["n_extra_rows"] == 2
    assert got["view"]["max_multiplicity"] == 3
    assert got["purchase"]["n_dup_groups"] == 0
    assert got["purchase"]["max_multiplicity"] == 1
    name = "events_duplicate_check"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_user_gap_survival_planted_gaps(spark, tmp_path):
    """One user, gaps of 0/2/8 whole days → exceed counts 2/1/1 at the
    1/3/7-day thresholds, exact shares."""
    rows = [
        (1, BASE, 1, "click", 0.0),
        (2, BASE + datetime.timedelta(hours=2), 1, "click", 0.0),
        (3, BASE + datetime.timedelta(days=2, hours=2), 1, "click", 0.0),
        (4, BASE + datetime.timedelta(days=10, hours=3), 1, "click", 0.0),
    ]
    sf = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got = {
        r["threshold_days"]: r
        for r in _q()["user_gap_survival"](spark, sf).collect()
    }
    assert all(got[t]["n_gaps"] == 3 for t in (1, 3, 7))
    assert got[1]["n_exceed"] == 2
    assert got[3]["n_exceed"] == 1
    assert got[7]["n_exceed"] == 1
    assert got[1]["survival_share"] == pytest.approx(2 / 3)
    name = "user_gap_survival"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_events_wow_growth_silent_week_zero_then_null(
    spark, tmp_path
):
    """Weeks 0 and 2 active, week 1 silent: the spine materializes the
    zero, week 1's ratio is 0.0, week 2's is NULL (0 denominator) —
    never an infinity."""
    wk = datetime.timedelta(days=7)
    rows = [
        (1, BASE, 1, "click", 0.0),
        (2, BASE + datetime.timedelta(hours=1), 2, "click", 0.0),
        (3, BASE + 2 * wk, 1, "click", 0.0),
    ]
    sf = _planted_dir(tmp_path, {"events": _events_table(rows)})
    out = _q()["events_wow_growth"](spark, sf).collect()
    assert len(out) == 3
    by_week = {r["epoch_week"] - out[0]["epoch_week"]: r for r in out}
    assert by_week[0]["n_events"] == 2 and by_week[0]["wow_ratio"] is None
    assert by_week[1]["n_events"] == 0 and by_week[1]["wow_ratio"] == 0.0
    assert by_week[2]["n_events"] == 1 and by_week[2]["wow_ratio"] is None
    name = "events_wow_growth"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_user_entropy_buckets_closed_form(spark, tmp_path):
    """User 1: one type → entropy 0, bucket 0.  User 2: 2+2 events over
    two types → ln 2 = 0.693147 nats → e6 693147, bucket 3."""
    rows = [
        (1, BASE, 1, "click", 0.0),
        (2, BASE + datetime.timedelta(hours=1), 1, "click", 0.0),
        (3, BASE, 2, "click", 0.0),
        (4, BASE + datetime.timedelta(hours=1), 2, "click", 0.0),
        (5, BASE + datetime.timedelta(hours=2), 2, "view", 0.0),
        (6, BASE + datetime.timedelta(hours=3), 2, "view", 0.0),
    ]
    sf = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got = {
        r["entropy_bucket"]: r
        for r in _q()["user_entropy_buckets"](spark, sf).collect()
    }
    assert set(got) == {0, 3}
    assert got[0]["n_users"] == 1 and got[0]["max_entropy_e6"] == 0
    assert got[3]["n_users"] == 1
    assert got[3]["min_entropy_e6"] == 693147
    assert got[3]["avg_events_per_user"] == pytest.approx(4.0)
    name = "user_entropy_buckets"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_order_line_status_matrix_shares_sum_to_one(spark):
    rows = _q()["order_line_status_matrix"](spark, SF).collect()
    assert len(rows) > 0
    assert sum(r["line_share"] for r in rows) == pytest.approx(1.0)
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/lineitem.parquet') l "
        f"JOIN read_parquet('{SF}/orders.parquet') o "
        f"ON o.o_orderkey = l.l_orderkey"
    ).fetchone()[0]
    assert sum(r["n_lines"] for r in rows) == n


def test_order_value_percentiles_monotone(spark):
    for r in _q()["order_value_percentiles"](spark, SF).collect():
        assert (
            r["p25_value"]
            <= r["p50_value"]
            <= r["p75_value"]
            <= r["p99_value"]
        )
        assert r["n_orders"] > 0


def test_ship_latency_quarterly_consistent(spark):
    """mean × count reconstructs the exact integer total (the synthetic
    fixture contains ship-before-order rows, so negative latency is
    legitimate data here, not an op bug)."""
    rows = _q()["ship_latency_quarterly"](spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["total_lat_days"] == pytest.approx(
            r["avg_lat_days"] * r["n_lines"], rel=1e-9, abs=1e-6
        )
        assert r["n_lines"] > 0


def test_part_type_price_premium_reconstructs_global_mean(spark):
    """Weighted mean of avg_price over types == global mean price, and
    premium-weighted part counts normalize to 1."""
    rows = _q()["part_type_price_premium"](spark, SF).collect()
    n_tot = sum(r["n_parts"] for r in rows)
    mean_global = (
        sum(r["avg_price"] * r["n_parts"] for r in rows) / n_tot
    )
    w_premium = (
        sum(r["premium_ratio"] * r["n_parts"] * 1.0 for r in rows)
        / n_tot
    )
    for r in rows:
        assert r["avg_price"] / mean_global == pytest.approx(
            r["premium_ratio"], rel=1e-9
        )
    assert w_premium == pytest.approx(1.0, rel=1e-9)


def test_nation_revenue_yoy_recomputes_ratio(spark):
    rows = _q()["nation_revenue_yoy"](spark, SF).collect()
    assert len(rows) > 0
    prev = {}
    for r in rows:  # already ordered (nation, year)
        key = r["n_name"]
        if key in prev and prev[key][0] == r["yr"] - 1:
            p = prev[key][1]
            if p != 0:
                assert r["yoy_ratio"] == pytest.approx(
                    r["revenue"] / p
                )
        prev[key] = (r["yr"], r["revenue"])


def test_segment_balance_spend_corr_planted_perfect(spark, tmp_path):
    """Spend ≡ balance (whole dollars, two customers per segment with
    distinct values) → Pearson exactly 1.0 per segment on both
    engines."""
    custs = [
        (1, "a", 0, 100.0, "SEG1"),
        (2, "b", 0, 300.0, "SEG1"),
        (3, "c", 0, 50.0, "SEG2"),
        (4, "d", 0, 250.0, "SEG2"),
    ]
    customer = pa.table(
        {
            "c_custkey": pa.array([c[0] for c in custs], pa.int64()),
            "c_name": pa.array([c[1] for c in custs], pa.string()),
            "c_nationkey": pa.array(
                [c[2] for c in custs], pa.int32()
            ),
            "c_acctbal": pa.array(
                [c[3] for c in custs], pa.float64()
            ),
            "c_mktsegment": pa.array(
                [c[4] for c in custs], pa.string()
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array([1, 2, 3, 4], pa.int64()),
            "o_custkey": pa.array([1, 2, 3, 4], pa.int64()),
            "o_orderstatus": pa.array(["F"] * 4, pa.string()),
            "o_totalprice": pa.array(
                [c[3] for c in custs], pa.float64()
            ),
            "o_orderdate": pa.array(
                [BASE] * 4, pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT"] * 4, pa.string()
            ),
        }
    )
    sf = _planted_dir(
        tmp_path, {"customer": customer, "orders": orders}
    )
    got = {
        r["c_mktsegment"]: r["balance_spend_corr"]
        for r in _q()["segment_balance_spend_corr"](
            spark, sf
        ).collect()
    }
    assert got["SEG1"] == pytest.approx(1.0)
    assert got["SEG2"] == pytest.approx(1.0)
    name = "segment_balance_spend_corr"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_events_hourly_load_percentiles_closed_form(spark, tmp_path):
    """3 active hours with loads 1/2/3 → p50 = 2, max = 3, n_hours = 3
    (zero hours absent by contract)."""
    rows = [
        (1, BASE, 1, "click", 0.0),
        (2, BASE + datetime.timedelta(hours=1), 1, "click", 0.0),
        (3, BASE + datetime.timedelta(hours=1, minutes=5), 2, "click", 0.0),
        (4, BASE + datetime.timedelta(hours=5), 1, "click", 0.0),
        (5, BASE + datetime.timedelta(hours=5, minutes=1), 2, "click", 0.0),
        (6, BASE + datetime.timedelta(hours=5, minutes=2), 3, "click", 0.0),
    ]
    sf = _planted_dir(tmp_path, {"events": _events_table(rows)})
    (r,) = _q()["events_hourly_load_percentiles"](
        spark, sf
    ).collect()
    assert r["n_hours"] == 3 and r["max_load"] == 3
    assert r["p50_load"] == pytest.approx(2.0)
    name = "events_hourly_load_percentiles"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def _documents_table(rows):
    """rows: (doc_id, text, lang, source)"""
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) for r in rows], pa.int64()
            ),
        }
    )


def test_doc_repeated_token_runs_planted_loop(spark, tmp_path):
    """'a a a b' has a 3-run (flagged); 'a b a b' alternates (longest
    run 1, not flagged) — non-adjacent repeats never count."""
    docs = _documents_table(
        [
            (1, "a a a b", "en", "sA"),
            (2, "a b a b", "en", "sA"),
            (3, "x y z", "en", "sB"),
        ]
    )
    sf = _planted_dir(tmp_path, {"documents": docs})
    got = {
        r["source"]: r
        for r in _q()["doc_repeated_token_runs"](spark, sf).collect()
    }
    assert got["sA"]["longest_run"] == 3
    assert got["sA"]["n_docs_looping"] == 1
    assert got["sA"]["looping_share"] == pytest.approx(0.5)
    assert got["sB"]["longest_run"] == 1
    assert got["sB"]["n_docs_looping"] == 0
    name = "doc_repeated_token_runs"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_doc_first_token_profile_planted_template(spark, tmp_path):
    """A source whose docs all open with the same token concentrates to
    share 1.0; a diverse source splits."""
    docs = _documents_table(
        [
            (1, "header one two", "en", "tmpl"),
            (2, "header three four", "en", "tmpl"),
            (3, "alpha one", "en", "mix"),
            (4, "beta two", "en", "mix"),
        ]
    )
    sf = _planted_dir(tmp_path, {"documents": docs})
    got = {
        r["source"]: r
        for r in _q()["doc_first_token_profile"](spark, sf).collect()
    }
    assert got["tmpl"]["top_first_token"] == "header"
    assert got["tmpl"]["top_share"] == pytest.approx(1.0)
    assert got["tmpl"]["n_distinct_first"] == 1
    assert got["mix"]["top_share"] == pytest.approx(0.5)
    # deterministic tiebreak: (cnt DESC, tok ASC) -> 'alpha'
    assert got["mix"]["top_first_token"] == "alpha"
    name = "doc_first_token_profile"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_length_curriculum_stages_partitions_and_cumulates(spark):
    rows = _q()["length_curriculum_stages"](spark, SF).collect()
    assert [r["stage"] for r in rows] == sorted(
        r["stage"] for r in rows
    )
    assert sum(r["char_share"] for r in rows) == pytest.approx(1.0)
    assert rows[-1]["cum_char_share"] == pytest.approx(1.0)
    cum = 0.0
    for r in rows:
        cum += r["char_share"]
        assert r["cum_char_share"] == pytest.approx(cum)
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/documents.parquet') "
        f"WHERE text IS NOT NULL"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in rows) == n


def _embeddings_table(vecs, labels=None):
    n = len(vecs)
    return pa.table(
        {
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [[float(x) for x in v] for v in vecs],
                pa.list_(pa.float32()),
            ),
            "label": pa.array(
                labels if labels is not None else [0] * n,
                pa.int32(),
            ),
        }
    )


def test_embedding_pc1_spectrum_planted_anisotropy(spark, tmp_path):
    """All variance on one axis → PC1 share ≈ 1; isotropic noise →
    PC1 share near 1/d (well under the collapse regime)."""
    import numpy as np

    rng = np.random.RandomState(7)
    d = 16
    aniso = np.zeros((120, d))
    aniso[:, 3] = rng.randn(120) * 10.0
    aniso += rng.randn(120, d) * 0.01
    sf = _planted_dir(
        tmp_path, {"embeddings": _embeddings_table(aniso)}
    )
    (r,) = _q()["embedding_pc1_spectrum"](spark, sf).collect()
    assert r["n_vectors"] == 120 and r["dim"] == d
    assert r["pc1_share"] > 0.999
    assert r["top5_share"] >= r["pc1_share"]

    iso_dir = tmp_path / "iso"
    iso_dir.mkdir()
    iso = rng.randn(200, d)
    for t in TABLES:
        if t == "embeddings":
            pq.write_table(
                _embeddings_table(iso), iso_dir / "embeddings.parquet"
            )
        else:
            shutil.copy(f"{SF}/{t}.parquet", iso_dir / f"{t}.parquet")
    (r2,) = _q()["embedding_pc1_spectrum"](
        spark, str(iso_dir)
    ).collect()
    assert r2["pc1_share"] < 0.2
    assert r2["top5_share"] < 0.6


def test_embedding_pc1_spectrum_deterministic(spark):
    a = _q()["embedding_pc1_spectrum"](spark, SF).collect()[0]
    b = _q()["embedding_pc1_spectrum"](spark, SF).collect()[0]
    assert a == b
    assert 0.0 < a["pc1_share"] <= a["top5_share"] <= 1.0


def test_weekly_conversion_trend_reconciles_with_wow(spark):
    """Weekly purchase counts must equal events_wow_growth's purchase
    row on the same integer-week keys, and buyers never exceed
    actives."""
    conv = {
        r["epoch_week"]: r
        for r in _q()["weekly_conversion_trend"](spark, SF).collect()
    }
    wow = {
        r["epoch_week"]: r["n_events"]
        for r in _q()["events_wow_growth"](spark, SF).collect()
        if r["event_type"] == "purchase"
    }
    assert set(conv) <= set(wow)
    for wk, r in conv.items():
        assert r["n_purchases"] == wow[wk]
        assert 0 < r["n_buyers"] <= r["n_active"]
        assert r["conversion_share"] == pytest.approx(
            r["n_buyers"] / r["n_active"]
        )


def test_length_interaction_devs_match_closed_form(spark):
    """Every interaction deviation equals the pure-Python recomputation
    cell_mean − lang_mean − source_mean + grand_mean from the raw
    parquet.  (Weighted devs do NOT cancel per row/column on an
    unbalanced design — this means-decomposition is a screen, not a
    least-squares ANOVA fit — so the pin is the exact formula.)"""
    import collections

    import duckdb

    cells = {}
    n = collections.Counter()
    chars = collections.Counter()
    for lang, src, nd, ch in duckdb.sql(
        f"""SELECT lang, source, COUNT(*), SUM(n_chars)
            FROM read_parquet('{SF}/documents.parquet')
            WHERE text IS NOT NULL GROUP BY lang, source"""
    ).fetchall():
        cells[(lang, src)] = (nd, ch)
        n[("l", lang)] += nd
        n[("s", src)] += nd
        n["g"] += nd
        chars[("l", lang)] += ch
        chars[("s", src)] += ch
        chars["g"] += ch
    rows = _q()["length_lang_source_interaction"](spark, SF).collect()
    assert len(rows) == len(cells)
    for r in rows:
        nd, ch = cells[(r["lang"], r["source"])]
        assert r["n_docs"] == nd
        want = (
            ch / nd
            - chars[("l", r["lang"])] / n[("l", r["lang"])]
            - chars[("s", r["source"])] / n[("s", r["source"])]
            + chars["g"] / n["g"]
        )
        assert r["interaction_dev"] == pytest.approx(want, abs=1e-9)


def test_supplier_balance_quartiles_partition_and_share(spark):
    rows = _q()["supplier_balance_quartiles"](spark, SF).collect()
    assert [r["quartile"] for r in rows] == [0, 1, 2, 3]
    import duckdb

    n_sup = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{SF}/supplier.parquet')"
    ).fetchone()[0]
    assert sum(r["n_suppliers"] for r in rows) == n_sup
    assert sum(r["revenue_share"] for r in rows) == pytest.approx(1.0)
    # quartile sizes differ by at most 1 (explicit div formula)
    sizes = [r["n_suppliers"] for r in rows]
    assert max(sizes) - min(sizes) <= 1


def test_sessionize_gap_sensitivity_closed_form(spark, tmp_path):
    """Two users, gaps of exactly 15 min (must NOT break a 15-min sweep
    row: the rule is STRICTLY greater) and 45 min: sessions = 3/3/2 at
    15/30/60 min, and both engines agree on the planted corpus."""
    m = 60_000_000  # µs per minute
    rows = [
        (1, BASE, 1, "view", 1.0),
        (2, BASE + datetime.timedelta(microseconds=15 * m), 1, "view", 1.0),
        (3, BASE + datetime.timedelta(microseconds=60 * m), 1, "view", 1.0),
        (4, BASE, 2, "view", 1.0),
    ]
    sf = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got = {
        r["gap_minutes"]: r
        for r in _q()["sessionize_gap_sensitivity"](spark, sf).collect()
    }
    # user 1 gaps: 15 min (ties 15-min threshold), 45 min; user 2: none
    assert got[15]["n_sessions"] == 3  # 45' breaks, 15' tie does NOT
    assert got[30]["n_sessions"] == 3
    assert got[60]["n_sessions"] == 2
    assert got[15]["events_per_session"] == pytest.approx(4 / 3)
    assert got[60]["events_per_session"] == pytest.approx(2.0)
    name = "sessionize_gap_sensitivity"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_source_lang_entropy_closed_form(spark, tmp_path):
    """A monolingual source reads entropy 0; a 50/50 two-language
    source reads exactly round(ln 2 × 1e6) = 693147 with the modal
    language broken lexicographically — and both engines agree."""
    docs = _documents_table(
        [
            (1, "t1", "en", "mono"),
            (2, "t2", "en", "mono"),
            (3, "t3", "en", "mono"),
            (4, "t4", "en", "mono"),
            (5, "t5", "fr", "duo"),
            (6, "t6", "en", "duo"),
            (7, "t7", "fr", "duo"),
            (8, "t8", "en", "duo"),
        ]
    )
    sf = _planted_dir(tmp_path, {"documents": docs})
    got = {
        r["source"]: r
        for r in _q()["source_lang_entropy"](spark, sf).collect()
    }
    assert got["mono"]["entropy_e6"] == 0
    assert got["mono"]["n_langs"] == 1
    assert got["mono"]["top_lang"] == "en"
    assert got["mono"]["top_lang_share"] == pytest.approx(1.0)
    assert got["duo"]["entropy_e6"] == 693147  # round(ln(2)*1e6)
    assert got["duo"]["top_lang"] == "en"  # tied count, lexicographic
    assert got["duo"]["top_lang_share"] == pytest.approx(0.5)
    name = "source_lang_entropy"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_dedup_threshold_sensitivity_planted_mid_jaccard(spark, tmp_path):
    """Fixture near-dup pairs all sit above 0.9, so the sweep rows are
    identical — plant a pair at Jaccard 17/19 ≈ 0.895 (20-word doc vs
    the same doc with the last word swapped: 17 of 19 distinct
    3-shingles shared) and prove it flips between the 80% and 90% rows,
    with the pure-BIGINT threshold test agreeing across engines."""
    words = [f"a{i}" for i in range(1, 21)]
    doc_a = " ".join(words)
    doc_b = " ".join(words[:-1] + ["zz"])
    doc_c = " ".join(words[:10] + [f"c{i}" for i in range(10)])
    docs = _documents_table(
        [
            (1, doc_a, "en", "s1"),
            (2, doc_b, "en", "s1"),
            (3, doc_c, "en", "s1"),
            (4, "x y z p q r", "en", "s1"),
        ]
    )
    sf = _planted_dir(tmp_path, {"documents": docs})
    got = {
        r["threshold_pct"]: r
        for r in _q()["dedup_threshold_sensitivity"](spark, sf).collect()
    }
    for t in (50, 60, 70, 80):
        assert got[t]["n_pairs"] == 1, t
        assert got[t]["n_docs_flagged"] == 1
        assert got[t]["flagged_share"] == pytest.approx(0.25)
    assert got[90]["n_pairs"] == 0  # 17*100 < 90*19
    assert got[90]["n_docs_flagged"] == 0
    assert got[90]["flagged_share"] == 0.0
    name = "dedup_threshold_sensitivity"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_tokenizer_fertility_closed_form(spark, tmp_path):
    """'ab cd12 x' = 9 chars, 3 ws tokens, 4 bpe tokens (ab, cd, 12,
    x) → chars/bpe = 2.25 and bpe/ws = 4/3 exactly; an empty-text cell
    NULLIF-guards to NULL on both engines."""
    docs = _documents_table(
        [
            (1, "ab cd12 x", "en", "s1"),
            (2, "", "xx", "s2"),
        ]
    )
    sf = _planted_dir(tmp_path, {"documents": docs})
    got = {
        (r["lang"], r["source"]): r
        for r in _q()["tokenizer_fertility_by_lang"](spark, sf).collect()
    }
    en = got[("en", "s1")]
    assert en["sum_chars"] == 9
    assert en["sum_ws_tokens"] == 3
    assert en["sum_bpe_tokens"] == 4
    assert en["chars_per_bpe_token"] == pytest.approx(2.25)
    assert en["bpe_per_ws_token"] == pytest.approx(4 / 3)
    xx = got[("xx", "s2")]
    assert xx["sum_bpe_tokens"] == 0
    assert xx["chars_per_bpe_token"] is None  # NULLIF, not inf
    name = "tokenizer_fertility_by_lang"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)


def test_context_window_coverage_closed_form(spark, tmp_path):
    """Docs of 10/40/100 bpe tokens against the 32/64/128 windows:
    fit counts 1/2/3 and kept tokens 10+32+32 / 10+40+64 / 150 — the
    truncate-at-window ledger, identical on both engines."""
    def words(n):
        return " ".join("w" for _ in range(n))

    docs = _documents_table(
        [
            (1, words(10), "en", "s1"),
            (2, words(40), "en", "s1"),
            (3, words(100), "en", "s1"),
        ]
    )
    sf = _planted_dir(tmp_path, {"documents": docs})
    got = {
        r["window_tokens"]: r
        for r in _q()["doc_context_window_coverage"](spark, sf).collect()
    }
    assert got[32]["n_docs_fit"] == 1
    assert got[64]["n_docs_fit"] == 2
    assert got[128]["n_docs_fit"] == 3
    assert got[32]["kept_tokens"] == 10 + 32 + 32
    assert got[64]["kept_tokens"] == 10 + 40 + 64
    assert got[128]["kept_tokens"] == 150
    assert got[128]["kept_share"] == pytest.approx(1.0)
    assert got[32]["fit_share"] == pytest.approx(1 / 3)
    name = "doc_context_window_coverage"
    v = compare(spark, sf, _q()[name], all_oracles()[name])
    assert_parity(v, name)
