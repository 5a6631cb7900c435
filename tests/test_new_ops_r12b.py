"""Pins for the r12 LSH banding sensitivity sweep.

The fixture's near-dup pairs all sit at very high Jaccard, so every
sweep row reads ~the same recall (the r11 vacuity trap,
`dedup_threshold_sensitivity` precedent) — these tests make the curve
non-vacuous:

- NESTING (mathematical, any corpus): with consecutive-slice banding
  and doubling band counts over one signature, a (b, r) band match
  implies both (2b, r/2) halves match, so candidate sets are nested and
  both cost and recall are monotone in n_bands.  Checked on the real
  fixture at two SFs.
- PLANTED mid-Jaccard pair: an identical pair (recall 1.0 everywhere)
  plus a ~0.73-Jaccard pair that the wide (4,16) banding misses but the
  narrow (32,2) banding catches — the curve actually bends.  All hash
  functions are fixed, so the planted outcome is deterministic.
"""

from __future__ import annotations

import shutil

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


def _planted_dir(tmp_path, replace: dict):
    out = tmp_path / "sf_planted"
    out.mkdir()
    for t in TABLES:
        if t in replace:
            pq.write_table(replace[t], out / f"{t}.parquet")
        else:
            shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    return str(out)


def _docs_table(rows):
    """rows: (doc_id, text)"""
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "n_chars": pa.array(
                [len(r[1]) for r in rows], pa.int64()
            ),
        }
    )


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
)
def test_band_sweep_monotone_nesting(spark, sf_dir):
    rows = all_queries()["lsh_band_sensitivity"](spark, sf_dir).collect()
    rows = sorted(rows, key=lambda r: r["n_bands"])
    assert [r["n_bands"] for r in rows] == [4, 8, 16, 32]
    assert [r["rows_per_band"] for r in rows] == [16, 8, 4, 2]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["n_candidate_pairs"] >= prev["n_candidate_pairs"]
        assert cur["n_recalled"] >= prev["n_recalled"]
    # every config shares one truth denominator
    assert len({r["n_true_pairs"] for r in rows}) == 1


def test_band_sweep_planted_mid_jaccard_pair_bends_curve(
    spark, tmp_path
):
    """docs 1/2 identical (always candidates — every band agrees);
    docs 3/4 share 79 of their 100 words (~0.65 shingle Jaccard, above
    the 0.6 truth threshold): each 2-row band matches with p≈0.42 so
    (32,2) catches the pair near-certainly (p≈1−3e-8), while a 16-row
    band matches with p≈9e-4 so (4,16) misses it — recall must
    strictly increase along the sweep.  Deterministic: xxhash64 and
    the permutation family are fixed."""
    base = [f"w{i:03d}" for i in range(100)]
    variant = base[:79] + [f"v{i:03d}" for i in range(21)]
    rows = [
        (1, " ".join(base)),
        (2, " ".join(base)),
        (3, " ".join(f"a{w}" for w in base)),
        (4, " ".join(f"a{w}" for w in variant)),
    ]
    sf = _planted_dir(tmp_path, {"documents": _docs_table(rows)})
    got = {
        r["n_bands"]: r
        for r in all_queries()["lsh_band_sensitivity"](
            spark, sf
        ).collect()
    }
    assert got[4]["n_true_pairs"] == 2
    # identical pair: every banding catches it; mid pair: only narrow
    assert got[4]["n_recalled"] == 1 and got[4]["recall"] == 0.5
    assert got[32]["n_recalled"] == 2 and got[32]["recall"] == 1.0
    # cost grows with band count on the planted corpus too
    assert (
        got[32]["n_candidate_pairs"] >= got[4]["n_candidate_pairs"]
    )


def test_contamination_sweep_planted_verbatim_spans(spark, tmp_path):
    """At sf0.01 the 8/13-gram sweep rows read zero (fixture has no
    long verbatim cross-eval spans), so the detection path needs a
    planted pin: an eval doc (doc_id % 97 == 0) shares a verbatim
    13-word span with corpus doc 1 (flags at every length) and a
    5-word span with corpus doc 2 (flags at 3 only — a 5-word overlap
    contains 3-grams but no 8-gram).  Corpus doc 3 is clean.
    Cross-engine compared."""
    span13 = " ".join(f"s{i:02d}" for i in range(13))
    span5 = " ".join(f"t{i:02d}" for i in range(5))
    rows = [
        (1, f"alpha beta {span13} gamma delta"),
        (2, f"epsilon zeta {span5} eta theta"),
        (3, "iota kappa lam mu nu xi omicron pi rho sigma"),
        (97, f"intro words {span13} and then {span5} outro words"),
    ]
    sf = _planted_dir(tmp_path, {"documents": _docs_table(rows)})
    got = {
        r["ngram_len"]: r
        for r in all_queries()["contamination_ngram_sensitivity"](
            spark, sf
        ).collect()
    }
    assert got[3]["n_flagged_docs"] == 2
    assert got[8]["n_flagged_docs"] == 1
    assert got[13]["n_flagged_docs"] == 1
    assert got[13]["n_eval_docs_hit"] == 1
    # 13-word span: exactly one 13-gram shared
    assert got[13]["n_shared_ngrams"] == 1
    # flagged_share over the 3 corpus docs
    assert got[3]["flagged_share"] == pytest.approx(2 / 3)
    name = "contamination_ngram_sensitivity"
    v = compare(spark, sf, all_queries()[name], all_oracles()[name])
    assert_parity(v, name)


def test_events_value_psi_planted_drift_and_stability(spark, tmp_path):
    """A type whose two time halves have IDENTICAL bucket counts must
    read psi_e6 == 0 exactly (p == q → every term is 0); a type whose
    values jump a magnitude between halves must read a large positive
    PSI.  Cross-engine compared."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)

    def at(h):
        return t0 + datetime.timedelta(hours=h)

    rows = []
    eid = 1
    # 'stable': same values in both halves (buckets identical)
    for h in (0, 1, 98, 99):  # range 0..99h, midpoint ~49.5h
        for v in (5.0, 50.0):
            rows.append((eid, at(h), 1, "stable", v))
            eid += 1
    # 'drift': cents magnitude 3 in first half, 5 in second
    for h in (0, 1, 2, 3):
        rows.append((eid, at(h), 2, "drift", 5.0))
        eid += 1
    for h in (96, 97, 98, 99):
        rows.append((eid, at(h), 2, "drift", 500.0))
        eid += 1
    sf = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got = {
        r["event_type"]: r
        for r in all_queries()["events_value_psi"](spark, sf).collect()
    }
    assert got["stable"]["psi_e6"] == 0
    assert got["stable"]["n_first"] == got["stable"]["n_second"] == 4
    # full magnitude swap: PSI far beyond the 0.25 alarm line (250000)
    assert got["drift"]["psi_e6"] > 250_000
    name = "events_value_psi"
    v = compare(spark, sf, all_queries()[name], all_oracles()[name])
    assert_parity(v, name)


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


def _orders_table(rows):
    """rows: (o_orderkey, o_custkey, status, price, orderdate, priority)"""
    return pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows], pa.string()),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [r[4] for r in rows], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                [r[5] for r in rows], pa.string()
            ),
        }
    )


def _lineitem_rows(pairs):
    """pairs: (l_orderkey, l_linenumber, shipdate) minimal lineitem."""
    n = len(pairs)
    return pa.table(
        {
            "l_orderkey": pa.array([p[0] for p in pairs], pa.int64()),
            "l_partkey": pa.array([1] * n, pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array(
                [p[1] for p in pairs], pa.int64()
            ),
            "l_quantity": pa.array([1.0] * n, pa.float64()),
            "l_extendedprice": pa.array([10.0] * n, pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array(["N"] * n, pa.string()),
            "l_linestatus": pa.array(["O"] * n, pa.string()),
            "l_shipdate": pa.array(
                [p[2] for p in pairs], pa.timestamp("us")
            ),
        }
    )


def test_orders_inflight_planted_carry_in_and_peak(spark, tmp_path):
    """A long order spanning Jan→Apr holds the open count at 1 through
    the delta-free Feb/Mar months (the carry-in fill path — vacuous on
    fixtures where every month has deltas); a second short Jan order
    lifts January's peak to 2.  Cross-engine compared."""
    import datetime

    d = datetime.datetime
    orders = [
        (1, 1, "O", 100.0, d(2024, 1, 5), "1-URGENT"),
        (2, 1, "O", 100.0, d(2024, 1, 10), "1-URGENT"),
    ]
    lines = [
        (1, 1, d(2024, 4, 20)),  # order 1 open Jan 5 .. Apr 20
        (2, 1, d(2024, 1, 20)),  # order 2 open Jan 10 .. Jan 20
    ]
    sf = _planted_dir(
        tmp_path,
        {
            "orders": _orders_table(orders),
            "lineitem": _lineitem_rows(lines),
        },
    )
    got = {
        r["month"]: r
        for r in all_queries()["orders_inflight_monthly"](
            spark, sf
        ).collect()
    }
    assert set(got) == {"2024-01", "2024-02", "2024-03", "2024-04"}
    assert got["2024-01"]["peak_open"] == 2
    assert got["2024-01"]["open_at_month_end"] == 1
    assert got["2024-01"]["n_started"] == 2
    assert got["2024-01"]["n_closed"] == 1
    # delta-free months: carried open count
    for m in ("2024-02", "2024-03"):
        assert got[m]["peak_open"] == 1
        assert got[m]["open_at_month_end"] == 1
        assert got[m]["n_started"] == got[m]["n_closed"] == 0
    assert got["2024-04"]["open_at_month_end"] == 0
    assert got["2024-04"]["n_closed"] == 1
    name = "orders_inflight_monthly"
    v = compare(spark, sf, all_queries()[name], all_oracles()[name])
    assert_parity(v, name)


def test_vocab_topk_coverage_planted_boundary_split(spark, tmp_path):
    """Planted frequency ledger: 5 words × count 10, 200 words ×
    count 2, 1000 words × count 1 (vocab 1205, 1450 occurrences).
    k=100 cuts INSIDE the count-2 group (5 whole + 95 pro-rata →
    50 + 190 = 240 covered); k=1000 cuts inside the count-1 group
    (50 + 400 + 795 = 1245); k=10000 exceeds the vocab (all 1450).
    Pins the arithmetic boundary-group split exactly, cross-engine."""
    words = (
        [f"h{i}" for i in range(5) for _ in range(10)]
        + [f"m{i}" for i in range(200) for _ in range(2)]
        + [f"l{i}" for i in range(1000)]
    )
    rows = [(1, " ".join(words))]
    sf = _planted_dir(tmp_path, {"documents": _docs_table(rows)})
    got = {
        r["vocab_size"]: r
        for r in all_queries()["vocab_topk_coverage"](
            spark, sf
        ).collect()
    }
    assert got[100]["covered_tokens"] == 240
    assert got[1000]["covered_tokens"] == 1245
    assert got[10000]["covered_tokens"] == 1450
    for k in (100, 1000, 10000):
        assert got[k]["total_tokens"] == 1450
        assert got[k]["n_vocab"] == 1205
        assert got[k]["coverage"] == got[k]["covered_tokens"] / 1450
    name = "vocab_topk_coverage"
    v = compare(spark, sf, all_queries()[name], all_oracles()[name])
    assert_parity(v, name)


def test_intersession_gaps_exceed_session_cutoff(spark):
    """Every inter-session gap exceeds the 30-min cutoff BY
    CONSTRUCTION (a smaller gap would have stayed in-session) — the
    closed-form property pinning the sessionizer/gap wiring."""
    rows = all_queries()["user_intersession_gap_stats"](
        spark, SF
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    if r["n_gaps"]:
        assert r["p50_gap_us"] > 1800 * 1_000_000
        assert r["mean_gap_us"] > 1800 * 1_000_000
