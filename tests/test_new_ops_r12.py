"""Error-bound pins for the r12 approx-percentile twins.

The three exact percentile ops (`event_pair_latency`,
`events_hourly_load_percentiles`, `order_value_percentiles`) document an
approx_percentile swap at 100 TB; r12 registers those twins as rows-only
keys.  These tests make the swap's accuracy claim checkable: for every
group, each approx output must be a value whose RANK in the group's true
value multiset is within the GK guarantee (eps = 1/accuracy of the group
size, plus small integer slack for the engines' rank-rounding
conventions) of the requested quantile — at BOTH sf0.001 and sf0.01.
The exact companion columns (counts/sums/means) must match the exact
twin bit-for-bit: only the sketch columns trade accuracy for memory.
"""

from __future__ import annotations

import bisect

import pytest

from googlecloudstorage_blueprints_spark.operators import (
    REGISTRY,
    all_queries,
)
from googlecloudstorage_blueprints_spark.operators.behavior import (
    PCTL_SKETCH_ACCURACY,
)
from tests.parity import duck_con

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

_US_PER_HOUR = 3_600_000_000


def _group_values(sf_dir: str, sql: str):
    """Run a duckdb SQL returning (k1, k2, vals-sorted-list) rows."""
    with duck_con(sf_dir) as con:
        rows = con.sql(sql).fetchall()
    return {(r[0], r[1]): r[2] for r in rows}


def _rank_ok(vals, v, q, accuracy):
    """GK bound: some rank of v lies within eps*n (+slack) of q*n."""
    n = len(vals)
    lo = bisect.bisect_left(vals, v)  # values strictly below v
    hi = bisect.bisect_right(vals, v)  # values <= v
    slack = n / accuracy + 1.5
    target = q * n
    return lo - slack <= target <= hi + slack


HOURLY_SQL = f"""
WITH hourly AS (
    SELECT event_type, epoch_us(ts) // {_US_PER_HOUR} AS h,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
)
SELECT event_type, NULL, list(y ORDER BY y) FROM hourly GROUP BY 1
"""

PAIR_SQL = """
WITH seq AS (
    SELECT event_type AS next_type,
           LAG(event_type) OVER w AS prev_type,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT prev_type, next_type, list(gap_us ORDER BY gap_us)
FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
"""

ORDER_SQL = """
WITH o AS (
    SELECT o_orderpriority,
           CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS cents
    FROM orders
)
SELECT o_orderpriority, NULL, list(cents ORDER BY cents)
FROM o GROUP BY 1
"""


def test_twins_are_rows_only():
    all_queries()  # force _load_all side-effect registration
    for key in (
        "events_hourly_load_percentiles_approx",
        "event_pair_latency_approx",
        "order_value_percentiles_approx",
    ):
        assert key in REGISTRY and REGISTRY[key].oracle is None


@pytest.mark.parametrize("sf_dir", SFS)
def test_hourly_load_approx_within_rank_bound(spark, sf_dir):
    q = all_queries()
    approx = {
        r["event_type"]: r
        for r in q["events_hourly_load_percentiles_approx"](
            spark, sf_dir
        ).collect()
    }
    exact = {
        r["event_type"]: r
        for r in q["events_hourly_load_percentiles"](
            spark, sf_dir
        ).collect()
    }
    truth = _group_values(sf_dir, HOURLY_SQL)
    assert set(approx) == set(exact)
    for et, a in approx.items():
        vals = truth[(et, None)]
        # exact companion columns are bit-identical to the exact twin
        assert a["n_hours"] == exact[et]["n_hours"]
        assert a["max_load"] == exact[et]["max_load"]
        for col, frac in (
            ("p50_load", 0.5),
            ("p90_load", 0.9),
            ("p99_load", 0.99),
        ):
            assert _rank_ok(
                vals, a[col], frac, PCTL_SKETCH_ACCURACY
            ), (et, col, a[col])


@pytest.mark.parametrize("sf_dir", SFS)
def test_pair_latency_approx_within_rank_bound(spark, sf_dir):
    q = all_queries()
    approx = {
        (r["prev_type"], r["next_type"]): r
        for r in q["event_pair_latency_approx"](spark, sf_dir).collect()
    }
    exact = {
        (r["prev_type"], r["next_type"]): r
        for r in q["event_pair_latency"](spark, sf_dir).collect()
    }
    truth = _group_values(sf_dir, PAIR_SQL)
    assert set(approx) == set(exact)
    for pair, a in approx.items():
        vals = truth[pair]
        assert a["n_pairs"] == exact[pair]["n_pairs"]
        assert a["total_gap_us"] == exact[pair]["total_gap_us"]
        assert a["mean_gap_us"] == exact[pair]["mean_gap_us"]
        for col, frac in (("p50_gap_us", 0.5), ("p90_gap_us", 0.9)):
            assert _rank_ok(
                vals, a[col], frac, PCTL_SKETCH_ACCURACY
            ), (pair, col, a[col])


@pytest.mark.parametrize("sf_dir", SFS)
def test_order_value_approx_within_rank_bound(spark, sf_dir):
    q = all_queries()
    approx = {
        r["o_orderpriority"]: r
        for r in q["order_value_percentiles_approx"](
            spark, sf_dir
        ).collect()
    }
    exact = {
        r["o_orderpriority"]: r
        for r in q["order_value_percentiles"](spark, sf_dir).collect()
    }
    truth = _group_values(sf_dir, ORDER_SQL)
    assert set(approx) == set(exact)
    for pri, a in approx.items():
        vals = truth[(pri, None)]
        assert a["n_orders"] == exact[pri]["n_orders"]
        for col, frac in (
            ("p25_value", 0.25),
            ("p50_value", 0.5),
            ("p75_value", 0.75),
            ("p99_value", 0.99),
        ):
            # approx output is rescaled cents/100 — undo for rank lookup
            assert _rank_ok(
                vals,
                round(a[col] * 100),
                frac,
                PCTL_SKETCH_ACCURACY,
            ), (pri, col, a[col])
