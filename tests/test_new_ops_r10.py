"""Closed-form semantic pins for the r10 operator wave.

Oracle parity proves Spark == DuckDB; these prove both == the MATH, on
planted inputs with known answers — and give the zero-row-at-fixture
op (``global_sales_opportunity``: 0 eligible customers at sf0.001 AND
sf0.01) the planted-input cross-engine test the r7 rule demands.

- Q22 planted: wealthy never-ordered customers → exactly those rows,
  hash-equal cross-engine.
- Largest remainder: allocations sum EXACTLY to the budget and sit in
  [floor, floor+1] of the proportional share.
- Revenue concentration: the pigeonhole bound (≤ DENOM rows) and the
  exact integer threshold.
- Label separation planted: two tight orthogonal clusters → intra ≈ 1,
  inter ≈ 0.
- Prefix-dup planted: two docs sharing a 5-token prefix are both
  counted, a unique-prefix doc is not.
- Depth conversion / first touch / extremes / quarterly share:
  cross-op and closed-form consistency on the real fixture.
"""

from __future__ import annotations

import shutil

import duckdb
import numpy as np
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


def _q():
    global QUERIES
    if QUERIES is None:
        QUERIES = all_queries()
    return QUERIES


def _planted_dir(tmp_path, replace: dict):
    """sf0.001 with selected tables replaced by planted arrow tables."""
    out = tmp_path / "sf_planted"
    out.mkdir()
    for t in TABLES:
        if t in replace:
            pq.write_table(replace[t], out / f"{t}.parquet")
        else:
            shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    return str(out)


def test_global_sales_opportunity_planted_prospects(spark, tmp_path):
    """Fixture output is EMPTY at sf0.001/sf0.01 — plant three wealthy
    customers who never ordered (plus one wealthy who did, one poor who
    didn't) and pin the exact survivors cross-engine."""
    base = pq.read_table(f"{SF}/customer.parquet")
    some_order_cust = pq.read_table(f"{SF}/orders.parquet")[
        "o_custkey"
    ][0].as_py()
    extra = pa.table(
        {
            "c_custkey": pa.array(
                [9_000_001, 9_000_002, 9_000_003, 9_000_004],
                base.schema.field("c_custkey").type,
            ),
            "c_name": pa.array(
                ["P#1", "P#2", "P#3", "P#4"], pa.string()
            ),
            "c_nationkey": pa.array(
                [0, 0, 3, 3], base.schema.field("c_nationkey").type
            ),
            # 9M balances dwarf any fixture average; P#4 is poor
            "c_acctbal": pa.array(
                [9_000_000.25, 9_000_000.50, 9_000_000.75, 0.01],
                pa.float64(),
            ),
            "c_mktsegment": pa.array(["BUILDING"] * 4, pa.string()),
        }
    )
    planted = pa.concat_tables(
        [base.select(extra.column_names), extra]
    )
    sf_dir = _planted_dir(tmp_path, {"customer": planted})
    name = "global_sales_opportunity"
    v = compare(spark, sf_dir, _q()[name], all_oracles()[name])
    assert_parity(v, name)
    assert len(v.rows) > 0
    # only the three planted prospects qualify (never ordered, rich);
    # every row's count/total reflects exactly them
    got = {
        r["n_name"]: (r["n_custs"], r["total_acctbal"])
        for r in _q()["global_sales_opportunity"](
            spark, sf_dir
        ).collect()
    }
    assert sum(n for n, _ in got.values()) == 3
    assert abs(sum(v for _, v in got.values()) - 27_000_001.50) < 1e-6
    # sanity: the wealthy customer WITH orders was excluded
    assert some_order_cust not in (9_000_001, 9_000_002, 9_000_003)


def test_token_budget_split_sums_exactly_and_is_proportional(spark):
    from googlecloudstorage_blueprints_spark.operators.training import (
        TOKEN_BUDGET,
    )

    rows = _q()["source_token_budget_split"](spark, SF).collect()
    assert sum(r["alloc_tokens"] for r in rows) == TOKEN_BUDGET
    total = sum(r["n_tokens"] for r in rows)
    for r in rows:
        floor = r["n_tokens"] * TOKEN_BUDGET // total
        assert floor <= r["alloc_tokens"] <= floor + 1


def test_part_revenue_concentration_pigeonhole_and_threshold(spark):
    from googlecloudstorage_blueprints_spark.operators.segments import (
        CONCENTRATION_DENOM,
    )

    rows = _q()["part_revenue_concentration"](spark, SF).collect()
    assert 0 < len(rows) <= CONCENTRATION_DENOM
    # every survivor strictly exceeds the integer threshold share
    for r in rows:
        assert r["revenue_share"] > 1.0 / CONCENTRATION_DENOM - 1e-9
    # ordered by revenue desc
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)


def test_label_separation_planted_orthogonal_clusters(spark, tmp_path):
    """Two orthogonal tight clusters: intra ≈ 1, inter ≈ 0 (up to the
    ×1e4 quantization), and the planted table hash-matches its oracle."""
    dim = 8
    vecs, labels = [], []
    for i in range(6):
        v = np.zeros(dim, dtype=np.float32)
        v[0] = 1.0
        vecs.append(v)
        labels.append(0)
    for i in range(6):
        v = np.zeros(dim, dtype=np.float32)
        v[1] = 1.0
        vecs.append(v)
        labels.append(1)
    tbl = pa.table(
        {
            "vec_id": pa.array(range(12), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(labels, pa.int32()),
        }
    )
    sf_dir = _planted_dir(tmp_path, {"embeddings": tbl})
    name = "embedding_label_separation"
    v = compare(spark, sf_dir, _q()[name], all_oracles()[name])
    assert_parity(v, name)
    assert len(v.rows) == 2
    rows = _q()["embedding_label_separation"](spark, sf_dir).collect()
    for r in rows:
        assert r["intra_cos"] == pytest.approx(1.0, abs=1e-6)
        assert r["inter_cos"] == pytest.approx(0.0, abs=1e-6)


def test_prefix_dup_planted_template_docs(spark, tmp_path):
    base = pq.read_table(f"{SF}/documents.parquet")
    extra = pa.table(
        {
            "doc_id": pa.array(
                [30_000_001, 30_000_002, 30_000_003], pa.int64()
            ),
            "text": pa.array(
                [
                    "alpha beta gamma delta epsilon body one",
                    "alpha beta gamma delta epsilon body two",
                    "zeta eta theta iota kappa unique tail",
                ],
                pa.string(),
            ),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["srcPLANT"] * 3, pa.string()),
            "n_chars": pa.array([39, 39, 37], pa.int64()),
        }
    )
    planted = pa.concat_tables([base.select(extra.column_names), extra])
    sf_dir = _planted_dir(tmp_path, {"documents": planted})
    name = "doc_prefix_dup_share"
    v = compare(spark, sf_dir, _q()[name], all_oracles()[name])
    assert_parity(v, name)
    got = {
        r["source"]: r
        for r in _q()["doc_prefix_dup_share"](spark, sf_dir).collect()
    }
    r = got["srcPLANT"]
    assert r["n_docs"] == 3 and r["n_prefix_dup"] == 2
    assert r["dup_share"] == pytest.approx(2 / 3)


def test_session_depth_buckets_reconcile_with_bounce_sessions(spark):
    depth = _q()["session_depth_conversion"](spark, SF).collect()
    bounce = _q()["session_bounce_rate"](spark, SF).collect()
    assert sum(r["n_sessions"] for r in depth) == sum(
        r["n_sessions"] for r in bounce
    )
    by_bucket = {r["depth_bucket"]: r for r in depth}
    if "1" in by_bucket:
        # depth-1 sessions ARE the bounces
        assert by_bucket["1"]["n_sessions"] == sum(
            r["n_bounces"] for r in bounce
        )


def test_first_touch_covers_every_user_once(spark):
    rows = _q()["user_first_touch_attribution"](spark, SF).collect()
    n_users = (
        _q()["scan_project_filter"]  # any events loader would do; use duckdb
        and duckdb.sql(
            f"SELECT COUNT(DISTINCT user_id) FROM "
            f"read_parquet('{SF}/events.parquet')"
        ).fetchone()[0]
    )
    assert sum(r["n_users"] for r in rows) == n_users
    total_pur = duckdb.sql(
        f"SELECT COUNT(*), ROUND(SUM(value), 4) FROM "
        f"read_parquet('{SF}/events.parquet') "
        f"WHERE event_type = 'purchase'"
    ).fetchone()
    assert sum(r["n_purchases"] for r in rows) == total_pur[0]


def test_acctbal_extremes_match_direct_minmax(spark):
    rows = _q()["supplier_acctbal_extremes"](spark, SF).collect()
    ref = {
        n: (top, bot)
        for n, top, bot in duckdb.sql(
            f"""
            SELECT n_name, MAX(s_acctbal), MIN(s_acctbal)
            FROM read_parquet('{SF}/supplier.parquet') s
            JOIN read_parquet('{SF}/nation.parquet') n
              ON n.n_nationkey = s.s_nationkey
            GROUP BY n_name
            """
        ).fetchall()
    }
    assert len(rows) == len(ref)
    for r in rows:
        top, bot = ref[r["n_name"]]
        assert r["top_acctbal"] == top
        assert r["bottom_acctbal"] == bot


def test_quarterly_shares_sum_to_one(spark):
    rows = _q()["mktsegment_quarterly_share"](spark, SF).collect()
    from collections import defaultdict

    per_q = defaultdict(float)
    for r in rows:
        per_q[(r["yr"], r["qtr"])] += r["revenue_share"]
    for total in per_q.values():
        assert total == pytest.approx(1.0, abs=1e-9)
