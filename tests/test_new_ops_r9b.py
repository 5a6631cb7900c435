"""Closed-form pins for the r9 wave-B/C operators (planted inputs).

Same discipline as test_new_ops_r9.py: oracle parity proves the two
engines agree; these prove they agree with the MATH.
"""

from __future__ import annotations

import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from googlecloudstorage_blueprints_spark.operators import all_queries

_US_PER_DAY = 86_400_000_000


def _q():
    return all_queries()


def _write_events(tmp, rows):
    """rows: (user_id, ts_us, event_type)."""
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(1, len(rows) + 1), pa.int64()),
                "ts": pa.array(
                    [
                        datetime.datetime(1970, 1, 1)
                        + datetime.timedelta(microseconds=r[1])
                        for r in rows
                    ],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([r[0] for r in rows], pa.int64()),
                "event_type": pa.array([r[2] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        ),
        tmp / "events.parquet",
    )


def test_user_event_pareto_whale(spark, tmp_path):
    """1 whale with 91 events + 99 singletons: top 1% (= the whale)
    carries 91/190 of the volume; top 25% carries 91 + 24 = 115/190."""
    rows = [(1, i * 1000, "view") for i in range(91)]
    for u in range(2, 101):
        rows.append((u, 10_000_000 + u, "view"))
    _write_events(tmp_path, rows)
    got = {
        r["pct"]: r for r in _q()["user_event_pareto"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1]["n_top_users"] == 1
    assert got[1]["n_top_events"] == 91
    assert got[1]["event_share"] == 91 / 190
    assert got[25]["n_top_users"] == 25
    assert got[25]["n_top_events"] == 91 + 24
    assert got[25]["event_share"] == 115 / 190


def test_user_lifecycle_stages_recency_cuts(spark, tmp_path):
    """Users last active at ref / ref−10d / ref−40d land in
    active / cooling / churned exactly (7- and 30-day integer cuts)."""
    ref = 100 * _US_PER_DAY
    rows = [
        (1, ref, "view"),                      # active (0 days)
        (2, ref - 10 * _US_PER_DAY, "view"),   # cooling (10 days)
        (3, ref - 40 * _US_PER_DAY, "view"),   # churned (40 days)
        (4, ref - 7 * _US_PER_DAY, "view"),    # active (exactly 7)
        (5, ref - 31 * _US_PER_DAY, "view"),   # churned (31 days)
    ]
    _write_events(tmp_path, rows)
    got = {
        r["stage"]: r["n_users"]
        for r in _q()["user_lifecycle_stages"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {"active": 2, "cooling": 1, "churned": 2}


def _write_docs(tmp, rows):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["s"] * len(rows), pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int64()
                ),
            }
        ),
        tmp / "documents.parquet",
    )


def test_doc_ngram_novelty_repeat_collapses(spark, tmp_path):
    """doc0 introduces its bigrams (novelty 1); doc1 repeats doc0
    verbatim (novelty 0); doc2 is half-new (one of two bigrams)."""
    _write_docs(
        tmp_path,
        [(0, "a b c", "s"), (1, "a b c", "s"), (2, "b c d", "s")],
    )
    got = {
        r["doc_id"]: r
        for r in _q()["doc_ngram_novelty"](spark, str(tmp_path)).collect()
    }
    assert got[0]["novelty_rate"] == 1.0
    assert got[1]["novelty_rate"] == 0.0
    assert got[2]["n_distinct_bigrams"] == 2  # (b,c) old, (c,d) new
    assert got[2]["novelty_rate"] == 0.5


def test_part_brand_price_dispersion_constant_brand(spark, tmp_path):
    """A brand with identical prices has within_var 0; its between_term
    equals n·(μ_b−μ)² in dollars²."""
    brands = ["X"] * 4 + ["Y"] * 4
    prices = [10.0] * 4 + [30.0] * 4  # grand mean 20
    pq.write_table(
        pa.table(
            {
                "p_partkey": pa.array(range(8), pa.int64()),
                "p_name": pa.array([f"part{i}" for i in range(8)]),
                "p_brand": pa.array(brands),
                "p_type": pa.array(["T"] * 8),
                "p_size": pa.array([1] * 8, pa.int32()),
                "p_retailprice": pa.array(prices, pa.float64()),
            }
        ),
        tmp_path / "part.parquet",
    )
    got = {
        r["p_brand"]: r
        for r in _q()["part_brand_price_dispersion"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["X"]["within_var"] == 0.0
    assert got["X"]["mean_price"] == 10.0
    assert got["X"]["between_term"] == pytest.approx(4 * 100.0, abs=1e-9)
    assert got["Y"]["between_term"] == pytest.approx(4 * 100.0, abs=1e-9)


def test_orders_weekday_and_sla(spark, tmp_path):
    """Weekday = epoch-day % 7 (day 0 Thursday); SLA flag flips exactly
    at the 30-day boundary."""
    day = lambda d: datetime.datetime(1970, 1, 1) + datetime.timedelta(
        days=d
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([1, 2], pa.int64()),
                "o_custkey": pa.array([1, 1], pa.int64()),
                "o_orderstatus": pa.array(["F", "F"]),
                "o_totalprice": pa.array([100.0, 200.0], pa.float64()),
                "o_orderdate": pa.array(
                    [day(0), day(2)], pa.timestamp("us")
                ),
                "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"]),
            }
        ),
        tmp_path / "orders.parquet",
    )
    wk = {
        r["weekday"]: r["n_orders"]
        for r in _q()["orders_weekday_mix"](spark, str(tmp_path)).collect()
    }
    assert wk == {0: 1, 2: 1}

    li = {
        "l_orderkey": pa.array([1, 1, 2], pa.int64()),
        "l_partkey": pa.array([1, 1, 1], pa.int64()),
        "l_suppkey": pa.array([1, 1, 1], pa.int64()),
        "l_linenumber": pa.array([1, 2, 1], pa.int32()),
        "l_quantity": pa.array([1.0, 1.0, 1.0], pa.float64()),
        "l_extendedprice": pa.array([10.0, 10.0, 10.0], pa.float64()),
        "l_discount": pa.array([0.0, 0.0, 0.0], pa.float64()),
        "l_tax": pa.array([0.0, 0.0, 0.0], pa.float64()),
        "l_returnflag": pa.array(["N", "N", "N"]),
        "l_linestatus": pa.array(["O", "O", "O"]),
        # order 1: first line ships day 30 (exactly SLA) even though a
        # later line ships day 60; order 2: first ship day 40 → late
        "l_shipdate": pa.array(
            [day(30), day(60), day(42)], pa.timestamp("us")
        ),
    }
    pq.write_table(pa.table(li), tmp_path / "lineitem.parquet")
    sla = {
        r["o_orderpriority"]: (r["n_within_sla"], r["sla_rate"])
        for r in _q()["order_priority_sla"](spark, str(tmp_path)).collect()
    }
    assert sla == {"1-URGENT": (1, 1.0), "2-HIGH": (0, 0.0)}


def test_knn_label_purity_two_tight_clusters(spark, tmp_path):
    """Two tight mutually-orthogonal label clusters: every query's
    top-10 neighbors share its label → purity exactly 1.0."""
    rng = np.random.default_rng(11)
    base, _ = np.linalg.qr(rng.normal(size=(64, 64)))
    vecs, labels = [], []
    for lb, seed_row in [(0, 0), (1, 1)]:
        for c in range(20):
            noise = rng.normal(size=64) * 0.01
            v = base[seed_row] + noise
            vecs.append(v / np.linalg.norm(v))
            labels.append(lb)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(40), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array(labels, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    got = {
        r["label"]: r
        for r in _q()["embedding_knn_label_purity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[0]["knn_purity"] == 1.0
    assert got[1]["knn_purity"] == 1.0
    assert got[0]["n_queries"] == 20


def test_dim_correlation_duplicated_axis_reads_one(spark, tmp_path):
    """Vectors whose dim 2 duplicates dim 1 (and dim 4 negates dim 3)
    put (1,2) at pearson 1.0 and (3,4) at −1.0, leading the top-k."""
    rng = np.random.default_rng(5)
    vecs = []
    for _ in range(50):
        v = rng.normal(size=8)
        v[1] = v[0]       # dims 1,2 identical
        v[3] = -v[2]      # dims 3,4 anti-correlated
        vecs.append(v)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(50), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, v)) for v in vecs],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * 50, pa.int32()),
            }
        ),
        tmp_path / "embeddings.parquet",
    )
    rows = _q()["embedding_dim_correlation_topk"](
        spark, str(tmp_path)
    ).collect()
    top2 = {(r["dim_a"], r["dim_b"]): r["pearson"] for r in rows[:2]}
    assert top2 == {(1, 2): 1.0, (3, 4): -1.0}


def test_vocab_growth_offset_ids_keep_zero_checkpoints(spark, tmp_path):
    """doc_ids 900-909 under max+1 = 910: every cutoff below k = 10
    precedes all docs, so checkpoints 1-9 must emit ZERO rows (not
    vanish) — identically on both engines (the spine-join fix)."""
    from googlecloudstorage_blueprints_spark.operators import all_oracles
    from tests.parity import duck_con

    _write_docs(
        tmp_path, [(900 + i, f"w{i} w{i}", "s") for i in range(10)]
    )
    sdf = _q()["vocab_growth_curve"](spark, str(tmp_path))
    srows = sorted(tuple(r) for r in sdf.collect())
    with duck_con(str(tmp_path)) as con:
        drows = sorted(
            tuple(r)
            for r in con.execute(
                all_oracles()["vocab_growth_curve"]
            ).fetchall()
        )
    assert len(srows) == 10, "zero checkpoints dropped"
    assert srows == drows
    # k=1..9 all zero; k=10 covers everything (10 docs, 20 tokens,
    # 10 distinct words)
    assert srows[0] == (1, 0, 0, 0)
    assert srows[-1] == (10, 10, 20, 10)
