"""Planted-input pins for the r12c wave (growth accounting / L28 /
positional novelty).

Fixture vacuity (the r11 rule): every fixture user is active EVERY
epoch-week, so ``user_growth_accounting``'s n_resurrected and n_churned
columns are identically ZERO on the driver fixtures — the oracle pass
alone cannot vouch for the classification logic.  The planted corpus
exercises all four classes plus the churn-into-silent-week fill and the
quick-ratio NULLIF edge, and re-runs the driver-style cross-engine hash
compare on the planted dir.  ``user_engagement_l28``'s 28-day boundary
(strictly-greater: exactly-28-days-ago is OUT) and
``doc_position_novelty``'s decile decay are pinned the same way.
"""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from googlecloudstorage_blueprints_spark.operators import (
    all_oracles,
    all_queries,
)
from googlecloudstorage_blueprints_spark.sources.catalog import TABLES
from tests.parity import assert_parity, compare

SF = "/root/testdata/sf0.001"

_US_PER_DAY = 86_400_000_000
_US_PER_WEEK = _US_PER_DAY * 7


def _planted_dir(tmp_path, replace: dict) -> str:
    out = tmp_path / "sf_planted"
    out.mkdir()
    for t in TABLES:
        if t in replace:
            pq.write_table(replace[t], out / f"{t}.parquet")
        else:
            shutil.copy(f"{SF}/{t}.parquet", out / f"{t}.parquet")
    return str(out)


def _events_table(rows):
    """rows: (event_id, ts_us, user_id)"""
    return pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )


def _docs_table(rows):
    """rows: (doc_id, text)"""
    return pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )


def _cross_engine(spark, name: str, sf_dir: str):
    """Driver-style canonical compare of the Spark op vs its oracle."""
    v = compare(spark, sf_dir, all_queries()[name], all_oracles()[name])
    assert_parity(v, name)
    return v.rows, v.columns


def _growth_events():
    """user 1 weeks {0,1,3}; user 2 weeks {0..4}; user 3 week {2} —
    exercises new/retained/resurrected plus churn into weeks 2/3/4."""
    rows = []
    eid = 1
    for uid, weeks in ((1, (0, 1, 3)), (2, (0, 1, 2, 3, 4)), (3, (2,))):
        for w in weeks:
            rows.append((eid, w * _US_PER_WEEK + 3_600_000_000, uid))
            eid += 1
    return _events_table(rows)


def test_growth_accounting_planted_classes(spark, tmp_path):
    sf_dir = _planted_dir(tmp_path, {"events": _growth_events()})
    rows, cols = _cross_engine(spark, "user_growth_accounting", sf_dir)
    by_wk = {
        r[cols.index("epoch_week")]: {
            c: r[cols.index(c)] for c in cols
        }
        for r in rows
    }
    assert sorted(by_wk) == [0, 1, 2, 3, 4]
    # (n_active, n_new, n_retained, n_resurrected, n_churned)
    expect = {
        0: (2, 2, 0, 0, 0),
        1: (2, 0, 2, 0, 0),
        2: (2, 1, 1, 0, 1),  # u3 new, u2 retained; u1 churned into 2
        3: (2, 0, 1, 1, 1),  # u1 resurrected; u3 churned into 3
        4: (1, 0, 1, 0, 1),  # u1 churned (again) into 4
    }
    for wk, (na, nn, nr, ns, nc) in expect.items():
        got = by_wk[wk]
        assert (
            got["n_active"],
            got["n_new"],
            got["n_retained"],
            got["n_resurrected"],
            got["n_churned"],
        ) == (na, nn, nr, ns, nc), wk
    # quick ratio: NULL where churn is 0, exact ratio otherwise
    assert by_wk[0]["quick_ratio"] is None
    assert by_wk[1]["quick_ratio"] is None
    assert by_wk[2]["quick_ratio"] == 1.0
    assert by_wk[3]["quick_ratio"] == 1.0
    assert by_wk[4]["quick_ratio"] == 0.0


def test_growth_accounting_fixture_is_vacuous_for_resurrection(spark):
    """Document WHY the planted pin exists: on the real fixture every
    user is active every week — resurrected/churned identically 0."""
    rows = all_queries()["user_growth_accounting"](spark, SF).collect()
    assert rows, "fixture produced no weeks"
    assert all(r["n_resurrected"] == 0 for r in rows)
    assert all(r["n_churned"] == 0 for r in rows)


def test_engagement_l28_window_boundary(spark, tmp_path):
    """Strictly-greater boundary: exactly 28 days before max-day is
    OUTSIDE the window (the window is the 28 days ENDING at max day)."""
    d_max = 20_000  # epoch day of the anchor event
    base = d_max * _US_PER_DAY
    rows = [
        (1, base, 10),  # user 10: max day ...
        (2, base - 27 * _US_PER_DAY, 10),  # ... and the oldest IN day
        (3, base - 28 * _US_PER_DAY, 11),  # user 11: exactly 28d -> OUT
        (4, base - 29 * _US_PER_DAY, 12),  # user 12: clearly out
        (5, base, 13),  # user 13: single day
    ]
    sf_dir = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got, cols = _cross_engine(spark, "user_engagement_l28", sf_dir)
    as_map = {r[cols.index("days_active")]: r for r in got}
    assert sorted(as_map) == [1, 2]
    assert as_map[1][cols.index("n_users")] == 1  # user 13 only
    assert as_map[2][cols.index("n_users")] == 1  # user 10
    assert as_map[1][cols.index("user_share")] == 0.5


def test_position_novelty_planted_decay(spark, tmp_path):
    """doc 1 alternates two words (novelty dies after decile 1); doc 2
    is all-distinct (novelty 1.0 everywhere) — per-decile blend is
    closed-form."""
    docs = _docs_table(
        [
            (1, "a b a b a b a b a b"),
            (2, "c d e f g h i j k l"),
        ]
    )
    sf_dir = _planted_dir(tmp_path, {"documents": docs})
    got, cols = _cross_engine(spark, "doc_position_novelty", sf_dir)
    by_dec = {r[cols.index("decile")]: r for r in got}
    assert sorted(by_dec) == list(range(10))
    for dec in range(10):
        r = by_dec[dec]
        assert r[cols.index("n_tokens")] == 2
        want_first = 2 if dec in (0, 1) else 1
        assert r[cols.index("n_first")] == want_first
        assert r[cols.index("novelty_share")] == want_first / 2


def test_position_novelty_fixture_decays(spark):
    """On the real corpus the opening decile must be the most novel —
    the monotone-ish sanity that makes the 10-row output meaningful."""
    rows = all_queries()["doc_position_novelty"](spark, SF).collect()
    by_dec = {r["decile"]: r["novelty_share"] for r in rows}
    assert by_dec[0] == max(by_dec.values())
    assert by_dec[9] < by_dec[0]


# --- embedding_kmeans_inertia (rows-only) pins -------------------------------


def _emb_table(rows):
    """rows: (vec_id, [floats], label)"""
    return pa.table(
        {
            "vec_id": pa.array([r[0] for r in rows], pa.int64()),
            "embedding": pa.array(
                [r[1] for r in rows], pa.list_(pa.float32())
            ),
            "label": pa.array([r[2] for r in rows], pa.int32()),
        }
    )


def test_kmeans_planted_blobs_closed_form(spark, tmp_path):
    """8 two-point blobs whose first points are the seeds: iteration 1
    scores the seeding (each blob's second point at dist^2 4 -> inertia
    32), the centroids move to the exact blob means (shift 1.0), and
    iterations 2-3 are the converged fixed point (inertia 16, shift 0)."""
    rows = []
    for j in range(1, 9):  # seeds: vec_id 1..8 = first point of blob j
        rows.append((j, [10.0 * j, 1.0, 0.0, 0.0], j))
    for j in range(1, 9):
        rows.append((8 + j, [10.0 * j, -1.0, 0.0, 0.0], j))
    sf_dir = _planted_dir(tmp_path, {"embeddings": _emb_table(rows)})
    got = sorted(
        all_queries()["embedding_kmeans_inertia"](spark, sf_dir).collect(),
        key=lambda r: r["iteration"],
    )
    assert [
        (r["iteration"], r["inertia"], r["max_shift"], r["n_empty_clusters"])
        for r in got
    ] == [(1, 32.0, 1.0, 0), (2, 16.0, 0.0, 0), (3, 16.0, 0.0, 0)]


def test_kmeans_fixture_monotone_and_deterministic(spark):
    """Lloyd monotonicity on the real fixture (inertia never increases
    against iteration-start centroids) and run-to-run determinism of
    the rounded outputs (partition-ordered float merge)."""
    q = all_queries()["embedding_kmeans_inertia"]
    a = sorted(
        (r["iteration"], r["inertia"], r["max_shift"])
        for r in q(spark, SF).collect()
    )
    inertias = [x[1] for x in a]
    assert inertias == sorted(inertias, reverse=True)
    b = sorted(
        (r["iteration"], r["inertia"], r["max_shift"])
        for r in q(spark, SF).collect()
    )
    assert a == b


# --- events_value_tail_index pins --------------------------------------------


def test_tail_index_planted_closed_form_and_having_drop(spark, tmp_path):
    """'heavy' is exactly Pareto-in-logs (values 2^i): the Hill gamma
    over the top 50 of 60 is 25.5*ln2 in closed form; 'light' (values
    100+i) has a near-zero positive gamma; 'tiny' has exactly 51
    positive values and must be DROPPED by the > m+1 HAVING (the path
    the fixture never exercises — every fixture type has ~200)."""
    import math

    rows, eid = [], 1
    for i in range(1, 61):
        rows.append((eid, 2.0 ** i, "heavy")); eid += 1
    for i in range(1, 61):
        rows.append((eid, 100.0 + i, "light")); eid += 1
    for i in range(1, 52):
        rows.append((eid, float(i), "tiny")); eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [1_700_000_000_000_000 + i for i in range(len(rows))],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([r[1] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    sf_dir = _planted_dir(tmp_path, {"events": tbl})
    got, cols = _cross_engine(spark, "events_value_tail_index", sf_dir)
    by_type = {r[cols.index("event_type")]: r for r in got}
    assert sorted(by_type) == ["heavy", "light"], "tiny must be dropped"
    g_heavy = by_type["heavy"][cols.index("hill_gamma")]
    g_light = by_type["light"][cols.index("hill_gamma")]
    assert abs(g_heavy - 25.5 * math.log(2)) < 1e-4
    assert 0 < g_light < 0.5
    assert g_heavy > g_light


# --- vocab_rank_shift_topk pins ----------------------------------------------


def test_rank_shift_planted_footrule_closed_form(spark, tmp_path):
    """Source A dominates the corpus (global head order == A's order:
    footrule 0, coverage 1); source B carries the same 20 words with
    REVERSED frequencies (footrule = sum |21-2i| = 200)."""
    words = [f"w{i:02d}" for i in range(1, 21)]
    a_text = " ".join(
        w for i, w in enumerate(words, 1) for _ in range(3 * (21 - i))
    )
    b_text = " ".join(
        w for i, w in enumerate(words, 1) for _ in range(i)
    )
    docs = _docs_table([(1, a_text), (2, b_text)])
    # the planted sources must differ: rebuild with per-doc sources
    docs = pa.table(
        {
            "doc_id": docs["doc_id"],
            "text": docs["text"],
            "lang": docs["lang"],
            "source": pa.array(["srcA", "srcB"], pa.string()),
            "n_chars": docs["n_chars"],
        }
    )
    sf_dir = _planted_dir(tmp_path, {"documents": docs})
    got, cols = _cross_engine(spark, "vocab_rank_shift_topk", sf_dir)
    by_src = {r[cols.index("source")]: r for r in got}
    a, b = by_src["srcA"], by_src["srcB"]
    assert a[cols.index("n_overlap")] == 20
    assert a[cols.index("footrule")] == 0
    assert a[cols.index("coverage_share")] == 1.0
    assert b[cols.index("n_overlap")] == 20
    assert b[cols.index("footrule")] == 200


# --- user_activity_ccdf_slope pins --------------------------------------------


def test_ccdf_slope_planted_exact_power_law(spark, tmp_path):
    """Users with activity counts {1,2,4,8} at multiplicities {4,2,1,1}
    make the CCDF exactly n_ge(c) = 8/c — a pure power law with slope
    exactly -1 (up to the e6 per-term fixed-point grid)."""
    rows, eid, uid = [], 1, 1
    for c, m in ((1, 4), (2, 2), (4, 1), (8, 1)):
        for _ in range(m):
            for i in range(c):
                rows.append(
                    (eid, 1_700_000_000_000_000 + eid * 1_000, uid)
                )
                eid += 1
            uid += 1
    sf_dir = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got, cols = _cross_engine(spark, "user_activity_ccdf_slope", sf_dir)
    assert len(got) == 1
    r = got[0]
    assert r[cols.index("n_users")] == 8
    assert r[cols.index("n_levels")] == 4
    assert abs(r[cols.index("ccdf_slope")] + 1.0) < 1e-5


# --- worker_shard_balance pins -------------------------------------------------


def test_shard_balance_planted_straggler(spark, tmp_path):
    """64 one-token docs (ids 0..63: every shard gets exactly 2), with
    the two docs landing on shard 0 inflated to 11 tokens each — shard
    0 carries 22 tokens vs 2 everywhere else: straggler ratio exactly
    11, load factors closed-form."""
    docs = _docs_table(
        [
            (i, " ".join(["tok"] * (11 if i % 32 == 0 else 1)))
            for i in range(64)
        ]
    )
    sf_dir = _planted_dir(tmp_path, {"documents": docs})
    got, cols = _cross_engine(spark, "worker_shard_balance", sf_dir)
    by_shard = {r[cols.index("shard")]: r for r in got}
    assert sorted(by_shard) == list(range(32))
    total = 22 + 31 * 2
    for s in range(32):
        r = by_shard[s]
        want_toks = 22 if s == 0 else 2
        assert r[cols.index("n_docs")] == 2
        assert r[cols.index("n_tokens")] == want_toks
        assert r[cols.index("load_factor")] == want_toks * 32 / total
        assert r[cols.index("max_min_ratio")] == 11.0


def test_shard_balance_fixture_covers_all_workers(spark):
    """The docstring's min-over-present-shards caveat is moot on the
    fixture: all 32 shards are hit, and the straggler ratio is sane."""
    rows = all_queries()["worker_shard_balance"](spark, SF).collect()
    assert len(rows) == 32
    assert all(r["max_min_ratio"] >= 1.0 for r in rows)


# --- embedding_exact_dup_stats pins --------------------------------------------


def test_embedding_exact_dup_planted_clusters(spark, tmp_path):
    """Planted: one triple-duplicated vector, one pair (a zero-vector
    fallback), three unique — histogram {1:3, 2:1, 3:1} and the
    n_vectors column re-sums to the corpus size."""
    dup = [1.5, -2.25, 0.5, 3.0]  # exactly representable floats
    zero = [0.0, 0.0, 0.0, 0.0]
    rows = [
        (1, dup, 0), (2, dup, 0), (3, dup, 1),
        (4, zero, 1), (5, zero, 2),
        (6, [9.0, 1.0, 0.0, 0.0], 2),
        (7, [8.0, 2.0, 0.0, 0.0], 0),
        (8, [7.0, 3.0, 0.0, 0.0], 1),
    ]
    sf_dir = _planted_dir(tmp_path, {"embeddings": _emb_table(rows)})
    got, cols = _cross_engine(spark, "embedding_exact_dup_stats", sf_dir)
    hist = {
        r[cols.index("cluster_size")]: (
            r[cols.index("n_clusters")],
            r[cols.index("n_vectors")],
        )
        for r in got
    }
    assert hist == {1: (3, 3), 2: (1, 2), 3: (1, 3)}
    assert sum(v for _n, v in hist.values()) == len(rows)


def test_embedding_exact_dup_fixture_all_unique(spark):
    """Document WHY the planted pin exists: fixture vectors are all
    distinct — the histogram is a single cluster_size=1 row covering
    the whole corpus."""
    rows = all_queries()["embedding_exact_dup_stats"](spark, SF).collect()
    assert len(rows) == 1 and rows[0]["cluster_size"] == 1
    from googlecloudstorage_blueprints_spark.sources.catalog import (
        load_table,
    )

    assert rows[0]["n_vectors"] == load_table(
        spark, SF, "embeddings"
    ).count()


# --- events_type_hour_entropy pins ---------------------------------------------


def test_hour_entropy_planted_closed_forms(spark, tmp_path):
    """'cron' fires only at hour 7 (entropy exactly 0, peak share 1);
    'human' splits 50/50 across two hours (entropy exactly
    round(ln2*1e6) = 693147 — the source_lang_entropy pin applied to
    hours); modal tiebreak is the SMALLER hour on equal counts."""
    rows, eid = [], 1
    hour_us = 3_600_000_000
    for i in range(8):  # cron: all in hour 7 (UTC day offset 7h)
        rows.append((eid, 7 * hour_us + i * 1_000, 1)); eid += 1
    human = []
    for i in range(4):  # human: 4 at hour 2, 4 at hour 5
        human.append((eid, 2 * hour_us + i * 1_000, 2)); eid += 1
    for i in range(4):
        human.append((eid, 5 * hour_us + i * 1_000, 2)); eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array(
                [r[0] for r in rows + human], pa.int64()
            ),
            "ts": pa.array(
                [r[1] for r in rows + human], pa.timestamp("us")
            ),
            "user_id": pa.array(
                [r[2] for r in rows + human], pa.int64()
            ),
            "event_type": pa.array(
                ["cron"] * len(rows) + ["human"] * len(human), pa.string()
            ),
            "value": pa.array([1.0] * (len(rows) + len(human)), pa.float64()),
            "props": pa.array(["{}"] * (len(rows) + len(human)), pa.string()),
        }
    )
    sf_dir = _planted_dir(tmp_path, {"events": tbl})
    got, cols = _cross_engine(spark, "events_type_hour_entropy", sf_dir)
    by_type = {r[cols.index("event_type")]: r for r in got}
    cron, human_r = by_type["cron"], by_type["human"]
    assert cron[cols.index("entropy_e6")] == 0
    assert cron[cols.index("peak_hour")] == 7
    assert cron[cols.index("peak_share")] == 1.0
    assert human_r[cols.index("entropy_e6")] == 693147
    assert human_r[cols.index("peak_hour")] == 2  # tie -> smaller hour
    assert human_r[cols.index("peak_share")] == 0.5


# --- cross-surface: streaming dau_wau marks derive the batch L28 ---------------


def test_streaming_day_marks_derive_batch_l28(spark):
    """user_engagement_l28 needs no twin of its own: the
    streaming_dau_wau (user, day) mark feed IS its stateful part — a
    stateless rollup of the drained marks over the trailing-28 window
    reproduces the batch histogram exactly."""
    from googlecloudstorage_blueprints_spark.streaming import (
        run_stream_to_memory,
        streaming_dau_wau,
    )

    marks = run_stream_to_memory(
        streaming_dau_wau(spark, SF), "l28_marks"
    ).collect()
    days = {}
    for r in marks:
        days.setdefault(r["user_id"], set()).add(r["epoch_day"])
    max_day = max(d for s in days.values() for d in s)
    hist = {}
    for _uid, s in days.items():
        k = len({d for d in s if d > max_day - 28})
        if k:
            hist[k] = hist.get(k, 0) + 1
    batch = {
        r["days_active"]: r["n_users"]
        for r in all_queries()["user_engagement_l28"](spark, SF).collect()
    }
    assert hist == batch and len(batch) > 0


# --- copurchase_pagerank (rows-only) pins --------------------------------------


def _lineitem_table(rows):
    """rows: (orderkey, partkey, linenumber)"""
    n = len(rows)
    return pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in rows], pa.int64()),
            "l_suppkey": pa.array([1] * n, pa.int64()),
            "l_linenumber": pa.array([r[2] for r in rows], pa.int64()),
            "l_quantity": pa.array([1.0] * n, pa.float64()),
            "l_extendedprice": pa.array([100.0] * n, pa.float64()),
            "l_discount": pa.array([0.0] * n, pa.float64()),
            "l_tax": pa.array([0.0] * n, pa.float64()),
            "l_returnflag": pa.array(["N"] * n, pa.string()),
            "l_linestatus": pa.array(["O"] * n, pa.string()),
            "l_shipdate": pa.array(
                [1_700_000_000_000_000] * n, pa.timestamp("us")
            ),
        }
    )


def test_pagerank_planted_pair_is_fixed_point(spark, tmp_path):
    """Two parts always bought together: the symmetric 2-cycle is
    PageRank's exact fixed point — both ranks stay at 1/2 (5e11 in the
    e12 fixed-point scale) through every iteration."""
    li = _lineitem_table([(1, 101, 1), (1, 102, 2), (2, 101, 1), (2, 102, 2)])
    sf_dir = _planted_dir(tmp_path, {"lineitem": li})
    got = all_queries()["copurchase_pagerank"](spark, sf_dir).collect()
    ranks = {r["p_partkey"]: r["rank_e12"] for r in got}
    assert ranks == {101: 500_000_000_000, 102: 500_000_000_000}


def test_pagerank_planted_star_center_dominates(spark, tmp_path):
    """A hub part co-purchased with four leaves (never leaf-leaf): the
    center outranks every leaf and the leaves tie exactly (integer
    fixed-point arithmetic is bit-deterministic)."""
    rows = []
    for i, leaf in enumerate([201, 202, 203, 204], 1):
        rows.append((i, 100, 1))
        rows.append((i, leaf, 2))
    sf_dir = _planted_dir(tmp_path, {"lineitem": _lineitem_table(rows)})
    got = all_queries()["copurchase_pagerank"](spark, sf_dir).collect()
    ranks = {r["p_partkey"]: r["rank_e12"] for r in got}
    degs = {r["p_partkey"]: r["out_degree"] for r in got}
    assert degs == {100: 4, 201: 1, 202: 1, 203: 1, 204: 1}
    leaf_ranks = {ranks[p] for p in (201, 202, 203, 204)}
    assert len(leaf_ranks) == 1
    assert ranks[100] > leaf_ranks.pop()


def test_pagerank_fixture_deterministic_topk(spark):
    """Top-20 on the real fixture: full rows, exact run-to-run equality
    (integer ranks carry no float accumulation order)."""
    q = all_queries()["copurchase_pagerank"]
    a = [tuple(r) for r in q(spark, SF).collect()]
    b = [tuple(r) for r in q(spark, SF).collect()]
    assert a == b and len(a) == 20
    assert all(a[i][1] >= a[i + 1][1] for i in range(len(a) - 1))


# --- events_volume_seasonal_naive_backtest pins ---------------------------------


def test_seasonal_naive_backtest_planted_closed_form(spark, tmp_path):
    """Week 1 runs 10 events/day; week 2 plants +3, -3, and a SILENT
    day (densified to an explicit zero, scored as error 10) — MAE and
    WAPE are closed-form, and the silent day proves the spine join."""
    rows, eid = [], 1
    base_day = 20_000
    week2 = {0: 13, 1: 7, 2: 0, 3: 10, 4: 10, 5: 10, 6: 10}
    for off in range(7):
        for i in range(10):
            rows.append(
                (eid, (base_day + off) * _US_PER_DAY + i * 1_000, 1)
            )
            eid += 1
    for off, n in week2.items():
        for i in range(n):
            rows.append(
                (eid, (base_day + 7 + off) * _US_PER_DAY + i * 1_000, 1)
            )
            eid += 1
    sf_dir = _planted_dir(tmp_path, {"events": _events_table(rows)})
    got, cols = _cross_engine(
        spark, "events_volume_seasonal_naive_backtest", sf_dir
    )
    assert len(got) == 1
    r = got[0]
    assert r[cols.index("n_days_scored")] == 7
    assert r[cols.index("total_abs_err")] == 3 + 3 + 10
    assert r[cols.index("mae")] == 16 / 7
    assert r[cols.index("wape")] == 16 / 60


# --- source_epoch_waterfill pins -------------------------------------------------


def test_waterfill_planted_caps_and_overflow(spark, tmp_path):
    """Skewed corpus: two tiny sources whose temperature share exceeds
    the 4-epoch cap get EXACTLY cap tokens (epochs_e6 = 4e6), and the
    freed budget overflows to the giant — closed form: giant alloc =
    budget - caps = 19940 of 10000 tokens -> epochs_e6 = 1_994_000."""
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3], pa.int64()),
            "text": pa.array(
                [
                    " ".join(["tok"] * 10000),
                    " ".join(["tok"] * 10),
                    " ".join(["tok"] * 20),
                ],
                pa.string(),
            ),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["giant", "tiny_a", "tiny_b"], pa.string()),
            "n_chars": pa.array([4 * 10000, 40, 80], pa.int64()),
        }
    )
    sf_dir = _planted_dir(tmp_path, {"documents": docs})
    got, cols = _cross_engine(spark, "source_epoch_waterfill", sf_dir)
    by_src = {r[cols.index("source")]: r for r in got}
    a, b, g = by_src["tiny_a"], by_src["tiny_b"], by_src["giant"]
    assert (a[cols.index("capped")], b[cols.index("capped")]) == (1, 1)
    assert a[cols.index("alloc_tokens")] == 40
    assert b[cols.index("alloc_tokens")] == 80
    assert a[cols.index("epochs_e6")] == 4_000_000
    assert b[cols.index("epochs_e6")] == 4_000_000
    assert g[cols.index("capped")] == 0
    assert g[cols.index("alloc_tokens")] == 2 * 10030 - 120
    assert g[cols.index("epochs_e6")] == 1_994_000
    # budget is fully used: truncation leftover is zero here
    total_alloc = sum(r[cols.index("alloc_tokens")] for r in got)
    assert total_alloc == 2 * 10030


def test_waterfill_fixture_uncapped_is_uniform_two_epochs(spark):
    """Document WHY the planted pin exists: fixture sources are
    near-equal, nobody caps, and every allocation sits near 2 epochs
    (the budget multiplier) — the capping branch never fires."""
    rows = all_queries()["source_epoch_waterfill"](spark, SF).collect()
    assert all(r["capped"] == 0 for r in rows)
    assert all(
        1_500_000 < r["epochs_e6"] < 2_500_000 for r in rows
    )
