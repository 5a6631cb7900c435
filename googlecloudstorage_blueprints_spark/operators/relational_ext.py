"""Relational breadth extensions: grouping sets, correlated subqueries,
percentiles, unpivot, range window frames, arg-min/max, as-of join, and the
``spark.sql`` frontend.

Like ``relational.py`` these are engine analytics extensions (the reference
has no relational surface at all, SURVEY.md §2.A.4); everything here is
plain DataFrame/SQL API so Catalyst owns the physical plan.  The as-of join
is the one operator Spark lacks natively — it is built as the
union-merge/last-value composition (single shuffle, no range explosion),
the formulation that survives 100 TB where a range-condition join would
degenerate to a broadcast-nested-loop.

Oracle-parity conventions follow ``relational.py`` (bigint casts, rounding,
total-order windows).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from googlecloudstorage_blueprints_spark.operators import register
from googlecloudstorage_blueprints_spark.sources.catalog import (
    load_table,
    register_views,
)


# --------------------------------------------------------------------------
# grouping sets (beyond rollup/cube: explicit set list)
# --------------------------------------------------------------------------

@register(
    "grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus)   AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    HAVING COUNT(*) > 0
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — three independent aggregations in one pass
    (one shuffle; the expand operator replicates rows per set map-side,
    partial aggregation keeps the shuffle at |groups| rows).  GROUPING()
    markers disambiguate the NULLs produced by set padding.  Oracle
    HAVING COUNT(*) > 0 — the zero-row grouping-set alignment (see
    grouping_rollup)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("long").alias("g_status"),
        F.grouping("o_orderpriority").cast("long").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# --------------------------------------------------------------------------
# correlated scalar subquery (decorrelated to aggregate + join)
# --------------------------------------------------------------------------

@register(
    "subquery_scalar_agg",
    oracle="""
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
           ROUND((SELECT AVG(c2.c_acctbal) FROM customer c2
                  WHERE c2.c_nationkey = c.c_nationkey), 4) AS nation_avg
    FROM customer c
    WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                         WHERE c2.c_nationkey = c.c_nationkey)
    """,
)
def subquery_scalar_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (customers above their nation's average
    balance), written the way Catalyst decorrelates it: aggregate once per
    nation, broadcast the tiny aggregate, join + filter.  At 100 TB the
    per-group aggregate is |nations| rows — always broadcastable — so the
    fact side is never shuffled."""
    c = load_table(spark, sf_dir, "customer")
    nation_avg = c.groupBy("c_nationkey").agg(
        F.avg("c_acctbal").alias("nation_avg_raw")
    )
    return (
        c.join(F.broadcast(nation_avg), "c_nationkey")
        .where(F.col("c_acctbal") > F.col("nation_avg_raw"))
        .select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            F.round("nation_avg_raw", 4).alias("nation_avg"),
        )
    )


# --------------------------------------------------------------------------
# percentiles / median (exact; the approx twin is approx_percentile)
# --------------------------------------------------------------------------

@register(
    "percentiles_agg",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def percentiles_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (``F.percentile`` ≡ DuckDB
    ``quantile_cont``: linear interpolation).

    Scale note: exact percentiles require the full value set per group
    (sort-based aggregate).  For 100 TB telemetry use the
    ``approx_percentile`` sketch (t-digest-style, mergeable, map-side
    partial) — kept out of the oracle op because its error bound is
    engine-specific; exact is the verifiable form."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90"),
            F.round(F.percentile("o_totalprice", 0.99), 4).alias("p99"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# unpivot (wide → long) + re-aggregate
# --------------------------------------------------------------------------

@register(
    "unpivot_metrics",
    oracle="""
    WITH u AS (
        SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS value
        FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        UNION ALL
        SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
    )
    SELECT l_returnflag, metric,
           ROUND(SUM(value), 4) AS total,
           ROUND(AVG(value), 6) AS mean,
           COUNT(*) AS n
    FROM u
    GROUP BY l_returnflag, metric
    """,
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of three measure columns, then per-metric stats.
    ``DataFrame.unpivot`` is a zero-shuffle expand (rows × n_metrics
    map-side); the single shuffle is the re-aggregation, carrying only
    |flags|×|metrics| groups after partial agg."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "value",
    )
    return long.groupBy("l_returnflag", "metric").agg(
        F.round(F.sum("value"), 4).alias("total"),
        F.round(F.avg("value"), 6).alias("mean"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# RANGE window frame (value-based, time interval)
# --------------------------------------------------------------------------

@register(
    "window_range_frame",
    oracle="""
    SELECT o_orderkey, o_custkey,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW), 2)
               AS rolling_7d_total,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey
               ORDER BY epoch(o_orderdate)
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS rolling_7d_orders
    FROM orders
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day customer spend via a RANGE frame (value-based bounds
    over epoch seconds).  RANGE frames are deterministic under order ties —
    all peers share one frame — so no tiebreaker key is needed, unlike ROWS
    frames.  One shuffle on o_custkey; frames never cross partitions."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-7 * 86400, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("rolling_7d_total"),
        F.count(F.lit(1)).over(w).cast("long").alias("rolling_7d_orders"),
    )


# --------------------------------------------------------------------------
# arg-min / arg-max aggregates
# --------------------------------------------------------------------------

@register(
    "arg_min_max",
    oracle="""
    WITH r AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey DESC)
                   AS rk_max,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice ASC, o_orderkey ASC)
                   AS rk_min
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderkey IS NOT NULL
    )
    SELECT o_orderpriority,
           MAX(CASE WHEN rk_max = 1 THEN o_orderkey END)   AS priciest_order,
           MAX(CASE WHEN rk_max = 1 THEN o_totalprice END) AS max_price,
           MAX(CASE WHEN rk_min = 1 THEN o_orderkey END)   AS cheapest_order,
           MAX(CASE WHEN rk_min = 1 THEN o_totalprice END) AS min_price
    FROM r
    GROUP BY o_orderpriority
    """,
)
def arg_min_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by with a struct ordering key: price ties break on
    o_orderkey so the answer is total-ordered (plain ``max_by(key, price)``
    is nondeterministic under ties — the oracle's window formulation makes
    the same tiebreak explicit).  Hash aggregate, one shuffle, no window on
    the Spark side.  A row with a NULL price or NULL key can't compete
    for (or be reported as) the extreme — dropped on BOTH engines
    (null-catalog audit, r18: engine NULL-ordering defaults and max_by
    NULL-struct semantics otherwise diverge)."""
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull() & F.col("o_orderkey").isNotNull()
    )
    up = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", up).alias("priciest_order"),
        F.max(F.col("o_totalprice")).alias("max_price"),
        F.min_by("o_orderkey", up).alias("cheapest_order"),
        F.min(F.col("o_totalprice")).alias("min_price"),
    )


# --------------------------------------------------------------------------
# as-of join (the classic time-series operator Spark lacks natively)
# --------------------------------------------------------------------------

@register(
    "join_asof",
    oracle="""
    WITH o1 AS (
        SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
        FROM orders
        WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
              AND o_orderkey IS NOT NULL
        GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id,
           CASE WHEN e.ts IS NOT NULL
                THEN o1.o_orderkey END AS asof_orderkey,
           CASE WHEN e.ts IS NOT NULL
                THEN strftime(o1.o_orderdate, '%Y-%m-%d %H:%M:%S')
           END AS asof_orderdate
    FROM events e
    ASOF LEFT JOIN o1
      ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event matched to the user's most recent order at or
    before the event time (LEFT semantics — unmatched events keep NULLs).

    Spark has no ASOF JOIN, and the naive range-condition join
    (``user_id = o_custkey AND ts >= o_orderdate`` + max-window) explodes
    to every earlier order per event.  The scalable formulation is
    union-merge: tag both sides, union, sort within user by time (right
    rows first on ties so an order at exactly ts matches), and propagate
    the last seen order with ``last(..., ignorenulls)`` — ONE shuffle on
    user_id, state O(1) per row, identical to how a stream-stream as-of
    would run.  Right side is pre-deduped to one row per (user, time) with
    MAX(o_orderkey) so ties are total-ordered (mirrors the oracle CTE).

    NULL hygiene (null-catalog audit, r18): an order with a NULL
    customer, date or key can never be an as-of match — filtered on
    BOTH engines (Spark's NULL uid window partition would otherwise
    pair NULL-key events with NULL-key orders the SQL join drops, and
    a NULL date sorts NULLS FIRST into every partition's history).
    NULL-ts / NULL-uid EVENTS keep LEFT semantics on both sides: they
    sort before any order row (ASC NULLS FIRST) so last(...,
    ignorenulls) sees nothing; the oracle CASE-guards its outputs on
    e.ts because DuckDB's ASOF matches a NULL-ts probe positionally
    (NULLS LAST ⇒ it would claim the user's NEWEST order)."""
    ev = load_table(spark, sf_dir, "events")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(
            F.col("o_custkey").isNotNull()
            & F.col("o_orderdate").isNotNull()
            & F.col("o_orderkey").isNotNull()
        )
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    left = ev.select(
        F.col("user_id").alias("uid"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        "event_id",
        F.lit(None).cast("long").alias("r_orderkey"),
        F.lit(None).cast("timestamp").alias("r_orderdate"),
    )
    right = o.select(
        F.col("o_custkey").alias("uid"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey").alias("r_orderkey"),
        F.col("o_orderdate").alias("r_orderdate"),
    )
    w = (
        Window.partitionBy("uid")
        .orderBy("t", "is_event")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = left.unionByName(right).select(
        "uid",
        "is_event",
        "event_id",
        F.last("r_orderkey", ignorenulls=True).over(w).alias("asof_orderkey"),
        F.last("r_orderdate", ignorenulls=True).over(w).alias("asof_ts"),
    )
    return merged.where(F.col("is_event") == 1).select(
        "event_id",
        F.col("uid").alias("user_id"),
        "asof_orderkey",
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "asof_orderdate"
        ),
    )


# --------------------------------------------------------------------------
# SQL frontend (spark.sql over the registered catalog) — TPC-H Q5 shape
# --------------------------------------------------------------------------

_Q5 = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n_name
"""


@register("sql_tpch_q5", oracle=_Q5)
def sql_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL frontend: fixture tables registered as temp views,
    the query is the SAME ANSI string the oracle runs — Catalyst parses,
    decorrelates, reorders the six-way join (CBO + AQE), broadcasts the
    dims.  Proves users can bring SQL, not just the DataFrame API."""
    register_views(spark, sf_dir)
    return spark.sql(_Q5)


_Q8 = """
SELECT o_year,
       ROUND(SUM(CASE WHEN supp_region = 'ASIA' THEN volume ELSE 0 END)
             / SUM(volume), 6) AS asia_supp_share
FROM (
    SELECT CAST(year(o.o_orderdate) AS BIGINT)       AS o_year,
           l.l_extendedprice * (1 - l.l_discount)     AS volume,
           r2.r_name                                  AS supp_region
    FROM lineitem l
    JOIN orders o    ON l.l_orderkey = o.o_orderkey
    JOIN part p      ON p.p_partkey = l.l_partkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN nation n2   ON s.s_nationkey = n2.n_nationkey
    JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
    WHERE p.p_type = 'PROMO'
) all_volume
GROUP BY o_year
"""


@register("sql_tpch_q8", oracle=_Q8)
def sql_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (market share) shape through the SQL frontend: what share
    of PROMO-part volume was supplied from ASIA, per order year — a
    two-level conditional aggregate over a six-way join, the SAME ANSI
    string on both engines (like ``sql_tpch_q5``).

    Catalyst broadcast-chains the four dims into the lineitem⋈orders
    join; the CASE/SUM ratio is rounded 6dp (summation-order drift) and
    ``year`` is BIGINT-cast in the shared string so both engines emit
    identical schemas.  (Classic Q8 filters the CUSTOMER region and
    splits by supplier NATION; the fixture schema has no partsupp, so
    the supplier-region split keeps the same shape on the tables that
    exist — cited against the spirit of TPC-H Q8, not its letter.)"""
    register_views(spark, sf_dir)
    return spark.sql(_Q8)


_Q2 = """
SELECT DISTINCT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
       l.l_extendedprice AS min_price
FROM part p, supplier s, lineitem l, nation n, region r
WHERE p.p_partkey = l.l_partkey
  AND s.s_suppkey = l.l_suppkey
  AND s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE'
  AND p.p_type = 'LARGE'
  AND l.l_extendedprice = (
      SELECT MIN(l2.l_extendedprice)
      FROM lineitem l2, supplier s2, nation n2, region r2
      WHERE l2.l_partkey = p.p_partkey
        AND s2.s_suppkey = l2.l_suppkey
        AND s2.s_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r2.r_regionkey
        AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


@register("sql_tpch_q2", oracle=_Q2)
def sql_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 (min-cost supplier) shape through the SQL frontend: for
    each LARGE part, the EUROPE supplier(s) offering it at the regional
    minimum price — a correlated scalar-MIN subquery over a five-way
    join, correlated on the outer part key (cf. reference has no SQL
    surface; shape cited from TPC-H spec Q2, re-based on lineitem since
    the fixture schema has no partsupp).

    Catalyst decorrelates the scalar MIN into an aggregate-then-rejoin
    on p_partkey and broadcast-chains region→nation→supplier into both
    the outer and inner lineitem scans; the whole plan is two fact
    shuffles (outer join keys + decorrelated agg), no per-row subquery
    execution.  Parity: MIN is an exact double (no summation order), so
    the equality filter and the emitted min_price are bit-identical; the
    ORDER BY ... LIMIT is total-ordered — after DISTINCT each row is
    unique on (s_name, p_partkey) and s_acctbal/n_name are functions of
    s_name — so the 100-row cut is deterministic on both engines."""
    register_views(spark, sf_dir)
    return spark.sql(_Q2)


_Q20 = """
SELECT s_name, n_name, s_acctbal
FROM supplier s JOIN nation n ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part
                          WHERE p_name LIKE 'small%')
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING SUM(l.l_quantity) > (
        SELECT 2.0 * SUM(l2.l_quantity) / COUNT(DISTINCT l2.l_suppkey)
        FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey)
)
ORDER BY s_name
"""


@register("sql_tpch_q20", oracle=_Q20)
def sql_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 (excess-stock supplier) shape through the SQL frontend:
    suppliers who shipped more than 2× the average supplier's volume of
    some 'small%' part — a nested IN chain (supplier ← grouped lineitem
    ← part) whose HAVING holds a correlated scalar aggregate keyed on a
    GROUP BY column (shape cited from TPC-H spec Q20; availqty re-based
    on shipped volume since the fixture schema has no partsupp).

    This is the decorrelation double-whammy: the part IN-list becomes a
    left-semi join pushed below the aggregate, and the correlated HAVING
    subquery decorrelates to a per-part aggregate joined back on
    l_partkey — one extra shuffle, never a per-group re-scan.  Parity:
    l_quantity holds integral doubles, so SUM is order-independent-exact
    and 2·S/COUNT(DISTINCT) is a single IEEE division — the filter is
    bit-identical unrounded on both engines (exact-integer-ratio rule,
    relational.py).  Final ORDER BY s_name is unique (one row per
    supplier)."""
    register_views(spark, sf_dir)
    return spark.sql(_Q20)


_Q3 = """
SELECT l_orderkey,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
       CAST(o_orderdate AS DATE)                          AS orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-06-01'
  AND l_shipdate  > TIMESTAMP '1998-06-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, orderdate, l_orderkey
LIMIT 10
"""


@register("sql_tpch_q3", oracle=_Q3)
def sql_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) through the SQL frontend: the ten
    highest-revenue BUILDING-segment orders placed before a cutoff and
    still shipping after it — the classic sel-join-agg-topN pipeline, the
    SAME ANSI string on both engines (cf. TPC-H spec Q3; the fixture
    orders table has no o_shippriority so the output carries orderdate
    only).

    Catalyst broadcast-filters customer into orders, sort-merges the
    orders⋈lineitem fact join, and AQE plans the top-10 as a
    TakeOrderedAndProject — no global sort materializes.  Parity: the
    ORDER BY is total (revenue, then orderdate, then the grouped
    l_orderkey which is unique), so the 10-row cut is deterministic; the
    2dp-rounded revenue lands inside the cut, never decides it, except at
    exact double ties which the unique key then breaks."""
    register_views(spark, sf_dir)
    return spark.sql(_Q3)


_Q6 = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 4) AS revenue,
       CAST(COUNT(*) AS BIGINT)                    AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.05
  AND l_quantity < 24
"""


@register("sql_tpch_q6", oracle=_Q6)
def sql_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecast revenue change) through the SQL frontend: one
    full-scan filter-aggregate, no join, no group — the purest test that
    predicate pushdown reaches the parquet scan and the aggregate stays
    map-side (partial agg → single-row exchange).  Same ANSI string on
    both engines (cf. TPC-H spec Q6 re-based to the fixture date range).

    Parity: discounts are exact 2dp doubles (0.00..0.10 step 0.01), so
    the range predicate is exact on both engines; the revenue sum is
    rounded 4dp — the products carry exactly 4 decimals, so 4dp can
    never sit on a half-cent summation-order tiebreak boundary the way
    2dp can (round-6 finding) — and COUNT is BIGINT-cast."""
    register_views(spark, sf_dir)
    return spark.sql(_Q6)


_Q9 = """
SELECT n_name                              AS nation,
       CAST(year(o_orderdate) AS BIGINT)   AS o_year,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS profit
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN part p     ON p.p_partkey  = l.l_partkey
JOIN supplier s ON s.s_suppkey  = l.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%gear%'
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("sql_tpch_q9", oracle=_Q9)
def sql_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 (product-type profit) shape through the SQL frontend:
    revenue on '%gear%' parts by supplier nation and order year — a
    five-way star join grouped on two dim attributes, the SAME ANSI
    string on both engines (cf. TPC-H spec Q9; the fixture schema has no
    partsupp, so profit is revenue without the supplycost term — shape
    over letter, as with q2/q8/q20).

    The '%gear%' LIKE prunes part before the join (Catalyst pushes it
    into the scan); part and the supplier→nation chain broadcast; the one
    fact shuffle is the grouped aggregate.  |nations|×|years| output is
    bounded, ORDER BY (nation, o_year) is unique."""
    register_views(spark, sf_dir)
    return spark.sql(_Q9)


# --------------------------------------------------------------------------
# distribution window functions (ntile / percent_rank / cume_dist / edges)
# --------------------------------------------------------------------------

@register(
    "window_distribution",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(NTILE(4) OVER w AS BIGINT)       AS quartile,
           ROUND(PERCENT_RANK() OVER w, 6)        AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6)           AS cume,
           FIRST_VALUE(o_orderkey) OVER w         AS cheapest_in_priority,
           LAST_VALUE(o_orderkey) OVER
               (PARTITION BY o_orderpriority
                ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                  AS priciest_in_priority
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions.  The ordering includes the
    unique o_orderkey tiebreaker: NTILE splits peer groups by physical row
    order, so only a total order makes it deterministic (percent_rank and
    cume_dist inherit determinism the same way).  last_value needs the
    explicit unbounded-following frame — the default frame stops at
    CURRENT ROW and silently returns the current row's value.  The
    oracle spells NULLS FIRST (null-catalog audit, r18: Spark ASC
    default; DuckDB defaults NULLS LAST — identical on non-NULL
    keys)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    w_full = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_in_priority"),
        F.last("o_orderkey").over(w_full).alias("priciest_in_priority"),
    )


# --------------------------------------------------------------------------
# TPC-H Q13 shape: outer join + two-level aggregation (distribution)
# --------------------------------------------------------------------------

@register(
    "custdist",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: orders-per-customer histogram.  Two-level aggregation —
    the outer count collapses |customers| rows to |distinct counts|; the
    left join keeps zero-order customers (COUNT of the nullable key counts
    matches only).  Both shuffles are on pre-aggregated data."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# null semantics: null groups, null-safe equality, null-aware counts
# --------------------------------------------------------------------------

@register(
    "null_semantics",
    oracle="""
    WITH o2 AS (
        SELECT o_orderkey, o_custkey, o_totalprice,
               NULLIF(o_orderstatus, 'O') AS status_n
        FROM orders
    ),
    grouped AS (
        SELECT status_n,
               CAST(COUNT(*) AS BIGINT)        AS n_rows,
               CAST(COUNT(status_n) AS BIGINT) AS n_nonnull,
               ROUND(SUM(o_totalprice), 2)     AS total
        FROM o2 GROUP BY status_n
    ),
    pairs AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nullsafe_pairs
        FROM (SELECT status_n FROM o2 WHERE o_orderkey % 100 = 0) a
        JOIN (SELECT status_n FROM o2 WHERE o_orderkey % 100 = 1) b
          ON a.status_n IS NOT DISTINCT FROM b.status_n
    )
    SELECT g.status_n, g.n_rows, g.n_nonnull, g.total, p.n_nullsafe_pairs
    FROM grouped g CROSS JOIN pairs p
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null semantics pinned end-to-end: NULLIF-derived null keys form
    their own GROUP BY group; COUNT(*) vs COUNT(col) differ on it;
    null-safe equality (``eqNullSafe`` ≡ ``IS NOT DISTINCT FROM``) joins
    null keys to null keys where ``=`` would drop them.  The null-safe
    join still hash-partitions (null is an ordinary key value to the
    partitioner), so the plan is a real equi-join, not a nested loop."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_n"),
    )
    grouped = o.groupBy("status_n").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("status_n").alias("n_nonnull"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
    a = o.where(F.col("o_orderkey") % 100 == 0).select(
        F.col("status_n").alias("sa")
    )
    b = o.where(F.col("o_orderkey") % 100 == 1).select(
        F.col("status_n").alias("sb")
    )
    pairs = (
        a.join(b, F.col("sa").eqNullSafe(F.col("sb")))
        .agg(F.count(F.lit(1)).alias("n_nullsafe_pairs"))
    )
    return grouped.crossJoin(F.broadcast(pairs))


# --------------------------------------------------------------------------
# TPC-H Q7 shape: two-nation volume shipping (double dimension role-play)
# --------------------------------------------------------------------------

@register(
    "volume_shipping",
    oracle="""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: the same dimension (nation) joined in two roles — supplier
    nation and customer nation — with a symmetric pair filter.  Both
    nation sides broadcast (25 rows); the fact chain
    lineitem⋈orders⋈customer shuffles on its keys once each; the pair
    predicate prunes before aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q10 shape: returned-item revenue ranking
# --------------------------------------------------------------------------

@register(
    "returned_items_top",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_items_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: revenue lost to returns per customer, global top-20.
    The returnflag filter pushes to the lineitem scan; nation broadcasts;
    the final top-20 plans TakeOrderedAndProject (no full sort), with
    c_custkey tiebreak for determinism."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# data profiling (per-column quality stats in one pass)
# --------------------------------------------------------------------------

_PROFILE_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderpriority",
]


@register(
    "table_profile",
    oracle="""
    SELECT 'o_orderkey' AS col_name,
           CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)   AS n_distinct,
           CAST(MIN(o_orderkey) AS VARCHAR)             AS min_value,
           CAST(MAX(o_orderkey) AS VARCHAR)             AS max_value
    FROM orders
    UNION ALL
    SELECT 'o_custkey', CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
           CAST(COUNT(DISTINCT o_totalprice) AS BIGINT),
           CAST(ROUND(MIN(o_totalprice), 2) AS VARCHAR),
           CAST(ROUND(MAX(o_totalprice), 2) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority',
           CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT),
           MIN(o_orderpriority), MAX(o_orderpriority)
    FROM orders
    """,
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling summary (deequ-style): null count, distinct count,
    min/max per column, emitted long-format.

    One wide aggregate computes every column's stats in a single scan +
    single shuffle (COUNT DISTINCT columns expand internally but share the
    pass); the per-column rows are then unpivoted driver-free via a
    literal stack.  At 100 TB swap exact distincts for
    approx_count_distinct — same shape, sketch state.  Min/max stringified
    to keep one output schema across column types (doubles rounded 2dp to
    avoid repr drift).

    r19 perf: the 5-way COUNT DISTINCT rewrites to an Expand that
    multiplies the scan ×6 before the partial aggregate, and fixture
    parquet is one unsplittable row group — so the whole Expand+partial
    ran on ONE core.  The r17 conditional fixture-gate repartition
    (fires only when the scan yields fewer partitions than cores;
    multi-split real input never pays the shuffle) parallelizes it:
    measured med 2.14 → 1.64 s warm at sf0.1, values identical
    (OPTIMIZATION_r19.md §2)."""
    o = load_table(spark, sf_dir, "orders")
    par = spark.sparkContext.defaultParallelism
    if o.rdd.getNumPartitions() < par:
        o = o.repartition(par)
    aggs = []
    for c in _PROFILE_COLS:
        mn, mx = F.min(c), F.max(c)
        if c == "o_totalprice":
            mn, mx = F.round(mn, 2), F.round(mx, 2)
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            mn.cast("string").alias(f"{c}__min"),
            mx.cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack_args}) AS "
        "(col_name, n_nulls, n_distinct, min_value, max_value)"
    )


# --------------------------------------------------------------------------
# TPC-H Q14 shape: conditional revenue share (promo ratio)
# --------------------------------------------------------------------------

@register(
    "promo_revenue",
    oracle="""
    SELECT ROUND(
             100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
                   / SUM(l.l_extendedprice * (1 - l.l_discount)), 6)
               AS promo_pct,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4)
               AS total_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1996-07-01'
    """,
)
def promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo share of revenue in a date window.  part
    broadcasts (bounded catalog); the date filter pushes to the lineitem
    scan; the conditional ratio folds to one row — ratio computed on
    unrounded sums, rounded once at the end."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_pct"),
            F.round(F.sum(rev), 4).alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q19 shape: disjunctive multi-predicate join filter
# --------------------------------------------------------------------------

@register(
    "disjunctive_filter_join",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lines,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity >= 10 AND l.l_quantity <= 35)
       OR (p.p_brand = 'Brand#20' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity >= 20 AND l.l_quantity <= 50)
    """,
)
def disjunctive_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR-of-ANDs predicate spanning both join sides.
    Catalyst splits it: the parts of each disjunct that reference only one
    side (brand+size, quantity alone cannot be split since every disjunct
    mixes sides) stay as a post-join filter, but the common join key is
    still an equi-join — the classic case where a naive engine falls back
    to a cross product and Spark does not."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & q.between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#13")
            & F.col("p_size").between(10, 30)
            & q.between(10, 35)
        )
        | (
            (F.col("p_brand") == "Brand#20")
            & F.col("p_size").between(20, 50)
            & q.between(20, 50)
        )
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(rev), 4).alias("revenue"),
        )
    )


# --------------------------------------------------------------------------
# TPC-H Q15 shape: aggregate → scalar-subquery max → filter (top supplier)
# --------------------------------------------------------------------------

@register(
    "top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           ROUND(r.total_rev, 4) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE ROUND(r.total_rev, 4) =
          (SELECT ROUND(MAX(total_rev), 4) FROM revenue)
    """,
)
def top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: per-supplier revenue in a window, keep the supplier(s)
    achieving the global max — an aggregate feeding a scalar subquery of
    its own max.  Spark form: compute revenue once, cross-join the 1-row
    max (broadcast), filter on ROUNDED equality; supplier dim broadcasts.

    Parity rule: within one engine the exact equality is safe (both sides
    come from the same aggregation output), but ACROSS engines two
    suppliers whose revenues differ only in last-ulp summation noise can
    produce different winner sets — the Q15 known hazard.  Both engines
    compare at 4dp (r6 rule: the discount products carry exactly 4
    decimals, so 4dp values never sit on a rounding boundary — unlike the
    old 2dp compare, which could hit half-cent ties)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_rev"
        )
    )
    max_rev = revenue.agg(
        F.round(F.max("total_rev"), 4).alias("max_rev")
    )
    return (
        revenue.crossJoin(F.broadcast(max_rev))
        .where(F.round("total_rev", 4) == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round("total_rev", 4).alias("total_revenue"),
        )
    )


# --------------------------------------------------------------------------
# Q11-flavored concentration: groups exceeding a share of the global total
# --------------------------------------------------------------------------

@register(
    "nation_concentration",
    oracle="""
    SELECT s_nationkey,
           ROUND(SUM(s_acctbal), 2) AS nation_balance,
           ROUND(SUM(s_acctbal) /
                 (SELECT SUM(s_acctbal) FROM supplier), 6) AS share
    FROM supplier
    GROUP BY s_nationkey
    HAVING SUM(s_acctbal) > 0.04 * (SELECT SUM(s_acctbal) FROM supplier)
    """,
)
def nation_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose share of a GLOBAL aggregate exceeds a
    threshold — the scalar subquery of the total is computed once and
    broadcast into both the HAVING filter and the share projection (the
    naive form recomputes the global sum per reference)."""
    s = load_table(spark, sf_dir, "supplier")
    per_nation = s.groupBy("s_nationkey").agg(
        F.sum("s_acctbal").alias("bal")
    )
    total = s.agg(F.sum("s_acctbal").alias("total_bal"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .where(F.col("bal") > 0.04 * F.col("total_bal"))
        .select(
            "s_nationkey",
            F.round("bal", 2).alias("nation_balance"),
            F.round(F.col("bal") / F.col("total_bal"), 6).alias("share"),
        )
    )


@register(
    "pareto_revenue",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, SUM(o_totalprice) AS rev
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, rev,
               ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rk,
               COUNT(*) OVER ()  AS n_cust,
               SUM(rev) OVER ()  AS total_rev,
               SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum_rev
        FROM per_cust
    )
    SELECT CAST((rk - 1) * 10 // n_cust AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT)          AS n_customers,
           ROUND(MAX(cum_rev / total_rev), 6) AS cum_revenue_share
    FROM ranked
    GROUP BY 1
    """,
)
def pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC concentration: customers ranked by revenue, cumulative
    revenue share at each decile — "do the top 10% of customers carry
    50% of revenue".

    Registered path: delegates to the range-parallel decomposition
    (``_pareto_deciles``, shared with ``pareto_revenue_scale``) — the
    round-4 verdict asked for no data-sized SinglePartition sort in the
    registered pareto path.  The single-window form is kept as
    ``pareto_revenue_window_exact`` (unregistered): it is the semantic
    spec the oracle SQL mirrors and the equivalence witness
    ``tests/test_plans.py::test_pareto_scale_matches_exact_tier`` runs.
    Share is a ratio of same-plan sums, rounded 6dp for cross-engine
    summation order; the decile key is ((rk-1)*10) div n so rank n lands
    in decile 9 and the last decile's cumulative share is exactly 1.0
    (round-3 verdict: the old rk*10 div n key mapped the last rank to
    decile 10 and filtered that customer out)."""
    return _pareto_deciles(spark, sf_dir)


def pareto_revenue_window_exact(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The one-global-window Pareto form — rank, total, and running sum
    computed from a single sort.  EXACT tier only (the global-order
    window is a SinglePartition sort over every customer): unregistered,
    kept as the equivalence witness for the range-parallel registered
    path."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    w_order = Window.orderBy(F.col("rev").desc(), "o_custkey")
    w_all = Window.partitionBy()
    w_cum = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = per_cust.select(
        "rev",
        F.row_number().over(w_order).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n_cust"),
        F.sum("rev").over(w_all).alias("total_rev"),
        F.sum("rev").over(w_cum).alias("cum_rev"),
    )
    return (
        ranked.withColumn(
            "decile", F.expr("((rk - 1) * 10) div n_cust").cast("long")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.round(
                F.max(F.col("cum_rev") / F.col("total_rev")), 6
            ).alias("cum_revenue_share"),
        )
    )


@register(
    "pareto_revenue_scale",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey, SUM(o_totalprice) AS rev
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT o_custkey, rev,
               ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rk,
               COUNT(*) OVER ()  AS n_cust,
               SUM(rev) OVER ()  AS total_rev,
               SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS cum_rev
        FROM per_cust
    )
    SELECT CAST((rk - 1) * 10 // n_cust AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT)          AS n_customers,
           ROUND(MAX(cum_rev / total_rev), 6) AS cum_revenue_share
    FROM ranked
    GROUP BY 1
    """,
)
def pareto_revenue_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``pareto_revenue`` without the single-partition global sort — the
    implementation that survives 100 TB, producing the identical result
    (same oracle SQL).

    Exact global ranks WITHOUT a global-order window, via the classic
    zipWithIndex decomposition:

    1. ``repartitionByRange`` on (rev DESC, custkey): a sampled range
       shuffle — every partition holds a contiguous, non-overlapping rank
       range, each sorted LOCALLY in parallel (no SinglePartition sort).
    2. ``monotonically_increasing_id`` after the in-partition sort encodes
       (partition_id << 33) + local position, giving the per-partition
       offset-free rank component.
    3. Per-partition row counts (one tiny aggregate, ≤ parallelism rows)
       turn into rank offsets with a window over that scalar-sized frame;
       broadcast back.  global rank = offset + local index + 1.
    4. Deciles by ((rk-1)*10) div n, per-decile sums, and the cumulative
       share via a window over the ≤10 decile rows.

    The only SinglePartition exchanges operate on ≤ max(parallelism, 10)
    rows; all per-customer work is range-parallel.  The range-partitioned
    frame is persisted because monotonically_increasing_id is
    NONDETERMINISTIC — offsets and indexes must come from one
    materialization; the output (10 rows) is materialized eagerly so the
    intermediate can be unpersisted before returning."""
    return _pareto_deciles(spark, sf_dir)


def _pareto_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared range-parallel Pareto body (see ``pareto_revenue_scale``)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum("o_totalprice").alias("rev")
    )
    parallelism = spark.sparkContext.defaultParallelism
    pc = (
        per_cust.repartitionByRange(
            parallelism, F.col("rev").desc(), "o_custkey"
        )
        .sortWithinPartitions(F.col("rev").desc(), "o_custkey")
        .select("rev", F.monotonically_increasing_id().alias("mid"))
        .select(
            "rev",
            F.shiftright("mid", 33).alias("pid"),
            F.expr("mid & 8589934591").alias("idx"),  # low 33 bits
        )
        .persist()
    )
    sizes = pc.groupBy("pid").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("rev").alias("part_rev")
    )
    w_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = sizes.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    totals = sizes.agg(
        F.sum("cnt").alias("n_cust"), F.sum("part_rev").alias("total_rev")
    )
    ranked = (
        pc.join(F.broadcast(offsets), "pid")
        .crossJoin(F.broadcast(totals))
        .select(
            "rev",
            (F.col("off") + F.col("idx") + 1).alias("rk"),
            "n_cust",
            "total_rev",
        )
    )
    per_decile = (
        ranked.withColumn(
            "decile", F.expr("((rk - 1) * 10) div n_cust").cast("long")
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev").alias("dec_rev"),
            F.max("total_rev").alias("total_rev"),
        )
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    out = per_decile.select(
        "decile",
        "n_customers",
        F.round(
            F.sum("dec_rev").over(w_cum) / F.col("total_rev"), 6
        ).alias("cum_revenue_share"),
    ).persist()
    out.count()  # materialize so the nondeterministic frame can be freed
    pc.unpersist()
    return out
