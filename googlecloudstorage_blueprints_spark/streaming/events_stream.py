"""Structured Streaming twins of the batch event operators
(SURVEY.md §2.B #20-#21 streaming members).

The batch forms in ``operators/events.py`` are canonical (oracle-checked);
these twins run the same logic as an incremental streaming job:

- tumbling window + watermark (late data dropped after 10 minutes);
- session windows via ``session_window`` (gap-close semantics that mirror
  the batch lag/cumsum sessionization).

The fixture ``events`` table is replayed as a file stream (one parquet) —
the same code runs against a Kafka/rate source by swapping ``readStream``
options.  Tests drive them with ``trigger(availableNow=True)`` into a
memory sink, which processes the whole backlog incrementally and stops.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from googlecloudstorage_blueprints_spark.session import apply_runtime_conf
from googlecloudstorage_blueprints_spark.sources.catalog import (
    normalize_timestamps,
)

WATERMARK = "10 minutes"
SESSION_GAP = "30 minutes"


def read_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Catalog ``table`` as a file-source stream, with the batch catalog's
    timestamp rule (``sources.catalog.normalize_timestamps``: int64 nanos
    → µs, every TIMESTAMP_NTZ → TIMESTAMP — watermarks and window()
    require TIMESTAMP), so any fixture vintage streams the way it loads.

    The fixture directory holds all tables; ``glob`` (default
    ``<table>.parquet``) scopes the stream to that table's file(s).
    ``max_files_per_trigger=1`` over a multi-file directory replays
    history as MULTIPLE micro-batches — how tests exercise cross-batch
    state (open sessions, timeouts) instead of collapsing the backlog into
    one batch."""
    apply_runtime_conf(spark)
    glob = glob if glob is not None else f"{table}.parquet"
    static = spark.read.option("pathGlobFilter", glob).parquet(sf_dir)
    reader = spark.readStream.schema(static.schema).option(
        "pathGlobFilter", glob
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_timestamps(reader.parquet(sf_dir), table)


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Events as a file-source stream (``read_table_stream``)."""
    return read_table_stream(
        spark, sf_dir, "events", glob, max_files_per_trigger
    )


def streaming_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows with a 10-minute watermark — the streaming
    twin of ``events_tumbling_agg``.  In append mode a window emits once
    its watermark passes; counts match the batch form for the replayed
    fixture because the backlog is finite."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
            "n_events",
            "total_value",
        )
    )


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user via ``session_window`` — the
    streaming twin of ``events_sessionize``/``events_session_stats``."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), SESSION_GAP).alias("win"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("start_us"),
            F.unix_micros(F.col("win.end")).alias("end_us"),
            "n_events",
            "total_value",
        )
    )


def run_stream_to_memory(
    df: DataFrame, name: str, timeout_sec: int = 120, mode: str = "append"
) -> DataFrame:
    """Drive a streaming DataFrame through availableNow into a memory sink
    and return the materialized result (test/smoke harness)."""
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_sec)
    return df.sparkSession.table(name)


def streaming_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the (batch)
    orders-per-user dimension.

    The static side is planned per micro-batch — no state store involved,
    and a broadcast of the pre-aggregated dimension keeps the stream side
    shuffle-free.  This is the canonical enrichment topology: facts
    stream, dimensions are tables."""
    events = read_events_stream(spark, sf_dir)
    user_orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("lifetime_value"),
        )
    )
    return events.join(F.broadcast(user_orders), "user_id", "left_outer").select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("lifetime_value", F.lit(0.0)).alias("lifetime_value"),
    )


def run_stream_to_partitioned_parquet(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    timeout_sec: int = 120,
) -> None:
    """Drive a stream into partitioned parquet via ``foreachBatch`` —
    each micro-batch goes through the same layout-aware batch writer
    (repartition-first, bounded file counts) as ``sinks.write_partitioned``,
    in append mode so batches accumulate.  checkpointLocation makes the
    sink restartable exactly-once per epoch."""
    from googlecloudstorage_blueprints_spark.sinks import write_partitioned

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        write_partitioned(batch_df, path, partition_by, mode="append")

    query = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{path}_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination(timeout_sec)


def streaming_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_anomaly``: score each incoming event
    against per-type (mu, sigma) computed from the BATCH history — the
    canonical "train offline, score online" topology.

    The stats dimension is tiny (|event types| rows), broadcast per
    micro-batch; scoring is map-only on the stream — no watermark and no
    state store, so the op scales with stream throughput alone.  The
    6dp-rounded z-score threshold mirrors the batch op's cross-engine
    parity rule."""
    events = read_events_stream(spark, sf_dir)
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table

    history = load_table(spark, sf_dir, "events")
    stats = history.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_pop("value").alias("sigma"),
    )
    zscore = F.round(
        (F.col("value") - F.col("mu")) / F.col("sigma"), 6
    )
    return (
        events.join(F.broadcast(stats), "event_type")
        .where((F.col("sigma") > 0) & (F.abs(zscore) > 2.5))
        .select("event_id", "event_type", "value", zscore.alias("zscore"))
    )


def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus curation: the quality gates of
    ``quality_filter_funnel`` applied to a DOCUMENT stream — new corpus
    shards pass or fail as they land, no batch recompute.

    All three gates are per-document (length, token count, top-token
    share), so the op is map-only on the stream: the token statistics
    come from one in-row aggregation over the split tokens, never a
    corpus-wide shuffle — the property that makes the filter streamable
    at all.  (``aggregate``'s per-element lambdas are interpreted, but
    here they run once per DOCUMENT on a bounded token array, not in a
    corpus-wide hot loop — the explode/groupBy form used by the batch
    funnel is not available under streaming without state.)"""
    stream = read_table_stream(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tokens = F.size(toks)
    # top-token share via in-row frequency: for each distinct token,
    # count its occurrences with a filter() pass; max over distincts
    max_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda w: F.size(F.filter(toks, lambda t: t == w)),
        )
    )
    return (
        stream.withColumn("n_tokens", n_tokens.cast("long"))
        .withColumn(
            "top_token_share",
            max_cnt.cast("double") / F.col("n_tokens"),
        )
        .where(
            (F.col("n_chars") >= 150)
            & (F.col("n_tokens") >= 30)
            & (F.col("top_token_share") <= 0.15)
        )
        .select("doc_id", "lang", "source", "n_chars", "n_tokens",
                "top_token_share")
    )


def streaming_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static decontamination gate: incoming corpus documents are
    checked against a STATIC held-out eval-set shingle index before
    admission — the streaming twin of ``benchmark_contamination``, run as
    each crawl shard lands instead of as a batch sweep.

    The eval index (distinct 3-gram shingles of the ``doc_id % 97 == 0``
    slice — ~1% of the corpus) is a static frame broadcast into each
    micro-batch; the stream side explodes its shingles with the same
    codegen ``shingle_structs`` the batch op uses and LEFT-SEMI joins the
    index.  Map-only: no watermark, no state store — throughput-bound,
    which is what an admission gate must be.  Output rows are
    (doc_id, source, shingle) HITS; per-doc aggregation/dedup is the
    (stateful) consumer's choice — emitting hits keeps the gate itself
    stateless at any scale."""
    from googlecloudstorage_blueprints_spark.functions.columns import (
        shingle_structs,
    )
    from googlecloudstorage_blueprints_spark.operators.training import (
        CONTAM_EVAL_MOD,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table

    apply_runtime_conf(spark)
    docs_static = load_table(spark, sf_dir, "documents")
    # the static side of a stream-static join re-plans per micro-batch:
    # persist the (small, ~1%-of-corpus distinct-shingle) index so each
    # batch broadcasts the cached frame instead of re-running the
    # explode+distinct.  Its lifetime is the stream's — the caller owns
    # unpersist after stopping the query (in production this index is a
    # precomputed table, refreshed when the eval suite changes).
    eval_index = (
        docs_static.where(
            F.col("text").isNotNull()
            & (F.col("doc_id") % CONTAM_EVAL_MOD == 0)
        )
        .select(F.explode_outer(shingle_structs("text", 3)).alias("p"))
        .select(F.concat_ws(" ", "p.0", "p.1", "p.2").alias("s"))
        .distinct()
        .persist()
    )
    stream = read_table_stream(spark, sf_dir, "documents")
    hits = (
        stream.where(
            F.col("text").isNotNull()
            & (F.col("doc_id") % CONTAM_EVAL_MOD != 0)
        )
        .select(
            "doc_id",
            "source",
            F.explode_outer(shingle_structs("text", 3)).alias("p"),
        )
        .select(
            "doc_id", "source", F.concat_ws(" ", "p.0", "p.1", "p.2").alias("s")
        )
        .join(F.broadcast(eval_index), "s", "left_semi")
    )
    return hits


def streaming_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window twin of ``events_sliding_agg``: 1-hour windows every
    30 minutes under a watermark — each event feeds two window states."""
    events = read_events_stream(spark, sf_dir)
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.date_format("win.start", "yyyy-MM-dd HH:mm:ss").alias(
                "win_start"
            ),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# Native watermarked stream-stream interval join
# ---------------------------------------------------------------------------

# State-size knob for the order⋈shipment join: an order's state is
# retained until the shipments watermark passes o_orderdate + W (and a
# shipment's until the orders watermark passes l_shipdate + W).  The
# synthetic fixture draws order/ship dates independently (latency spans
# ±~2500 days), so the default covers it for batch-equal replay; a
# production fulfilment feed sets this to the SLA bound (~130 days for
# TPC-H-spec data), making join state ≈ window × arrival rate — the
# reason to use a native stream-stream join at 100 TB instead of an
# unbounded keyed buffer.
SHIP_JOIN_WINDOW_DAYS = 2500


def streaming_ship_latency_join(
    spark: SparkSession,
    sf_dir: str,
    orders_dir: str | None = None,
    lineitem_dir: str | None = None,
    orders_glob: str = "orders.parquet",
    lineitem_glob: str = "lineitem.parquet",
    window_days: int = SHIP_JOIN_WINDOW_DAYS,
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """NATIVE stream-stream interval join — the order-intake feed joined
    to the shipments feed inside Spark's watermark-bounded join state,
    the one streaming primitive the keyed-state twins don't exercise
    (they buffer per key forever; here BOTH sides' buffers are evicted
    once the opposite watermark passes the interval bound, so state is
    window × arrival rate at any corpus size).  Emits one row per
    matched line — (o_orderkey, l_linenumber, quarter, lat_days), the
    per-line core of batch ``ship_latency_quarterly``
    (operators/segments.py) — and the batch op's quarterly rollup is a
    stateless regroup of the feed, test-pinned batch-equal under
    aligned time-ordered splits.  The flip side of bounded state is the
    watermark CONTRACT: a match arriving after the opposite watermark
    passed its interval is DROPPED, not buffered — pinned by a planted
    late-shipment test (the documented divergence-from-batch that every
    bounded-state join accepts).

    Latency is integer-µs subtraction floored to whole days and the
    quarter label is derived POST-join under the UTC-pinned session —
    the batch op's exact expressions."""
    joined = _ship_latency_joined(
        spark,
        sf_dir,
        orders_dir,
        lineitem_dir,
        orders_glob,
        lineitem_glob,
        window_days,
        watermark,
        max_files_per_trigger,
    )
    return joined.select(
        "o_orderkey",
        "l_linenumber",
        F.date_format(
            F.date_trunc("quarter", "o_orderdate"), "yyyy-MM"
        ).alias("quarter"),
        F.expr(
            "(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
            " div 86400000000"
        ).alias("lat_days"),
    )


def _ship_latency_joined(
    spark: SparkSession,
    sf_dir: str,
    orders_dir: str | None,
    lineitem_dir: str | None,
    orders_glob: str,
    lineitem_glob: str,
    window_days: int,
    watermark: str,
    max_files_per_trigger: int | None,
) -> DataFrame:
    """The raw watermarked order⋈shipment interval join (event-time
    columns retained for downstream stateful chaining)."""
    o = read_table_stream(
        spark,
        orders_dir or sf_dir,
        "orders",
        orders_glob,
        max_files_per_trigger,
    ).select("o_orderkey", "o_orderdate")
    li = read_table_stream(
        spark,
        lineitem_dir or sf_dir,
        "lineitem",
        lineitem_glob,
        max_files_per_trigger,
    ).select("l_orderkey", "l_linenumber", "l_shipdate")
    o = o.withWatermark("o_orderdate", watermark)
    li = li.withWatermark("l_shipdate", watermark)
    # the interval bound must sit DIRECTLY on the two event-time
    # columns — that is the form Spark's stream-stream join recognizes
    # to derive state watermarks (an opaque unix_micros() rewrite would
    # join correctly but keep unbounded state)
    return li.join(
        o,
        F.expr(
            f"""
            l_orderkey = o_orderkey
            AND l_shipdate >= o_orderdate - INTERVAL {window_days} DAYS
            AND l_shipdate <= o_orderdate + INTERVAL {window_days} DAYS
            """
        ),
    )


def streaming_ship_latency_windows(
    spark: SparkSession,
    sf_dir: str,
    orders_dir: str | None = None,
    lineitem_dir: str | None = None,
    orders_glob: str = "orders.parquet",
    lineitem_glob: str = "lineitem.parquet",
    window_days: int = SHIP_JOIN_WINDOW_DAYS,
    agg_window: str = "90 days",
    watermark: str = "1 day",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """CHAINED stateful operators in ONE streaming query — the
    stream-stream interval join feeding a tumbling event-time window
    aggregate downstream, the Spark-4 capability none of the other
    twins exercises (they each run a single stateful stage).  The join
    keeps ``o_orderdate`` alive so the second stateful operator can
    window on it; each finalized 90-day window emits
    (w_start, n_lines, total_lat_days, avg_lat_days) exactly ONCE,
    when the global watermark passes the window end — so a finite
    replay needs a far-future sentinel pair on BOTH feeds to flush the
    tail (the r9 sentinel-drain technique; watermark advance is
    min-across-sources, a lone-side sentinel stalls it).  Pinned
    batch-equal against the identical epoch-anchored window expression
    computed in batch, and emit-once (no window key repeats).

    Scale: join state is window_days × arrival rate (see
    ``streaming_ship_latency_join``); agg state is one row per open
    90-day window — both bounded."""
    joined = _ship_latency_joined(
        spark,
        sf_dir,
        orders_dir,
        lineitem_dir,
        orders_glob,
        lineitem_glob,
        window_days,
        watermark,
        max_files_per_trigger,
    )
    lat = F.expr(
        "(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
        " div 86400000000"
    )
    return (
        joined.groupBy(F.window("o_orderdate", agg_window).alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(lat).cast("long").alias("total_lat_days"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            "n_lines",
            "total_lat_days",
            (
                F.col("total_lat_days").cast("double") / F.col("n_lines")
            ).alias("avg_lat_days"),
        )
    )
