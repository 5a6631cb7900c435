"""Smoke the Structured Streaming twins against the replayed fixture and
check they agree with their canonical batch forms where semantics allow."""

from __future__ import annotations

import pytest

# r19: excluded from the default driver-verify lane (pytest.ini) — this
# module is builder-close-out gated via `-m ""`; see pytest.ini.
pytestmark = pytest.mark.slow

import pyspark.sql.functions as F

from googlecloudstorage_blueprints_spark.operators import all_queries
from googlecloudstorage_blueprints_spark.streaming import (
    merge_digest_rows,
    run_stream_to_memory,
    streaming_dedup,
    streaming_session_window,
    streaming_stateful_sessions,
    streaming_tumbling_agg,
)
from tests.landing import Landing, halves
from tests.test_streaming_pins import _batch_transition_counts

SF = "/root/testdata/sf0.001"


def test_streaming_tumbling_matches_batch(spark):
    stream_df = streaming_tumbling_agg(spark, SF)
    assert stream_df.isStreaming
    got = run_stream_to_memory(stream_df, "tumbling_smoke")
    got_rows = {
        r["bucket"]: (r["n_events"], r["total_value"]) for r in got.collect()
    }
    batch = all_queries()["events_tumbling_agg"](spark, SF)
    batch_rows = {
        r["bucket"]: (r["n_events"], r["total_value"]) for r in batch.collect()
    }
    # the replayed backlog is finite: every batch bucket must appear with
    # identical counts (watermark can't drop anything in availableNow replay
    # of ordered history except possibly the final open window)
    missing = {
        k: v for k, v in batch_rows.items()
        if k in got_rows and got_rows[k] != v
    }
    assert not missing, f"stream/batch divergence: {missing}"
    assert len(got_rows) >= len(batch_rows) - 1


def test_streaming_session_window_smoke(spark):
    stream_df = streaming_session_window(spark, SF)
    assert stream_df.isStreaming
    got = run_stream_to_memory(stream_df, "session_smoke")
    rows = got.collect()
    assert rows, "no sessions emitted"
    # session invariants: start<=end, positive counts
    bad = [
        r for r in rows
        if r["start_us"] > r["end_us"] or r["n_events"] <= 0
    ]
    assert not bad
    # total events across sessions ≤ fixture events (watermark may hold
    # back the tail session), and > 0
    total = sum(r["n_events"] for r in rows)
    n_fixture = (
        spark.read.parquet(f"{SF}/events.parquet").count()
    )
    assert 0 < total <= n_fixture


def test_stateful_sessions_match_builtin_session_window(spark):
    """The custom applyInPandasWithState sessionizer must agree with the
    built-in session_window on every session both emit (same 30-min gap)."""
    custom = run_stream_to_memory(
        streaming_stateful_sessions(spark, SF), "stateful_sessions"
    )
    custom_rows = {
        (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
        for r in custom.collect()
    }
    assert custom_rows, "no sessions emitted"
    builtin = run_stream_to_memory(
        streaming_session_window(spark, SF), "builtin_sessions"
    )
    # builtin session_window end = last_ts + gap; custom end = last_ts
    gap_us = 30 * 60 * 1_000_000
    builtin_rows = {
        (r["user_id"], r["start_us"]): (r["end_us"] - gap_us, r["n_events"])
        for r in builtin.collect()
    }
    both = set(custom_rows) & set(builtin_rows)
    assert both, "no overlapping sessions to compare"
    diverged = {
        k: (custom_rows[k], builtin_rows[k])
        for k in both
        if custom_rows[k] != builtin_rows[k]
    }
    assert not diverged, f"custom/builtin divergence: {diverged}"


def test_streaming_dedup_smoke(spark):
    out = run_stream_to_memory(streaming_dedup(spark, SF), "dedup_smoke")
    got = out.select("event_id").collect()
    ids = [r["event_id"] for r in got]
    assert len(ids) == len(set(ids)), "duplicate event_ids survived"
    n_distinct = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("event_id").distinct().count()
    )
    assert len(ids) == n_distinct


def test_stream_static_join_enrichment(spark):
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_enriched,
    )

    out = run_stream_to_memory(
        streaming_enriched(spark, SF), "enriched_smoke"
    )
    rows = out.collect()
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert len(rows) == n_events, "left join must preserve every event"
    assert any(r["n_orders"] > 0 for r in rows), "no user matched orders"
    assert all(r["lifetime_value"] >= 0 for r in rows)


def test_stream_to_partitioned_parquet(spark, tmp_path):
    from googlecloudstorage_blueprints_spark.streaming import (
        run_stream_to_partitioned_parquet,
        streaming_enriched,
    )

    out = f"file:{tmp_path}/enriched"
    run_stream_to_partitioned_parquet(
        streaming_enriched(spark, SF), out, ["event_type"]
    )
    back = spark.read.parquet(out)
    n_events = spark.read.parquet(f"{SF}/events.parquet").count()
    assert back.count() == n_events
    import glob

    assert glob.glob(f"{tmp_path}/enriched/event_type=*"), "not partitioned"


def test_streaming_sliding_matches_batch(spark):
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_sliding_agg,
    )

    got = run_stream_to_memory(
        streaming_sliding_agg(spark, SF), "sliding_smoke"
    )
    got_rows = {
        r["win_start"]: (r["n_events"], r["total_value"])
        for r in got.collect()
    }
    batch_rows = {
        r["win_start"]: (r["n_events"], r["total_value"])
        for r in all_queries()["events_sliding_agg"](spark, SF).collect()
    }
    diverged = {
        k: (got_rows[k], batch_rows[k])
        for k in got_rows
        if k in batch_rows and got_rows[k] != batch_rows[k]
    }
    assert not diverged, f"stream/batch divergence: {diverged}"
    # watermark may hold back only the tail windows
    assert len(got_rows) >= len(batch_rows) - 2


def test_stateful_sessions_across_multiple_microbatches(spark, tmp_path):
    """Replay history as 3 time-ordered micro-batches
    (maxFilesPerTrigger=1): sessions spanning batch boundaries must carry
    through keyed state and still agree with the single-batch run."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_stateful_sessions,
    )

    events = spark.read.parquet(f"{SF}/events.parquet").orderBy("ts")
    n = events.count()
    rows = events.collect()
    schema = events.schema
    third = n // 3
    chunks = [rows[:third], rows[third : 2 * third], rows[2 * third :]]
    multi = (
        Landing(spark, tmp_path)
        .plant(*(spark.createDataFrame(c, schema) for c in chunks))
        .replay(streaming_stateful_sessions, "stateful_multibatch")
    )
    multi_rows = {
        (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
        for r in multi.collect()
    }
    assert multi_rows, "no sessions emitted across micro-batches"

    single = run_stream_to_memory(
        streaming_stateful_sessions(spark, SF), "stateful_singlebatch"
    )
    single_rows = {
        (r["user_id"], r["start_us"]): (r["end_us"], r["n_events"])
        for r in single.collect()
    }
    both = set(multi_rows) & set(single_rows)
    assert both, "no overlapping sessions between replay modes"
    diverged = {
        k: (multi_rows[k], single_rows[k])
        for k in both
        if multi_rows[k] != single_rows[k]
    }
    assert not diverged, f"multi/single batch divergence: {diverged}"
    # cross-batch sessions only exist in the multi-batch run if state
    # carried; watermark advance between batches must also CLOSE sessions
    # the single availableNow batch holds back — so multi emits at least
    # as many sessions
    assert len(multi_rows) >= len(single_rows)


def test_streaming_anomaly_matches_batch(spark):
    """Stream-static anomaly scoring must flag exactly the rows the batch
    events_anomaly op flags (same history, same rounded-z threshold)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_anomaly,
    )

    stream_df = streaming_anomaly(spark, SF)
    assert stream_df.isStreaming
    got = run_stream_to_memory(stream_df, "anomaly_smoke")
    got_rows = {
        r["event_id"]: r["zscore"] for r in got.collect()
    }
    batch_rows = {
        r["event_id"]: r["zscore"]
        for r in all_queries()["events_anomaly"](spark, SF).collect()
    }
    assert got_rows == batch_rows


def test_streaming_quality_filter_matches_batch_funnel(spark):
    """The streaming gates must pass exactly the batch funnel's final
    survivor count (same thresholds, same per-doc metrics)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_quality_filter,
    )

    stream_df = streaming_quality_filter(spark, SF)
    assert stream_df.isStreaming
    got = run_stream_to_memory(stream_df, "qf_smoke")
    survivors = got.count()
    funnel = {
        r["stage"]: r["survivors"]
        for r in all_queries()["quality_filter_funnel"](spark, SF).collect()
    }
    assert survivors == funnel["03_max_repetition"]
    ids = [r["doc_id"] for r in got.collect()]
    assert len(ids) == len(set(ids))


def test_streaming_contamination_matches_batch(spark):
    """The stream-static admission gate must flag exactly the corpus docs
    the batch decontamination sweep flags (same shingles, same eval
    slice); the gate itself must be stateless (map-only, no watermark)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_contamination,
    )

    stream_df = streaming_contamination(spark, SF)
    assert stream_df.isStreaming
    got = run_stream_to_memory(stream_df, "contam_smoke")
    got_ids = {r["doc_id"] for r in got.select("doc_id").distinct().collect()}
    batch_ids = {
        r["doc_id"]
        for r in all_queries()["benchmark_contamination"](spark, SF).collect()
    }
    assert got_ids == batch_ids and len(batch_ids) > 0


def test_streaming_lsh_candidates_across_microbatches(spark, tmp_path):
    """Replaying the corpus as MULTIPLE micro-batches must produce the
    same pair set: residents from earlier batches pair with later
    arrivals only via the bucket state."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_lsh_candidates,
    )

    docs = load_table(spark, SF, "documents")
    got = (
        Landing(spark, tmp_path)
        .plant(
            docs.where(F.col("doc_id") % 2 == 0),
            docs.where(F.col("doc_id") % 2 == 1),
        )
        .replay(streaming_lsh_candidates, "lsh_cand_batches")
    )
    got_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in got.select("doc_a", "doc_b").distinct().collect()
    }
    single = run_stream_to_memory(
        streaming_lsh_candidates(spark, SF), "lsh_cand_single"
    )
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in single.select("doc_a", "doc_b").distinct().collect()
    }
    assert got_pairs == expected and len(expected) > 0


def test_streaming_lsh_candidates_idempotent_on_redelivery(spark, tmp_path):
    """At-least-once redelivery of the SAME docs must emit no new pairs
    and must not grow bucket state: arriving ids are filtered against the
    bucket residents before pairing (stateful.py _band_bucket_pairs)."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_lsh_candidates,
    )

    docs = load_table(spark, SF, "documents").where(F.col("doc_id") < 200)
    # the same doc set twice -> two micro-batches, the second a pure
    # replay of the first
    got = (
        Landing(spark, tmp_path / "twice")
        .plant(docs, docs)
        .replay(streaming_lsh_candidates, "lsh_cand_redeliver")
    )
    emitted = [
        (r["doc_a"], r["doc_b"], r["band_id"])
        for r in got.select("doc_a", "doc_b", "band_id").collect()
    ]
    # no duplicate emissions at all: replayed docs are dropped before
    # pairing, so the raw (non-distinct) emission count equals the
    # distinct pair set size
    assert len(emitted) == len(set(emitted))
    single = (
        Landing(spark, tmp_path / "once")
        .plant(docs)
        .replay(streaming_lsh_candidates, "lsh_cand_once")
    )
    expected = {
        (r["doc_a"], r["doc_b"], r["band_id"])
        for r in single.select("doc_a", "doc_b", "band_id").collect()
    }
    assert set(emitted) == expected


def test_streaming_sequence_pack_matches_batch_bins(spark):
    """Per-doc bin assignment from the running-state packer must equal
    the batch decomposition's over an in-order replay."""
    from googlecloudstorage_blueprints_spark.operators.training import (
        _packed_bins,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_sequence_pack,
    )

    got_df = run_stream_to_memory(
        streaming_sequence_pack(spark, SF), "seq_pack_smoke"
    )
    got = {
        (r["source"], r["doc_id"]): r["bin_id"] for r in got_df.collect()
    }

    d = load_table(spark, SF, "documents").where(F.col("text").isNotNull())
    toks = d.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    expected = {
        (r["source"], r["doc_id"]): r["bin_id"]
        for r in _packed_bins(toks).collect()
    }
    assert got == expected and len(expected) > 0


def test_streaming_gapfill_across_microbatches(spark, tmp_path):
    """A time-ordered two-batch replay (split on an hour boundary) fills
    the cross-batch gap from keyed state and still equals the batch op."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_gapfill,
    )

    events = load_table(spark, SF, "events")
    split = events.selectExpr(
        "date_trunc('hour', timestamp_micros(CAST("
        "percentile_approx(unix_micros(ts), 0.5) AS BIGINT))) AS m"
    ).collect()[0]["m"]
    got = (
        Landing(spark, tmp_path)
        .plant(
            events.where(F.col("ts") < F.lit(split)),
            events.where(F.col("ts") >= F.lit(split)),
        )
        .replay(streaming_gapfill, "gapfill_batches")
    )
    got_rows = {
        (r["user_id"], r["bucket"], r["observed"], r["filled_value"])
        for r in got.collect()
    }
    batch_rows = {
        (r["user_id"], r["bucket"], r["observed"], r["filled_value"])
        for r in all_queries()["events_gapfill"](spark, SF).collect()
    }
    assert got_rows == batch_rows


def test_streaming_gapfill_timer_evicts_idle_users(spark, tmp_path):
    """Once the watermark passes a user's last bucket + horizon, their
    state is evicted: a return after the horizon restarts the grid
    instead of emitting an unbounded catch-up fill."""
    import googlecloudstorage_blueprints_spark.streaming.stateful as st

    base = 1_600_000_000_000_000  # µs, on an hour boundary? normalize below
    base -= base % st.HOUR_US
    rows = [
        # user 1: one event, then silence
        (1, base + 10, 1.0),
        # user 2 keeps the watermark advancing: hours 0..6
        *[(2, base + h * st.HOUR_US + 20, 2.0) for h in range(7)],
        # user 1 returns 6 hours later — far past the 2h horizon
        (1, base + 6 * st.HOUR_US + 30, 3.0),
    ]
    # four micro-batches: user 1's return is ALONE in the last one — a
    # key with arriving data is never handed hasTimedOut=True, so the
    # eviction must fire in a batch where user 1 is silent (batch 3)
    land = Landing(spark, tmp_path)
    for off, chunk in (
        (0, rows[:1]),
        (100, rows[1:6]),
        (200, rows[6:8]),
        (300, rows[8:]),
    ):
        land.plant(
            spark.createDataFrame(
                [(off + i, r[0], r[1], r[2]) for i, r in enumerate(chunk)],
                "event_id long, user_id long, ts_us long, value double",
            ).selectExpr(
                "event_id", "user_id",
                "timestamp_micros(ts_us) AS ts", "value",
            )
        )
    got = land.replay(
        st.streaming_gapfill, "gapfill_evict", evict_horizon_us=2 * st.HOUR_US
    )
    u1 = sorted(
        (r["bucket"], r["observed"], r["filled_value"])
        for r in got.where(F.col("user_id") == 1).collect()
    )
    # evicted between the two sightings: exactly two observed rows and NO
    # filled catch-up rows spanning the 6-hour gap
    assert [o for _, o, _ in u1] == [True, True], u1
    assert len(u1) == 2


def test_streaming_latest_snapshot_idempotent_on_redelivery(spark, tmp_path):
    """Redelivering the whole backlog as a second micro-batch must emit
    ZERO new rows (every row loses the (ts_us, event_id) race to state)
    and the snapshot must still equal the batch operator."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_latest_snapshot,
    )

    src = f"{SF}/events.parquet"
    got = (
        Landing(spark, tmp_path)
        .plant(src, src)
        .replay(streaming_latest_snapshot, "snapshot_redelivery")
    )
    rows = got.collect()
    per_key = {}
    for r in rows:
        per_key.setdefault(r["user_id"], []).append(r)
    # one emission per key total: the redelivered batch advanced nothing
    multi = {k: v for k, v in per_key.items() if len(v) > 1}
    assert not multi, f"redelivery re-emitted for keys: {sorted(multi)[:5]}"
    got_rows = {
        (r["user_id"], r["event_id"], r["ts_us"], r["event_type"], r["value"])
        for r in rows
    }
    batch_rows = {
        (r["user_id"], r["event_id"], r["ts_us"], r["event_type"], r["value"])
        for r in all_queries()["latest_snapshot"](spark, SF).collect()
    }
    assert got_rows == batch_rows


def test_streaming_transition_matrix_across_microbatches(spark, tmp_path):
    """A time-ordered two-batch split must bridge the boundary through
    keyed state: per-user transitions spanning the split still count,
    and totals equal the batch op."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_transition_matrix,
    )

    events = load_table(spark, SF, "events")
    got_df = (
        Landing(spark, tmp_path)
        .plant(*halves(events))
        .replay(streaming_transition_matrix, "transition_batches")
    )
    got = {
        (r["src"], r["dst"]): r["total"]
        for r in got_df.groupBy("src", "dst")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert got == _batch_transition_counts(spark)


def test_streaming_cooccurrence_matches_batch_and_redelivery(
    spark, tmp_path
):
    """Summed pair emissions must equal the batch events_cooccurrence
    counts; redelivering the backlog as a second micro-batch must add
    ZERO emissions (seen-type sets absorb repeats)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_cooccurrence,
    )

    batch = {
        (r["type_a"], r["type_b"]): r["n_both"]
        for r in all_queries()["events_cooccurrence"](spark, SF).collect()
    }

    single = run_stream_to_memory(
        streaming_cooccurrence(spark, SF), "cooc_single"
    )
    got = {
        (r["type_a"], r["type_b"]): r["total"]
        for r in single.groupBy("type_a", "type_b")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert got == batch and len(batch) > 0

    redelivered = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_cooccurrence, "cooc_redelivery")
    )
    got2 = {
        (r["type_a"], r["type_b"]): r["total"]
        for r in redelivered.groupBy("type_a", "type_b")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert got2 == batch


def _batch_scd2(spark):
    return {
        (r["user_id"], r["valid_from_us"]): (
            r["event_type"],
            r["valid_to_us"],
        )
        for r in all_queries()["scd2_intervals"](spark, SF).collect()
    }


def _reduce_scd2_emissions(rows):
    """Changelog → table: per (user_id, valid_from_us) the closed form
    supersedes the open re-emission (same contract as latest_snapshot's
    newest-wins reduction)."""
    table = {}
    for r in rows:
        k = (r["user_id"], r["valid_from_us"])
        if k not in table or (
            table[k][1] is None and r["valid_to_us"] is not None
        ):
            table[k] = (r["event_type"], r["valid_to_us"])
    return table


def test_streaming_scd2_matches_batch(spark):
    """Reduced emissions over a single availableNow replay must equal the
    batch SCD2 interval reconstruction exactly, and every closed
    interval must have been emitted exactly once."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_scd2_intervals,
    )

    got = run_stream_to_memory(
        streaming_scd2_intervals(spark, SF), "scd2_single"
    ).collect()
    closed = [r for r in got if r["valid_to_us"] is not None]
    assert len(closed) == len(
        {(r["user_id"], r["valid_from_us"]) for r in closed}
    ), "a closed interval was emitted more than once"
    batch = _batch_scd2(spark)
    assert _reduce_scd2_emissions(got) == batch and len(batch) > 0


def test_streaming_scd2_across_microbatches(spark, tmp_path):
    """A time-ordered two-batch split must bridge the boundary through
    the open-interval state: an interval spanning the split closes with
    the correct valid_to from the later batch."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_scd2_intervals,
    )

    events = load_table(spark, SF, "events")
    got = (
        Landing(spark, tmp_path)
        .plant(*halves(events))
        .replay(streaming_scd2_intervals, "scd2_batches")
        .collect()
    )
    assert _reduce_scd2_emissions(got) == _batch_scd2(spark)


def test_streaming_scd2_idempotent_on_redelivery(spark, tmp_path):
    """Redelivering the whole backlog as a second micro-batch must emit
    ZERO rows (every row loses the (ts_us, event_id) race to state)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_scd2_intervals,
    )

    got = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_scd2_intervals, "scd2_redelivery")
        .collect()
    )
    # first batch emits closed+open rows; the redelivered copy adds none:
    # emission count equals the single-replay count, and the reduced
    # table still matches batch
    single = run_stream_to_memory(
        streaming_scd2_intervals(spark, SF), "scd2_single_again"
    ).collect()
    assert len(got) == len(single)
    assert _reduce_scd2_emissions(got) == _batch_scd2(spark)


def test_streaming_dau_wau_feed_matches_batch_and_redelivery(
    spark, tmp_path
):
    """The streaming activity-distinct feed must emit exactly the batch
    distinct (user, epoch-day) frame — the core the events_dau_wau
    decomposition rides on — and redelivering the backlog must add ZERO
    emissions (the seen-day set absorbs repeats)."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_dau_wau,
    )

    batch = {
        (r["user_id"], r["epoch_day"])
        for r in load_table(spark, SF, "events")
        .selectExpr(
            "user_id", "unix_micros(ts) div 86400000000 AS epoch_day"
        )
        .distinct()
        .collect()
    }

    single = run_stream_to_memory(
        streaming_dau_wau(spark, SF), "dau_single"
    ).collect()
    assert len(single) == len(batch), "duplicate or missing emissions"
    assert {(r["user_id"], r["epoch_day"]) for r in single} == batch

    redelivered = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_dau_wau, "dau_redelivery")
        .collect()
    )
    assert len(redelivered) == len(batch)
    assert {(r["user_id"], r["epoch_day"]) for r in redelivered} == batch


def test_streaming_dau_wau_rollup_equals_batch_operator(spark):
    """Rolling the emission stream up through the same 7-day-cover
    aggregation must reproduce the batch events_dau_wau table exactly —
    the end-to-end proof that the incremental feed carries everything
    the dashboard needs."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_dau_wau,
    )

    feed = run_stream_to_memory(
        streaming_dau_wau(spark, SF), "dau_rollup"
    )
    ud = feed.selectExpr(
        "user_id",
        "timestamp_micros(epoch_day * 86400000000) AS d",
    )
    dau = ud.groupBy("d").agg(F.count(F.lit(1)).alias("dau"))
    cover = ud.select(
        "user_id",
        F.explode_outer(
            F.sequence(
                "d",
                F.col("d") + F.expr("INTERVAL 6 DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("b"),
    )
    wau = cover.groupBy(F.col("b").alias("d")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    got = {
        r["day"]: (r["dau"], r["wau"])
        for r in dau.join(wau, "d")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"), "dau", "wau"
        )
        .collect()
    }
    batch = {
        r["day"]: (r["dau"], r["wau"])
        for r in all_queries()["events_dau_wau"](spark, SF).collect()
    }
    assert got == batch and len(batch) > 0


def test_streaming_checkpoint_restart_exactly_once(spark, tmp_path):
    """True restart semantics, not just in-session redelivery: run the
    CDC-compaction stream to a FILE sink with a checkpoint, stop it,
    drop the same backlog in again PLUS a genuinely new advancing
    update, and restart the SAME query (same checkpoint + sink).  The
    checkpoint must skip the already-committed source file entirely and
    the state store must absorb the non-advancing rows — the restarted
    run may emit ONLY the one advancing update."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_latest_snapshot,
    )

    land = Landing(spark, tmp_path).plant(f"{SF}/events.parquet")
    first = land.drain(streaming_latest_snapshot).count()
    assert first > 0

    # redeliver the identical backlog under a new name AND one advancing
    # row: newest ts_us + 1 for one user
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table

    top = (
        load_table(spark, SF, "events")
        .selectExpr(
            "user_id", "event_id", "ts", "event_type", "value",
            "unix_micros(ts) AS us",
        )
        .orderBy(F.col("us").desc())
        .limit(1)
        .collect()[0]
    )
    adv = spark.createDataFrame(
        [
            (
                top["event_id"] + 1_000_000,
                top["user_id"],
                "advanced",
                float(top["value"]),
                top["ts"],
            )
        ],
        "event_id long, user_id long, event_type string, value double,"
        " ts timestamp",
    ).selectExpr(
        "event_id",
        "timestamp_micros(unix_micros(ts) + 1) AS ts",
        "user_id",
        "'advanced' AS event_type",
        "value",
        "'{}' AS props",
    )
    land.plant(f"{SF}/events.parquet", adv)

    after = land.drain(streaming_latest_snapshot)
    total = after.count()
    assert total == first + 1, (
        f"restart must add exactly the one advancing row "
        f"(before={first}, after={total})"
    )
    newest = after.orderBy(F.col("ts_us").desc()).limit(1).collect()[0]
    assert newest["event_type"] == "advanced"


def _batch_trigram_counts(spark):
    from googlecloudstorage_blueprints_spark.operators.behavior import (
        _sessionized,
        session_trigram_counts,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table

    return {
        r["trigram"]: r["n"]
        for r in session_trigram_counts(
            _sessionized(load_table(spark, SF, "events"))
        ).collect()
    }


def test_streaming_session_path_trigrams_matches_batch(spark):
    """Summed partial emissions over a single availableNow replay must
    equal the batch session_trigram_counts table exactly (the top-k op's
    count core)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_path_trigrams,
    )

    got_df = run_stream_to_memory(
        streaming_session_path_trigrams(spark, SF), "path_tri_single"
    )
    got = {
        r["trigram"]: r["total"]
        for r in got_df.groupBy("trigram")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    batch = _batch_trigram_counts(spark)
    assert got == batch and len(batch) > 0


def test_streaming_session_path_trigrams_across_microbatches(
    spark, tmp_path
):
    """A time-ordered two-batch split must bridge BOTH boundaries
    through the two-event tail state: trigrams spanning the split (and
    sessions spanning it) still count, totals equal the batch op."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_path_trigrams,
    )

    got_df = (
        Landing(spark, tmp_path)
        .plant(*halves(load_table(spark, SF, "events")))
        .replay(streaming_session_path_trigrams, "path_tri_batches")
    )
    got = {
        r["trigram"]: r["total"]
        for r in got_df.groupBy("trigram")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert got == _batch_trigram_counts(spark)


def test_streaming_path_trigrams_checkpoint_restart(spark, tmp_path):
    """True restart semantics for the two-event tail state: run the
    first half of the backlog to a FILE sink with a checkpoint, restart
    on the unchanged source (must emit NOTHING new — the committed file
    is skipped), then add the second half and restart again.  The tail
    state recovered from the checkpoint must bridge sessions that span
    the halves: total summed counts equal the batch table."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_path_trigrams,
    )

    before, after = halves(load_table(spark, SF, "events"))
    land = Landing(spark, tmp_path).plant(before)
    first = land.drain(streaming_session_path_trigrams).count()

    # unchanged source: committed file must be skipped
    assert land.drain(streaming_session_path_trigrams).count() == first, (
        "restart on an unchanged source must emit nothing"
    )

    land.plant(after)
    got = {
        r["trigram"]: r["total"]
        for r in land.drain(streaming_session_path_trigrams)
        .groupBy("trigram")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    assert got == _batch_trigram_counts(spark), (
        "checkpoint-recovered tail state must bridge the halves"
    )


def _batch_funnel_delays(spark):
    """The batch op's per-user delay SET, recomputed from its own
    definition (first FUNNEL_FROM, first FUNNEL_TO at-or-after it)."""
    from collections import Counter

    from googlecloudstorage_blueprints_spark.operators.behavior import (
        FUNNEL_FROM,
        FUNNEL_TO,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table

    e = load_table(spark, SF, "events")
    ts_us = F.unix_micros(F.col("ts"))
    first_a = (
        e.where(F.col("event_type") == FUNNEL_FROM)
        .groupBy("user_id")
        .agg(F.min(ts_us).alias("ta"))
    )
    first_b = (
        e.where(F.col("event_type") == FUNNEL_TO)
        .select("user_id", ts_us.alias("tb_us"))
        .join(first_a, "user_id")
        .where(F.col("tb_us") >= F.col("ta"))
        .groupBy("user_id")
        .agg(F.min("tb_us").alias("tb"))
    )
    rows = first_a.join(first_b, "user_id").selectExpr(
        "user_id", "(tb - ta) div 1000000 AS delay_s"
    ).collect()
    return Counter((r["user_id"], r["delay_s"]) for r in rows)


def test_streaming_funnel_delays_matches_batch_and_redelivery(
    spark, tmp_path
):
    """Each converted user's delay must emit exactly once and equal the
    batch op's per-user delay; redelivering the full backlog as a second
    micro-batch must add ZERO emissions (the converted latch absorbs
    it)."""
    from collections import Counter

    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_funnel_delays,
    )

    land = Landing(spark, tmp_path).plant(f"{SF}/events.parquet")
    got_df = run_stream_to_memory(
        streaming_funnel_delays(spark, land.uri, glob="*.parquet"),
        "funnel_single",
    )
    got = Counter(
        (r["user_id"], r["delay_s"]) for r in got_df.collect()
    )
    batch = _batch_funnel_delays(spark)
    assert got == batch and len(batch) > 0

    # full-backlog redelivery: converted latch must absorb every row
    land.plant(f"{SF}/events.parquet")
    again_df = land.replay(streaming_funnel_delays, "funnel_redelivered")
    again = Counter(
        (r["user_id"], r["delay_s"]) for r in again_df.collect()
    )
    assert again == batch, "redelivery must add zero emissions"


def test_streaming_first_ship_sla_matches_batch(spark):
    """The smallest emission per order of the running-min changelog,
    decorated with priority + SLA flag, must reproduce the batch
    order_priority_sla aggregate exactly."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_first_ship_sla,
    )

    got = run_stream_to_memory(
        streaming_first_ship_sla(spark, SF), "firstship_single"
    )
    best = {}
    for r in got.collect():
        k = r["l_orderkey"]
        if k not in best or r["first_ship_us"] < best[k]["first_ship_us"]:
            best[k] = r
    agg = {}
    for r in best.values():
        n, w = agg.get(r["o_orderpriority"], (0, 0))
        agg[r["o_orderpriority"]] = (
            n + 1,
            w + (1 if r["within_sla"] else 0),
        )
    batch = {
        r["o_orderpriority"]: (r["n_orders"], r["n_within_sla"])
        for r in all_queries()["order_priority_sla"](spark, SF).collect()
    }
    assert agg == batch and len(batch) > 0


def test_streaming_first_ship_sla_idempotent_on_redelivery(
    spark, tmp_path
):
    """Re-delivering the whole shipments backlog must emit ZERO new
    rows — every line loses the (ship_us, linenumber) min race."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_first_ship_sla,
    )

    src = f"{SF}/lineitem.parquet"
    got = (
        Landing(spark, tmp_path)
        .plant(src, src)
        .replay(
            streaming_first_ship_sla, "firstship_redelivery", orders_dir=SF
        )
    )
    rows = got.collect()
    # one emission per order total: batch 2 adds nothing
    keys = [r["l_orderkey"] for r in rows]
    assert len(keys) == len(set(keys)) and len(keys) > 0


def _events_frame(spark, rows):
    """Planted events from (event_id, ts µs, user_id, event_type, value)
    rows, props ``{}``."""
    return spark.createDataFrame(
        [(*r, "{}") for r in rows],
        "event_id long, us long, user_id long, event_type string, "
        "value double, props string",
    ).select(
        "event_id",
        F.timestamp_micros(F.col("us")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _far_sentinels():
    """Two one-row event tables 400 days past the fixture's last event
    (user -1): their batches push the watermark past every open session
    tail, so every event-time timeout fires."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = pq.read_table(f"{SF}/events.parquet")
    far = pa.compute.max(base.column("ts")).as_py()
    return [
        pa.Table.from_pydict(
            {
                "event_id": [10_000_000 + i],
                "ts": [far + datetime.timedelta(hours=delta_h)],
                "user_id": [-1],
                "event_type": ["sentinel"],
                "value": [0.0],
                "props": ["{}"],
            },
            schema=base.schema,
        )
        for i, delta_h in enumerate([24 * 400, 24 * 400 + 1])
    ]


def test_streaming_session_entries_matches_batch_bounce_core(
    spark, tmp_path
):
    """Aggregating the closed-session entry feed per entry type must
    reproduce the batch session_bounce_rate table exactly.  Event-time
    timeouts fire only while batches still arrive, so two far-future
    sentinel batches push the watermark past every open tail (the
    gapfill-eviction replay technique) — after which EVERY original
    session must have emitted."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_entries,
    )

    got = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/events.parquet", *_far_sentinels())
        .replay(streaming_session_entries, "session_entries")
        .where("user_id >= 0")
    )
    agg = {}
    for r in got.collect():
        n, b = agg.get(r["entry_type"], (0, 0))
        agg[r["entry_type"]] = (
            n + 1,
            b + (1 if r["n_events"] == 1 else 0),
        )
    batch = {
        r["entry_type"]: (r["n_sessions"], r["n_bounces"])
        for r in all_queries()["session_bounce_rate"](spark, SF).collect()
    }
    assert agg == batch and len(batch) > 0


def test_streaming_session_depth_matches_batch_conversion_core(
    spark, tmp_path
):
    """Aggregating the closed-session depth feed into depth buckets
    must reproduce the batch session_depth_conversion table exactly —
    same sentinel-drain technique as the entries twin (two far-future
    batches push the watermark past every open tail)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_depth,
    )

    got = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/events.parquet", *_far_sentinels())
        .replay(streaming_session_depth, "session_depth")
        .where("user_id >= 0")
    )

    def bucket(n):
        return "1" if n == 1 else "2-3" if n <= 3 else "4-7" if n <= 7 else "8+"

    agg = {}
    for r in got.collect():
        n, c = agg.get(bucket(r["n_events"]), (0, 0))
        agg[bucket(r["n_events"])] = (n + 1, c + int(r["converted"]))
    batch = {
        r["depth_bucket"]: (r["n_sessions"], r["n_converted"])
        for r in all_queries()["session_depth_conversion"](
            spark, SF
        ).collect()
    }
    assert agg == batch and len(batch) > 0


def test_streaming_first_touch_matches_batch_first_pick(spark):
    """The smallest (ts_us, event_id) emission per user must equal the
    batch user_first_touch_attribution rank-window pick: aggregating the
    changelog's final state per channel reproduces the batch op's
    (first_type, n_users) exactly."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_first_touch,
    )

    got = run_stream_to_memory(
        streaming_first_touch(spark, SF), "firsttouch_single"
    )
    best = {}
    for r in got.collect():
        k = r["user_id"]
        key = (r["first_ts_us"], r["first_event_id"])
        if k not in best or key < (
            best[k]["first_ts_us"],
            best[k]["first_event_id"],
        ):
            best[k] = r
    import collections

    per_type = collections.Counter(
        r["first_type"] for r in best.values()
    )
    batch = {
        r["first_type"]: r["n_users"]
        for r in all_queries()["user_first_touch_attribution"](
            spark, SF
        ).collect()
    }
    assert dict(per_type) == batch and len(batch) > 0


def test_streaming_first_touch_idempotent_on_redelivery(
    spark, tmp_path
):
    """Re-delivering the whole event backlog must emit ZERO new rows —
    every event loses the (ts_us, event_id) min race."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_first_touch,
    )

    src = f"{SF}/events.parquet"
    got = (
        Landing(spark, tmp_path)
        .plant(src, src)
        .replay(streaming_first_touch, "firsttouch_redelivery")
    )
    rows = got.collect()
    keys = [r["user_id"] for r in rows]
    assert len(keys) == len(set(keys)) and len(keys) > 0


def _batch_pair_latency_core(spark):
    return {
        (r["prev_type"], r["next_type"]): (r["n_pairs"], r["total_gap_us"])
        for r in all_queries()["event_pair_latency"](spark, SF).collect()
    }


def test_streaming_pair_latency_matches_batch(spark):
    """Summed (n_pairs, total_gap_us) partials over a single
    availableNow replay must equal the batch lag-window count/total
    columns exactly (the percentile columns are deliberately not
    streamed — non-mergeable)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_pair_latency,
    )

    got_df = run_stream_to_memory(
        streaming_pair_latency(spark, SF), "pair_latency_single"
    )
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["g"])
        for r in got_df.groupBy("prev_type", "next_type")
        .agg(
            F.sum("n_pairs").alias("n"),
            F.sum("total_gap_us").alias("g"),
        )
        .collect()
    }
    batch = _batch_pair_latency_core(spark)
    assert got == batch and len(batch) > 0


def test_streaming_pair_latency_across_microbatches(spark, tmp_path):
    """A time-ordered two-batch split must bridge the boundary pair
    through keyed state: the gap spanning the split is still summed,
    and totals equal the batch op."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_pair_latency,
    )

    got_df = (
        Landing(spark, tmp_path)
        .plant(*halves(load_table(spark, SF, "events")))
        .replay(streaming_pair_latency, "pair_latency_batches")
    )
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["g"])
        for r in got_df.groupBy("prev_type", "next_type")
        .agg(
            F.sum("n_pairs").alias("n"),
            F.sum("total_gap_us").alias("g"),
        )
        .collect()
    }
    assert got == _batch_pair_latency_core(spark)


def test_streaming_pair_latency_checkpoint_restart(spark, tmp_path):
    """True restart semantics for the pair-latency bridge state: run
    the first half of the backlog to a FILE sink with a checkpoint,
    restart on the unchanged source (must emit NOTHING new), then add
    the second half and restart again.  The one-tuple state recovered
    from the checkpoint must complete the hand-off pairs that span the
    halves: summed (n_pairs, total_gap_us) equal the batch op."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_pair_latency,
    )

    before, after = halves(load_table(spark, SF, "events"))
    land = Landing(spark, tmp_path).plant(before)
    first = land.drain(streaming_pair_latency).count()

    # unchanged source: committed file must be skipped
    assert land.drain(streaming_pair_latency).count() == first, (
        "restart on an unchanged source must emit nothing"
    )

    land.plant(after)
    got = {
        (r["prev_type"], r["next_type"]): (r["n"], r["g"])
        for r in land.drain(streaming_pair_latency)
        .groupBy("prev_type", "next_type")
        .agg(
            F.sum("n_pairs").alias("n"),
            F.sum("total_gap_us").alias("g"),
        )
        .collect()
    }
    assert got == _batch_pair_latency_core(spark), (
        "checkpoint-recovered state must complete cross-half hand-offs"
    )


def test_streaming_weekly_conversion_matches_batch_and_redelivery(
    spark, tmp_path
):
    """The conditional-distinct feed must emit exactly one 'active'
    mark per distinct (user, epoch-week) and one 'buyer' mark per
    (user, week-with-purchase) — and redelivering the backlog must add
    ZERO emissions (both week-sets absorb repeats).  Rolling the marks
    up per week must reproduce the batch weekly_conversion_trend
    distinct columns exactly, conversion_share included."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_weekly_conversion,
    )

    e = load_table(spark, SF, "events")
    wk = F.expr("unix_micros(ts) div 604800000000")
    batch_active = {
        (r["user_id"], r["wk"])
        for r in e.select("user_id", wk.alias("wk")).distinct().collect()
    }
    batch_buyer = {
        (r["user_id"], r["wk"])
        for r in e.where(F.col("event_type") == "purchase")
        .select("user_id", wk.alias("wk"))
        .distinct()
        .collect()
    }

    single = run_stream_to_memory(
        streaming_weekly_conversion(spark, SF), "wconv_single"
    ).collect()
    got_active = {
        (r["user_id"], r["epoch_week"])
        for r in single
        if r["kind"] == "active"
    }
    got_buyer = {
        (r["user_id"], r["epoch_week"])
        for r in single
        if r["kind"] == "buyer"
    }
    assert len(single) == len(batch_active) + len(batch_buyer)
    assert got_active == batch_active
    assert got_buyer == batch_buyer

    redelivered = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_weekly_conversion, "wconv_redelivery")
        .collect()
    )
    assert len(redelivered) == len(single)

    # rollup: per-week counts of each kind ≡ the batch op's distincts
    per_week = {}
    for uid, w in got_active:
        per_week.setdefault(w, [0, 0])[0] += 1
    for uid, w in got_buyer:
        per_week[w][1] += 1
    batch = {
        r["epoch_week"]: (
            r["n_active"],
            r["n_buyers"],
            r["conversion_share"],
        )
        for r in all_queries()["weekly_conversion_trend"](
            spark, SF
        ).collect()
    }
    assert set(per_week) == set(batch)
    for w, (na, nb) in per_week.items():
        ba, bb, share = batch[w]
        assert (na, nb) == (ba, bb)
        assert share == nb / na


def test_streaming_order_close_matches_batch_and_redelivery(
    spark, tmp_path
):
    """The largest emission per order of the running-max changelog must
    equal the batch per-order MAX ship epoch-day (the span core the
    in-flight ledger consumes), and redelivering the backlog must add
    ZERO emissions (non-advancing rows lose the max race)."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_order_close,
    )

    batch = {
        r["l_orderkey"]: r["e"]
        for r in load_table(spark, SF, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.expr(
                "max(unix_micros(l_shipdate) div 86400000000)"
            ).alias("e")
        )
        .collect()
    }
    single = run_stream_to_memory(
        streaming_order_close(spark, SF), "orderclose_single"
    ).collect()
    newest = {}
    for r in single:
        k = r["l_orderkey"]
        if k not in newest or r["close_day"] > newest[k]:
            newest[k] = r["close_day"]
    assert newest == batch and len(batch) > 0

    redelivered = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/lineitem.parquet", f"{SF}/lineitem.parquet")
        .replay(streaming_order_close, "orderclose_redelivery")
        .collect()
    )
    # second copy advances nothing: emission count equals single-replay
    assert len(redelivered) == len(single)


def test_streaming_growth_accounting_matches_batch_and_reclassifies(
    spark, tmp_path
):
    """The newest (max-ver) emission per (user, week) must reproduce
    the batch user_growth_accounting class columns exactly — including
    under an OUT-OF-ORDER two-file split (second half delivered first),
    which must actually exercise the reclassification path (a user's
    earliest second-half week flips new → retained/resurrected when
    the first half lands).  Redelivering the backlog emits nothing."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_growth_accounting,
    )

    def newest_per_week(rows):
        best = {}
        for r in rows:
            k = (r["user_id"], r["epoch_week"])
            if k not in best or r["ver"] > best[k][1]:
                best[k] = (r["cls"], r["ver"])
        return {k: c for k, (c, _v) in best.items()}

    def week_class_counts(newest):
        per = {}
        for (_uid, wk), cls in newest.items():
            per.setdefault(wk, {"new": 0, "retained": 0, "resurrected": 0})
            per[wk][cls] += 1
        return per

    batch = {
        r["epoch_week"]: (
            r["n_new"],
            r["n_retained"],
            r["n_resurrected"],
        )
        for r in all_queries()["user_growth_accounting"](
            spark, SF
        ).collect()
        if r["n_active"] > 0
    }

    single = run_stream_to_memory(
        streaming_growth_accounting(spark, SF), "growth_single"
    ).collect()
    got = week_class_counts(newest_per_week(single))
    assert {
        w: (c["new"], c["retained"], c["resurrected"])
        for w, c in got.items()
    } == batch

    # out-of-order split: the LATER half of the stream arrives first
    before, after = halves(load_table(spark, SF, "events"))
    ooo = (
        Landing(spark, tmp_path / "ooo")
        .plant(after, before)
        .replay(streaming_growth_accounting, "growth_ooo")
        .collect()
    )
    assert {
        w: (c["new"], c["retained"], c["resurrected"])
        for w, c in week_class_counts(newest_per_week(ooo)).items()
    } == batch
    reclassed = {
        (r["user_id"], r["epoch_week"]) for r in ooo if r["ver"] > 1
    }
    assert reclassed, "out-of-order split must exercise reclassification"

    # full-backlog redelivery: week sets absorb the replay
    redelivered = (
        Landing(spark, tmp_path / "replay")
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_growth_accounting, "growth_redelivery")
        .collect()
    )
    assert len(redelivered) == len(single)


def test_streaming_topk_words_bounds_over_capacity(spark, tmp_path):
    """A planted corpus with more distinct words than one shard's
    capacity (all words forced into ONE shard via a single doc stream
    is impractical — instead the alphabet is sized so at least one
    shard overflows): every emitted counter must satisfy
    est >= true >= est - err, and the dominant planted word must
    surface with an exact count despite churn."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_topk_words,
    )
    from googlecloudstorage_blueprints_spark.streaming.stateful import (
        SPACE_SAVING_CAPACITY,
        TOPK_WORD_SHARDS,
    )

    n_words = SPACE_SAVING_CAPACITY * TOPK_WORD_SHARDS + 512
    rare = [f"tok{i:05d}" for i in range(n_words)]
    text = "hot " * 400 + " ".join(rare)
    src = tmp_path / "docs"
    src.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([1], pa.int64()),
                "text": pa.array([text.strip()], pa.string()),
                "lang": pa.array(["en"], pa.string()),
                "source": pa.array(["web"], pa.string()),
                "n_chars": pa.array([len(text)], pa.int64()),
            }
        ),
        src / "documents.parquet",
    )
    rows = run_stream_to_memory(
        streaming_topk_words(spark, f"file:{src}"), "topk_planted"
    ).collect()
    true = {w: 1 for w in rare}
    true["hot"] = 400
    newest = {}
    for r in rows:
        k = (r["shard"], r["word"])
        if k not in newest or r["ver"] > newest[k][2]:
            newest[k] = (r["est"], r["err"], r["ver"])
    assert any(err > 0 for _e, err, _v in newest.values()), (
        "planted corpus must actually overflow a shard"
    )
    for (_s, w), (est, err, _v) in newest.items():
        t = true.get(w, 0)
        assert est >= t >= est - err, w
    hot = [v for (_s, w), v in newest.items() if w == "hot"]
    assert hot and hot[0][0] == 400 and hot[0][1] == 0


def test_streaming_topk_words_checkpoint_restart(spark, tmp_path):
    """The sketch twin's exactly-once claim pinned the pair-latency
    way: drain half the corpus to a FILE sink with a checkpoint,
    restart on the unchanged source (must emit NOTHING new), add the
    second half and restart — recovered counters must continue, and
    since the fixture vocabulary fits capacity, the final newest
    counters equal the single-drain exact counts."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_topk_words,
    )

    docs = load_table(spark, SF, "documents")
    mid = docs.agg(
        F.expr("percentile_approx(doc_id, 0.5)").cast("long").alias("m")
    ).collect()[0]["m"]
    land = Landing(spark, tmp_path).plant(
        docs.where(F.col("doc_id") <= F.lit(mid))
    )
    first = land.drain(streaming_topk_words).count()
    # unchanged source: committed file must be skipped
    assert land.drain(streaming_topk_words).count() == first, (
        "restart on an unchanged source must emit nothing"
    )
    land.plant(docs.where(F.col("doc_id") > F.lit(mid)))

    newest = {}
    for r in land.drain(streaming_topk_words).collect():
        k = (r["shard"], r["word"])
        if k not in newest or r["ver"] > newest[k][1]:
            newest[k] = (r["est"], r["ver"])
    merged = {}
    for (_s, w), (est, _v) in newest.items():
        merged[w] = merged.get(w, 0) + est
    batch = {
        r["w"]: r["c"]
        for r in docs.where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert merged == batch, (
        "checkpoint-recovered sketch state must continue exactly"
    )


# --- r13: intersession-gap partial sums --------------------------------------


def _batch_intersession_core(spark):
    r = all_queries()["user_intersession_gap_stats"](spark, SF).collect()[0]
    return (r["n_users_multi"], r["n_gaps"], r["mean_gap_us"])


def test_streaming_intersession_gaps_matches_batch(spark):
    """Summed (n_gaps, total_gap_us) partials over a single availableNow
    replay must equal the batch op's count/total core exactly, and the
    set of emitting users IS n_users_multi (the p50/p90 columns are
    deliberately not streamed — non-mergeable, the pair-latency
    precedent)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_intersession_gaps,
    )

    got_df = run_stream_to_memory(
        streaming_intersession_gaps(spark, SF), "intersession_single"
    )
    agg = got_df.agg(
        F.countDistinct("user_id").alias("u"),
        F.sum("n_gaps").alias("n"),
        F.sum("total_gap_us").alias("g"),
    ).collect()[0]
    n_users, n_gaps, mean = _batch_intersession_core(spark)
    assert agg["u"] == n_users
    assert agg["n"] == n_gaps
    assert agg["g"] / agg["n"] == mean  # both exact-BIGINT ratios
    assert n_gaps > 0


def test_streaming_intersession_gaps_across_microbatches(spark, tmp_path):
    """A time-ordered two-batch split must bridge a boundary gap
    through the one-tuple state: totals still equal the batch op."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_intersession_gaps,
    )

    got_df = (
        Landing(spark, tmp_path)
        .plant(*halves(load_table(spark, SF, "events")))
        .replay(streaming_intersession_gaps, "intersession_batches")
    )
    agg = got_df.agg(
        F.countDistinct("user_id").alias("u"),
        F.sum("n_gaps").alias("n"),
        F.sum("total_gap_us").alias("g"),
    ).collect()[0]
    n_users, n_gaps, mean = _batch_intersession_core(spark)
    assert (agg["u"], agg["n"]) == (n_users, n_gaps)
    assert agg["g"] / agg["n"] == mean


# --- r13: session-start marks ---------------------------------------------------


def test_streaming_session_starts_matches_batch_histogram(spark):
    """COUNT(marks) per user over a single availableNow replay must
    equal the batch sessionizer's per-user session counts, and the
    regrouped histogram must equal user_session_count_histogram
    row-for-row."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_starts,
    )

    got_df = run_stream_to_memory(
        streaming_session_starts(spark, SF), "session_starts_single"
    )
    hist = {
        r["k"]: r["n"]
        for r in got_df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    batch = {
        r["sessions_per_user"]: r["n_users"]
        for r in all_queries()["user_session_count_histogram"](
            spark, SF
        ).collect()
    }
    assert hist == batch and len(batch) > 0


def test_streaming_session_starts_across_microbatches(spark, tmp_path):
    """A time-ordered split must NOT double-open the session spanning
    the boundary: totals still equal the batch histogram."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_starts,
    )

    got_df = (
        Landing(spark, tmp_path)
        .plant(*halves(load_table(spark, SF, "events")))
        .replay(streaming_session_starts, "session_starts_batches")
    )
    hist = {
        r["k"]: r["n"]
        for r in got_df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    batch = {
        r["sessions_per_user"]: r["n_users"]
        for r in all_queries()["user_session_count_histogram"](
            spark, SF
        ).collect()
    }
    assert hist == batch


def test_streaming_cohort_retention_matches_batch_and_reclassifies(
    spark, tmp_path
):
    """The newest (max-ver) emission per (customer, month) must
    regroup into the batch customer_cohort_retention triangle exactly
    — including under an OUT-OF-ORDER two-file split (second half of
    the order stream delivered first), which must actually exercise
    the all-cells reclassification (a customer's first-half order
    lowers m0 and rewrites every month's cohort and offset).
    Redelivering the backlog emits nothing."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_cohort_retention,
    )

    def newest_cells(rows):
        best = {}
        for r in rows:
            k = (r["o_custkey"], r["month"])
            if k not in best or r["ver"] > best[k][2]:
                best[k] = (r["cohort_month"], r["month_offset"], r["ver"])
        return {k: (c, off) for k, (c, off, _v) in best.items()}

    def triangle(newest):
        tri = {}
        for (_ck, _m), cell in newest.items():
            tri[cell] = tri.get(cell, 0) + 1
        return tri

    batch_rows = all_queries()["customer_cohort_retention"](
        spark, SF
    ).collect()
    batch_tri = {
        (r["cohort_month"], r["month_offset"]): r["n_active"]
        for r in batch_rows
    }

    single = run_stream_to_memory(
        streaming_cohort_retention(spark, SF), "cohort_single"
    ).collect()
    newest = newest_cells(single)
    assert triangle(newest) == batch_tri
    # cohort_size is the off=0 diagonal of the same newest-row count
    for r in batch_rows:
        assert (
            triangle(newest)[(r["cohort_month"], 0)] == r["cohort_size"]
        )

    # out-of-order split: the LATER half of the order stream lands first
    before, after = halves(load_table(spark, SF, "orders"), "o_orderdate")
    ooo = (
        Landing(spark, tmp_path / "ooo")
        .plant(after, before)
        .replay(streaming_cohort_retention, "cohort_ooo")
        .collect()
    )
    assert triangle(newest_cells(ooo)) == batch_tri
    # the reclass path must actually fire: some (customer, month) is
    # re-emitted with a DIFFERENT cohort after the earlier half lands
    seen = {}
    recohorted = set()
    for r in ooo:
        k = (r["o_custkey"], r["month"])
        if k in seen and seen[k] != r["cohort_month"]:
            recohorted.add(k)
        seen.setdefault(k, r["cohort_month"])
    assert recohorted, "out-of-order split must rewrite some cohort"

    # full-backlog redelivery: month sets absorb the replay
    redelivered = (
        Landing(spark, tmp_path / "replay")
        .plant(f"{SF}/orders.parquet", f"{SF}/orders.parquet")
        .replay(streaming_cohort_retention, "cohort_redelivery")
        .collect()
    )
    assert len(redelivered) == len(single)


def test_streaming_cohort_retention_checkpoint_restart(spark, tmp_path):
    """True restart semantics for the month-set state: run the first
    half of the order backlog to a FILE sink with a checkpoint,
    restart on the unchanged source (must emit NOTHING new — the
    committed file is skipped), then add the EARLIER half and restart
    again.  The month set recovered from the checkpoint must drive the
    all-cells recohort across the restart: the newest (max-ver) cells
    regroup into the batch triangle."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_cohort_retention,
    )

    before, after = halves(load_table(spark, SF, "orders"), "o_orderdate")
    # LATER half first, so the restart-delivered earlier half must
    # lower first-months through checkpoint-recovered state
    land = Landing(spark, tmp_path).plant(after)
    first = land.drain(streaming_cohort_retention).count()

    # unchanged source: committed file must be skipped
    assert land.drain(streaming_cohort_retention).count() == first, (
        "restart on an unchanged source must emit nothing"
    )

    land.plant(before)
    rows = land.drain(streaming_cohort_retention).collect()
    best = {}
    for r in rows:
        k = (r["o_custkey"], r["month"])
        if k not in best or r["ver"] > best[k][2]:
            best[k] = (r["cohort_month"], r["month_offset"], r["ver"])
    tri = {}
    for cell in ((c, off) for c, off, _v in best.values()):
        tri[cell] = tri.get(cell, 0) + 1
    batch_tri = {
        (r["cohort_month"], r["month_offset"]): r["n_active"]
        for r in all_queries()["customer_cohort_retention"](
            spark, SF
        ).collect()
    }
    assert tri == batch_tri, (
        "checkpoint-recovered month sets must recohort across restart"
    )
    # the recohort actually fired across the restart boundary
    assert any(v > 1 for _c, _o, v in best.values())


def test_streaming_funnel_attribution_matches_batch_and_reattributes(
    spark, tmp_path
):
    """30th twin: the newest (max-ver) emission per user must carry the
    batch funnel_window_sensitivity per-user frame (first signup, first
    at-or-after purchase), so the 1/7/30/90-day sweep rolled up from
    those rows equals the batch op EXACTLY — including under an
    OUT-OF-ORDER two-file split (later events first), which must
    actually fire the re-attribution path.  Redelivering the backlog
    emits nothing."""
    from googlecloudstorage_blueprints_spark.operators.behavior import (
        FUNNEL_WINDOW_SWEEP_DAYS,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_funnel_attribution,
    )

    def newest(rows):
        best = {}
        for r in rows:
            if (
                r["user_id"] not in best
                or r["ver"] > best[r["user_id"]][2]
            ):
                best[r["user_id"]] = (
                    r["signup_us"],
                    r["purchase_us"],
                    r["ver"],
                )
        return {u: (s, a) for u, (s, a, _v) in best.items()}

    def sweep(pairs):
        out = {}
        for d in FUNNEL_WINDOW_SWEEP_DAYS:
            conv = sum(
                1
                for s, a in pairs.values()
                if a is not None and a - s <= d * 86_400_000_000
            )
            out[d] = (len(pairs), conv)
        return out

    batch = {
        r["window_days"]: (r["n_signed_up"], r["n_converted"])
        for r in all_queries()["funnel_window_sensitivity"](
            spark, SF
        ).collect()
    }

    single = run_stream_to_memory(
        streaming_funnel_attribution(spark, SF), "funnel_attr_single"
    ).collect()
    assert sweep(newest(single)) == batch

    # out-of-order split: the LATER half of the event stream lands first
    before, after = halves(load_table(spark, SF, "events"))
    ooo = (
        Landing(spark, tmp_path / "ooo")
        .plant(after, before)
        .replay(streaming_funnel_attribution, "funnel_attr_ooo")
        .collect()
    )
    assert sweep(newest(ooo)) == batch
    # the re-attribution path must actually fire: some user re-emits a
    # DIFFERENT (signup, purchase) pair after the earlier half lands
    seen, reattributed = {}, set()
    for r in ooo:
        k = r["user_id"]
        pair = (r["signup_us"], r["purchase_us"])
        if k in seen and seen[k] != pair:
            reattributed.add(k)
        seen.setdefault(k, pair)
    assert reattributed, "out-of-order split must re-attribute someone"

    # full-backlog redelivery: state absorbs the replay
    redelivered = (
        Landing(spark, tmp_path / "replay")
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_funnel_attribution, "funnel_attr_redelivery")
        .collect()
    )
    assert len(redelivered) == len(single)


def test_streaming_funnel_attribution_checkpoint_restart(spark, tmp_path):
    """True restart semantics for the pre-signup purchase buffer: a
    planted user whose purchase precedes every signup streams in three
    restarts — purchase-only (buffered, NO emission), signup@10d +
    purchase@20d (attributes to (10d, 20d)), then a LATE signup@2d that
    must swap the checkpoint-recovered buffered purchase@5d in as the
    first conversion.  An unchanged-source restart emits nothing."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_funnel_attribution,
    )

    land = Landing(spark, tmp_path)
    day_us = 86_400_000_000

    def plant(rows):
        land.plant(_events_frame(
            spark,
            [(i, d * day_us, 1, t, 1.0) for i, (d, t) in enumerate(rows)],
        ))

    plant([(5, "purchase")])
    # parquet sink writes metadata even with zero rows; the buffered
    # purchase alone must emit none
    n0 = land.drain(streaming_funnel_attribution).count()
    assert n0 == 0, "pre-signup purchase alone must not emit"

    plant([(10, "signup"), (20, "purchase")])
    rows = land.drain(streaming_funnel_attribution).collect()
    assert {
        (r["signup_us"], r["purchase_us"]) for r in rows
    } == {(10 * day_us, 20 * day_us)}

    # unchanged source: committed files must be skipped
    assert land.drain(streaming_funnel_attribution).count() == len(rows)

    plant([(2, "signup")])
    final = land.drain(streaming_funnel_attribution).collect()
    best = max(final, key=lambda r: r["ver"])
    assert (best["signup_us"], best["purchase_us"]) == (
        2 * day_us,
        5 * day_us,
    ), "restart must re-attribute through the recovered purchase buffer"


def test_streaming_daily_uniques_hll_tracks_batch_dau(spark, tmp_path):
    """31st twin (second sketch kernel): the newest (max-ver) estimate
    per day must sit within the HLL accuracy envelope of the exact
    batch per-day distinct-user count, and full-backlog redelivery
    must emit NOTHING extra (register max-merge is idempotent — a
    strictly stronger replay property than the partial-sum twins')."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_daily_uniques_hll,
    )

    exact = {
        r["epoch_day"]: r["dau"]
        for r in load_table(spark, SF, "events")
        .groupBy(
            F.expr("unix_micros(ts) div 86400000000").alias("epoch_day")
        )
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }

    single = run_stream_to_memory(
        streaming_daily_uniques_hll(spark, SF), "hll_single"
    ).collect()
    newest = {}
    for r in single:
        if (
            r["epoch_day"] not in newest
            or r["ver"] > newest[r["epoch_day"]][1]
        ):
            newest[r["epoch_day"]] = (r["est_distinct"], r["ver"])
    assert set(newest) == set(exact)
    for d, (est, _v) in newest.items():
        true = exact[d]
        assert abs(est - true) <= max(2, 0.1 * true), (d, est, true)

    # idempotent redelivery: two copies of the backlog, same emissions
    redelivered = (
        Landing(spark, tmp_path)
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_daily_uniques_hll, "hll_redelivery")
        .collect()
    )
    assert len(redelivered) == len(single)


def test_streaming_daily_uniques_hll_checkpoint_restart(spark, tmp_path):
    """Register state must survive a checkpointed restart: replaying
    the committed file emits nothing; planting NEW users on an
    existing day emits a GROWN estimate whose registers include the
    pre-restart users (est ≈ old + new, not just new)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_daily_uniques_hll,
    )

    land = Landing(spark, tmp_path)
    day_us = 86_400_000_000

    def plant(uids):
        land.plant(_events_frame(
            spark,
            [(i, 500 * day_us + i, int(u), "view", 1.0)
             for i, u in enumerate(uids)],
        ))

    plant(range(1, 31))
    first = land.drain(streaming_daily_uniques_hll).collect()
    assert len(first) == 1
    est0 = first[0]["est_distinct"]
    assert abs(est0 - 30) <= 2

    # unchanged source: committed file skipped, no emission
    assert land.drain(streaming_daily_uniques_hll).count() == 1

    plant(range(31, 61))  # 30 NEW users, same day
    rows = land.drain(streaming_daily_uniques_hll).collect()
    best = max(rows, key=lambda r: r["ver"])
    assert abs(best["est_distinct"] - 60) <= 4, (
        "restart must merge new users into the RECOVERED registers"
    )
    assert best["est_distinct"] > est0


def test_streaming_active_streaks_matches_batch(spark, tmp_path):
    """The newest (max-ver) emission per user must regroup into the
    batch ``user_active_streaks`` histogram exactly — in order AND
    under an out-of-order two-file split (second half first), which
    must exercise the re-emit path (some user's streak or week count
    moves when the first half lands).  Redelivering the backlog emits
    nothing (week-set absorption)."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_active_streaks,
    )

    def newest_per_user(rows):
        best = {}
        for r in rows:
            if (
                r["user_id"] not in best
                or r["ver"] > best[r["user_id"]][2]
            ):
                best[r["user_id"]] = (
                    r["max_streak"],
                    r["n_weeks"],
                    r["ver"],
                )
        return best

    def histogram(newest):
        total = len(newest)
        per = {}
        for _uid, (streak, _nw, _v) in newest.items():
            per[streak] = per.get(streak, 0) + 1
        return {s: (n, n / total) for s, n in per.items()}

    batch = {
        r["streak_weeks"]: (r["n_users"], r["user_share"])
        for r in all_queries()["user_active_streaks"](spark, SF).collect()
    }

    single = run_stream_to_memory(
        streaming_active_streaks(spark, SF), "streaks_single"
    ).collect()
    newest = newest_per_user(single)
    assert histogram(newest) == batch

    # the n_weeks column is the per-user distinct-week count exactly
    week_counts = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF, "events")
        .select(
            "user_id",
            F.expr(
                "CAST(unix_micros(ts) div 604800000000 AS BIGINT)"
            ).alias("wk"),
        )
        .distinct()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {u: nw for u, (_s, nw, _v) in newest.items()} == week_counts

    # out-of-order split: the LATER half of the stream arrives first
    before, after = halves(load_table(spark, SF, "events"))
    ooo = (
        Landing(spark, tmp_path / "ooo")
        .plant(after, before)
        .replay(streaming_active_streaks, "streaks_ooo")
        .collect()
    )
    assert histogram(newest_per_user(ooo)) == batch
    assert any(r["ver"] > 1 for r in ooo), (
        "out-of-order split must exercise the re-emit path"
    )

    # full-backlog redelivery: week sets absorb the replay
    redelivered = (
        Landing(spark, tmp_path / "replay")
        .plant(f"{SF}/events.parquet", f"{SF}/events.parquet")
        .replay(streaming_active_streaks, "streaks_redelivery")
        .collect()
    )
    assert len(redelivered) == len(single)


def test_streaming_active_streaks_checkpoint_merge(spark, tmp_path):
    """The superadditive MERGE transition, across a checkpointed
    restart: weeks {w, w+2} land first (streak 1), the stream commits
    and stops; replaying the committed file emits nothing; a late
    gap-filling w+1 then joins the two islands through the RECOVERED
    week set — the newest row must read streak 3 (a +2 jump one new
    week can only produce by merging, never by extending)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_active_streaks,
    )

    land = Landing(spark, tmp_path)
    wk_us = 7 * 86_400 * 1_000_000

    def plant(weeks):
        land.plant(_events_frame(
            spark,
            [(i, w * wk_us + 5_000_000, 1, "view", 1.0)
             for i, w in enumerate(weeks)],
        ))

    plant([100, 102])
    first = land.drain(streaming_active_streaks).collect()
    assert len(first) == 1
    assert (first[0]["max_streak"], first[0]["n_weeks"]) == (1, 2)

    # unchanged source: committed file skipped, no emission
    assert land.drain(streaming_active_streaks).count() == 1

    plant([101])  # the gap filler
    rows = land.drain(streaming_active_streaks).collect()
    best = max(rows, key=lambda r: r["ver"])
    assert (best["max_streak"], best["n_weeks"]) == (3, 3), (
        "restart must merge the islands through the recovered week set"
    )


def test_streaming_hourly_load_percentiles_matches_batch(spark, tmp_path):
    """The newest (max-ver) emission per event type must equal the
    batch ``events_hourly_load_percentiles`` row BIT-IDENTICALLY —
    including the interpolated p50/p90/p99 doubles (the kernel spells
    the engines' shared two-sided weighted form
    v_lo·(hi−pos)+v_hi·(pos−lo), _interp_percentile) — in order AND
    under an out-of-order two-file split (hour-count deltas are
    commutative)."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_hourly_load_percentiles,
    )

    def newest_per_type(rows):
        best = {}
        for r in rows:
            if (
                r["event_type"] not in best
                or r["ver"] > best[r["event_type"]][-1]
            ):
                best[r["event_type"]] = (
                    r["n_hours"],
                    r["max_load"],
                    r["p50_load"],
                    r["p90_load"],
                    r["p99_load"],
                    r["ver"],
                )
        return {t: v[:-1] for t, v in best.items()}

    batch = {
        r["event_type"]: (
            r["n_hours"],
            r["max_load"],
            r["p50_load"],
            r["p90_load"],
            r["p99_load"],
        )
        for r in all_queries()["events_hourly_load_percentiles"](
            spark, SF
        ).collect()
    }

    single = run_stream_to_memory(
        streaming_hourly_load_percentiles(spark, SF), "hourly_pctl_single"
    ).collect()
    assert newest_per_type(single) == batch

    # out-of-order split: the LATER half of the stream arrives first
    before, after = halves(load_table(spark, SF, "events"))
    ooo = (
        Landing(spark, tmp_path)
        .plant(after, before)
        .replay(streaming_hourly_load_percentiles, "hourly_pctl_ooo")
        .collect()
    )
    assert newest_per_type(ooo) == batch
    assert any(r["ver"] > 1 for r in ooo)


def test_streaming_hourly_load_percentiles_checkpoint_restart(
    spark, tmp_path
):
    """Count-ledger state must survive a checkpointed restart:
    replaying the committed file emits nothing (committed-file skip,
    the transition-counter precedent); a post-restart batch that adds
    a NEW hour and tops up an EXISTING hour must emit percentiles of
    the MERGED ledger — closed form: hour A gets 3 events, restart,
    hour B gets 1 and hour A one more ⇒ counts {4, 1}, p50 = 1 +
    (4−1)·0.5 = 2.5, max 4, n_hours 2."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_hourly_load_percentiles,
    )

    land = Landing(spark, tmp_path)
    hr_us = 3_600_000_000

    def plant(hours):
        land.plant(_events_frame(
            spark,
            [(i, h * hr_us + 5_000_000, 1, "view", 1.0)
             for i, h in enumerate(hours)],
        ))

    plant([500, 500, 500])
    first = land.drain(streaming_hourly_load_percentiles).collect()
    assert len(first) == 1
    assert (
        first[0]["n_hours"],
        first[0]["max_load"],
        first[0]["p50_load"],
    ) == (1, 3, 3.0)

    # unchanged source: committed file skipped, no emission
    assert land.drain(streaming_hourly_load_percentiles).count() == 1

    plant([501, 500])  # new hour + top-up through recovered state
    rows = land.drain(streaming_hourly_load_percentiles).collect()
    best = max(rows, key=lambda r: r["ver"])
    assert (
        best["n_hours"],
        best["max_load"],
        best["p50_load"],
        best["p90_load"],
    ) == (2, 4, 2.5, 1 + (4 - 1) * 0.9)


def _quarterly_regroup(rows):
    """Stateless regroup of the ship-latency join feed into the batch
    ``ship_latency_quarterly`` columns — exact-integer sums, float
    division and the engines' shared interpolation formula."""
    from googlecloudstorage_blueprints_spark.streaming.stateful import (
        _interp_percentile,
    )

    per = {}
    for r in rows:
        per.setdefault(r["quarter"], []).append(r["lat_days"])
    return {
        q: (
            len(ls),
            sum(ls),
            float(sum(ls)) / len(ls),
            _interp_percentile(sorted(ls), 0.9),
        )
        for q, ls in per.items()
    }


def test_streaming_ship_latency_join_matches_batch(spark, tmp_path):
    """The native stream-stream interval join must emit exactly the
    batch join's per-line rows: regrouped quarterly they equal
    ``ship_latency_quarterly`` BIT-IDENTICALLY (counts, integer sums,
    the float mean and the interpolated p90) — in one-shot replay AND
    under an ALIGNED time-ordered split (both feeds cut at the same
    date, the delivery contract a fulfilment pipeline actually has)."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_ship_latency_join,
    )

    # Fixture-regen guard (r15 advice): the interval bound must cover
    # the fixture's full latency span, or pairs beyond it are silently
    # dropped by the join and the batch-equal assert below fails with
    # no obvious cause.  Diagnose the regen directly here first.
    from googlecloudstorage_blueprints_spark.streaming.events_stream import (
        SHIP_JOIN_WINDOW_DAYS,
    )

    span = (
        load_table(spark, SF, "orders")
        .join(load_table(spark, SF, "lineitem"),
              F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.max(
                F.abs(F.datediff(F.col("l_shipdate"), F.col("o_orderdate")))
            ).alias("m")
        )
        .collect()[0]["m"]
    )
    assert span <= SHIP_JOIN_WINDOW_DAYS, (
        f"fixture regen widened the order→ship latency span to {span} "
        f"days, beyond SHIP_JOIN_WINDOW_DAYS={SHIP_JOIN_WINDOW_DAYS}; "
        "raise the bound or the interval join silently drops pairs"
    )

    batch = {
        r["quarter"]: (
            r["n_lines"],
            r["total_lat_days"],
            r["avg_lat_days"],
            r["p90_lat_days"],
        )
        for r in all_queries()["ship_latency_quarterly"](
            spark, SF
        ).collect()
    }

    single = run_stream_to_memory(
        streaming_ship_latency_join(spark, SF), "shipjoin_single"
    ).collect()
    assert _quarterly_regroup(single) == batch
    # inner join emits each match exactly once: row count = batch lines
    assert len(single) == sum(n for n, *_ in batch.values())

    # aligned time-ordered split: both sides cut at the same date
    orders = load_table(spark, SF, "orders")
    lines = load_table(spark, SF, "lineitem")
    split = orders.selectExpr(
        "timestamp_micros(CAST(percentile_approx("
        "unix_micros(o_orderdate), 0.5) AS BIGINT)) AS m"
    ).collect()[0]["m"]
    odir = Landing(spark, tmp_path / "o").plant(
        orders.where(F.col("o_orderdate") <= F.lit(split)),
        orders.where(F.col("o_orderdate") > F.lit(split)),
    )
    ldir = Landing(spark, tmp_path / "l").plant(
        lines.where(F.col("l_shipdate") <= F.lit(split)),
        lines.where(F.col("l_shipdate") > F.lit(split)),
    )
    split_rows = run_stream_to_memory(
        streaming_ship_latency_join(
            spark,
            SF,
            orders_dir=odir.uri,
            lineitem_dir=ldir.uri,
            orders_glob="*.parquet",
            lineitem_glob="*.parquet",
            max_files_per_trigger=1,
        ),
        "shipjoin_split",
    ).collect()
    assert _quarterly_regroup(split_rows) == batch


def test_streaming_ship_latency_join_drops_late_beyond_watermark(
    spark, tmp_path
):
    """The bounded-state contract: once BOTH feeds' watermarks pass an
    order's interval bound, its join state is evicted and a
    later-arriving shipment is DROPPED (emission count stays flat) —
    the documented divergence from batch that buys window × rate state
    at any corpus size.  Sequence: order A + its first line match
    (1 row); far-future sentinels advance both watermarks ~8000 days;
    A's second line then arrives 7997 days late and must NOT emit."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_ship_latency_join,
    )

    odir = Landing(spark, tmp_path / "o")
    ldir = Landing(spark, tmp_path / "l")
    day_us = 86_400_000_000

    def plant_orders(rows):
        odir.plant(spark.createDataFrame(
            [(k, d * day_us, "O", 1.0, "p", 0, "c") for k, d in rows],
            "o_orderkey long, us long, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string, "
            "o_shippriority int, o_comment string",
        ).select(
            "o_orderkey",
            F.timestamp_micros(F.col("us")).alias("o_orderdate"),
            "o_orderstatus",
            "o_totalprice",
            "o_orderpriority",
            "o_shippriority",
            "o_comment",
        ))

    def plant_lines(rows):
        ldir.plant(spark.createDataFrame(
            [(k, ln, d * day_us, 1.0, 1.0) for k, ln, d in rows],
            "l_orderkey long, l_linenumber long, us long, "
            "l_quantity double, l_extendedprice double",
        ).select(
            "l_orderkey",
            "l_linenumber",
            F.timestamp_micros(F.col("us")).alias("l_shipdate"),
            "l_quantity",
            "l_extendedprice",
        ))

    def drain():
        return odir.sink(
            streaming_ship_latency_join(
                spark,
                str(tmp_path),
                orders_dir=odir.uri,
                lineitem_dir=ldir.uri,
                orders_glob="*.parquet",
                lineitem_glob="*.parquet",
                max_files_per_trigger=1,
            )
        )

    plant_orders([(7, 1000)])
    plant_lines([(7, 1, 1001)])
    assert drain().count() == 1

    # sentinels on BOTH feeds: global watermark jumps past 1000 + 2500
    plant_orders([(999, 9000)])
    plant_lines([(998, 1, 9000)])
    assert drain().count() == 1  # sentinels don't match

    # A's second line, 7997 days late: state evicted, row dropped
    plant_orders([(997, 9001)])
    plant_lines([(7, 2, 1002)])
    got = drain().collect()
    assert len(got) == 1 and got[0]["o_orderkey"] == 7
    assert got[0]["lat_days"] == 1


def test_streaming_ship_latency_windows_chained_stateful(spark, tmp_path):
    """CHAINED stateful operators (stream-stream join → tumbling
    event-time window agg) in ONE query: after a far-future sentinel
    pair flushes the tail, the emitted 90-day windows must equal the
    identical epoch-anchored window expression computed in batch —
    counts, integer sums and the float mean — and every window must
    emit exactly once."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_ship_latency_windows,
    )

    orders = load_table(spark, SF, "orders")
    lines = load_table(spark, SF, "lineitem")
    lat = F.expr(
        "(unix_micros(l_shipdate) - unix_micros(o_orderdate))"
        " div 86400000000"
    )
    batch = {
        r["w_start"]: (r["n_lines"], r["total_lat_days"], r["avg_lat_days"])
        for r in (
            lines.join(
                orders, lines.l_orderkey == orders.o_orderkey
            )
            .groupBy(F.window("o_orderdate", "90 days").alias("w"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.sum(lat).cast("long").alias("total_lat_days"),
            )
            .select(
                F.col("w.start").alias("w_start"),
                "n_lines",
                "total_lat_days",
                (
                    F.col("total_lat_days").cast("double")
                    / F.col("n_lines")
                ).alias("avg_lat_days"),
            )
            .collect()
        )
    }

    day_us = 86_400_000_000

    so = spark.createDataFrame(
        [(999_999, 20_000 * day_us)], "o_orderkey long, us long"
    ).select(
        "o_orderkey", F.timestamp_micros(F.col("us")).alias("o_orderdate")
    )
    sl = spark.createDataFrame(
        [(999_998, 1, 20_000 * day_us)],
        "l_orderkey long, l_linenumber long, us long",
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.timestamp_micros(F.col("us")).alias("l_shipdate"),
    )
    odir = Landing(spark, tmp_path / "o").plant(f"{SF}/orders.parquet", so)
    ldir = Landing(spark, tmp_path / "l").plant(f"{SF}/lineitem.parquet", sl)

    rows = run_stream_to_memory(
        streaming_ship_latency_windows(
            spark,
            SF,
            orders_dir=odir.uri,
            lineitem_dir=ldir.uri,
            orders_glob="*.parquet",
            lineitem_glob="*.parquet",
            max_files_per_trigger=1,
        ),
        "shipwin_chained",
    ).collect()
    starts = [r["w_start"] for r in rows]
    assert len(starts) == len(set(starts)), "append windows emit once"
    got = {
        r["w_start"]: (r["n_lines"], r["total_lat_days"], r["avg_lat_days"])
        for r in rows
    }
    assert got == batch


def test_streaming_growth_accounting_checkpoint_restart(spark, tmp_path):
    """Week-set state must survive a checkpointed restart AND keep
    reclassifying: weeks {100, 102} land first (new + resurrected),
    the stream commits and stops; replaying the committed file emits
    nothing; a late gap-filling 101 must then flip 102
    resurrected → retained THROUGH the recovered set — closed form:
    newest classes become {100: new, 101: retained, 102: retained}."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_growth_accounting,
    )

    land = Landing(spark, tmp_path)
    wk_us = 7 * 86_400 * 1_000_000

    def plant(weeks):
        land.plant(_events_frame(
            spark,
            [(i, w * wk_us + 5_000_000, 1, "view", 1.0)
             for i, w in enumerate(weeks)],
        ))

    plant([100, 102])
    first = land.drain(streaming_growth_accounting).collect()
    assert {
        (r["epoch_week"], r["cls"]) for r in first
    } == {(100, "new"), (102, "resurrected")}

    # unchanged source: committed file skipped, no emission
    assert land.drain(streaming_growth_accounting).count() == 2

    plant([101])  # the gap filler
    rows = land.drain(streaming_growth_accounting).collect()
    newest = {}
    for r in rows:
        k = r["epoch_week"]
        if k not in newest or r["ver"] > newest[k][1]:
            newest[k] = (r["cls"], r["ver"])
    assert {k: c for k, (c, _v) in newest.items()} == {
        100: "new",
        101: "retained",
        102: "retained",
    }, "restart must reclassify 102 through the recovered week set"


def test_streaming_lsh_candidates_checkpoint_restart(spark, tmp_path):
    """The inverted-index state must survive a checkpointed restart:
    doc 1 lands, the stream commits and stops (no pairs — empty
    buckets); replaying the committed file emits nothing; doc 2 with
    IDENTICAL text then arrives in a NEW file and must pair with the
    PRE-restart resident through every recovered band bucket —
    candidate (1, 2) emitted, once per band, zero pairs lost at the
    restart boundary."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_lsh_candidates,
    )

    land = Landing(spark, tmp_path)
    text = (
        "the quick brown fox jumps over the lazy dog and then "
        "does it again for good measure with plenty of shingles "
        "to fill every band of the minhash signature completely"
    )

    def plant(doc_id):
        land.plant(spark.createDataFrame(
            [(doc_id, text, "en", "web", len(text))],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ))

    plant(1)
    # lone resident, no pair
    assert land.drain(streaming_lsh_candidates).count() == 0

    # unchanged source: committed file skipped, no emission
    assert land.drain(streaming_lsh_candidates).count() == 0

    plant(2)  # identical text: collides in EVERY band
    rows = land.drain(streaming_lsh_candidates).collect()
    assert rows, "restart lost the pre-restart bucket residents"
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}
    bands = [r["band_id"] for r in rows]
    assert len(bands) == len(set(bands)), "once per band, no duplicates"


def test_streaming_latest_snapshot_checkpoint_restart(spark, tmp_path):
    """Newest-wins CDC state must survive a checkpointed restart in
    BOTH directions: a post-restart OLDER record must lose the
    (ts_us, event_id) race against the recovered snapshot (no emission
    — the regression a naive restart would allow), and a post-restart
    NEWER record must advance it (one emission)."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_latest_snapshot,
    )

    land = Landing(spark, tmp_path)
    day_us = 86_400_000_000

    def plant(rows):
        land.plant(_events_frame(
            spark,
            [(eid, d * day_us, 1, et, val) for eid, d, et, val in rows],
        ))

    plant([(10, 1000, "purchase", 5.0)])
    first = land.drain(streaming_latest_snapshot).collect()
    assert len(first) == 1 and first[0]["event_id"] == 10

    plant([(9, 999, "view", 1.0)])  # OLDER: must lose the race
    assert land.drain(streaming_latest_snapshot).count() == 1, (
        "restart regressed the snapshot to an older record"
    )

    plant([(11, 1001, "view", 2.0)])  # NEWER: must advance
    rows = land.drain(streaming_latest_snapshot).collect()
    assert len(rows) == 2
    best = max(rows, key=lambda r: (r["ts_us"], r["event_id"]))
    assert best["event_id"] == 11


def test_streaming_sequence_pack_checkpoint_restart(spark, tmp_path):
    """The running token offset must survive a checkpointed restart:
    2500 tokens land pre-restart (docs at bins 0 and 0 — the second
    doc STARTS at 1500 < 2048), the stream commits and stops;
    replaying the committed file emits nothing; a post-restart doc
    must start at the RECOVERED offset 2500 ⇒ bin 1 — a lost offset
    would restart it at bin 0."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_sequence_pack,
    )

    land = Landing(spark, tmp_path)

    def plant(rows):
        land.plant(spark.createDataFrame(
            [
                (doc_id, " ".join(["w"] * n), "en", "web", 2 * n - 1)
                for doc_id, n in rows
            ],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        ))

    def bins():
        return {
            r["doc_id"]: r["bin_id"]
            for r in land.drain(streaming_sequence_pack).collect()
        }

    plant([(1, 1500), (2, 1000)])
    first = bins()
    assert first == {1: 0, 2: 0}  # doc 2 STARTS at 1500, inside bin 0

    # unchanged source: committed file skipped, no emission
    assert land.drain(streaming_sequence_pack).count() == 2

    plant([(3, 100)])  # starts at recovered offset 2500 ⇒ bin 1
    rows = bins()
    assert rows[3] == 1, (
        "restart lost the running token offset (doc restarted at bin 0)"
    )


def test_streaming_session_starts_checkpoint_restart(spark, tmp_path):
    """Open-session continuation across a checkpointed restart: the
    (ts_us, event_id) bridge must recover so a post-restart event
    WITHIN the 30-min gap does NOT open a session (a lost bridge would
    mark it first-ever), and a post-restart event BEYOND the gap
    does — exactly one new mark each way."""
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_session_starts,
    )

    land = Landing(spark, tmp_path)
    base_us = 1_000_000_000_000_000
    minute_us = 60_000_000

    def plant(minutes, name):
        land.plant(_events_frame(
            spark,
            [(i + hash(name) % 1000, base_us + m * minute_us, 1, "view", 1.0)
             for i, m in enumerate(minutes)],
        ))

    plant([0], "00")  # first-ever event: one mark at t=0
    assert land.drain(streaming_session_starts).count() == 1

    plant([10], "01")  # 10 min later, inside the 30-min gap
    assert land.drain(streaming_session_starts).count() == 1, (
        "restart lost the bridge: an in-session event opened a session"
    )

    plant([50], "02")  # 40 min after the last event: beyond the gap
    rows = land.drain(streaming_session_starts).collect()
    assert len(rows) == 2
    assert {r["start_ts_us"] for r in rows} == {
        base_us,
        base_us + 50 * minute_us,
    }


# --- r16: streaming table digest (36th twin) ---------------------------------


def test_streaming_table_digest_rejects_unknown_table(spark):
    import pytest

    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_table_digest,
    )

    with pytest.raises(ValueError, match="unknown table"):
        streaming_table_digest(spark, SF, table="nope")


def test_streaming_table_digest_checkpoint_restart_exactly_once(
    spark, tmp_path
):
    """The twin's replay contract, pinned the committed-file-skip way
    (the partials are mergeable but NOT idempotent — a replayed file
    would double-count all three fields): drain half the corpus with a
    checkpoint, restart on the unchanged source (must emit NOTHING —
    the committed file is skipped, not re-merged), add the second half
    and restart — the recovered per-shard state must continue exactly,
    merging to the batch digest of the FULL corpus."""
    from googlecloudstorage_blueprints_spark.operators.audit import (
        digest_frame,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_table_digest,
    )

    docs = load_table(spark, SF, "documents")
    mid = docs.agg(
        F.expr("percentile_approx(doc_id, 0.5)").cast("long").alias("m")
    ).collect()[0]["m"]
    land = Landing(spark, tmp_path).plant(
        docs.where(F.col("doc_id") <= F.lit(mid))
    )

    def drain():
        return land.drain(
            streaming_table_digest, table="documents", max_files_per_trigger=1
        )

    first = drain().count()
    assert first > 0
    # unchanged source: committed file must be skipped
    assert drain().count() == first, (
        "restart on an unchanged source must emit nothing — the digest "
        "partials are not idempotent, so a re-merge would corrupt them"
    )
    land.plant(docs.where(F.col("doc_id") > F.lit(mid)))

    rows = drain().collect()
    batch = digest_frame(spark, SF, ["documents"]).collect()[0]
    assert merge_digest_rows(rows) == (
        batch["n_rows"],
        batch["digest"],
        batch["digest_sum"],
    ), "checkpoint-recovered digest state must continue exactly"
