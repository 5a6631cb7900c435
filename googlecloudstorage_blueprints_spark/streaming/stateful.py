"""Keyed-state streaming twins (``applyInPandasWithState``) plus
watermarked stream dedup.

Each twin is the incremental form of a batch operator: a pandas kernel
``_name(key, pdfs, state)`` folds a key's micro-batch rows into a small
fixed-width state and emits rows that equal the batch operator's over
any in-order replay.  ``STATEFUL_TWINS`` (bottom of the module) is the
one spec table: per twin, its source table (and so its default
``glob``), the columns it projects, its watermark column (``None`` for
twins that never time out on event time), its group keys, kernel,
output and state schemas, and timeout.  ``keyed_state`` is the one
builder behind it, and the only ``applyInPandasWithState`` call in the
package: project → watermark → ``groupBy(keys)`` → kernel, in append
mode.  A twin whose row carries a docstring is generated from the row
as ``twin(spark, sf_dir, glob, max_files_per_trigger)``; a twin with its
own pre-step, post-step or parameter keeps a short ``def`` that builds
its stream and hands it to ``keyed_state``.

To add a twin: write the kernel and its schemas, add one row (with the
docstring), and exercise the kernel in
``tests/test_stateful_kernels_properties.py`` — that file's meta-test
reads the kernels from the table and fails for one it does not
exercise.  The package exports every row by name.

``streaming_stateful_sessions`` is the escape hatch for session
semantics the builtin ``session_window`` (events_stream.py) can't
express: state is one open-session tuple per live user, evicted by
event-time timeout as the watermark passes, so memory is bounded by
|concurrently-active users|, not history.  ``streaming_dedup`` is
idempotent-ingestion dedup: ``dropDuplicatesWithinWatermark`` keeps one
row per event_id and ages its dedup state out with the watermark (a
plain ``dropDuplicates`` on a stream would hold every id forever).
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from googlecloudstorage_blueprints_spark.streaming.events_stream import (
    WATERMARK,
    read_events_stream,
    read_table_stream,
)

_NO_TIMEOUT = GroupStateTimeout.NoTimeout
_EVENT_TIME = GroupStateTimeout.EventTimeTimeout
_TYPED_EVENTS = ("user_id", "event_id", "ts", "event_type")


class TwinSpec(NamedTuple):
    """One row of ``STATEFUL_TWINS``."""

    table: str  # catalog table streamed; default glob ``<table>.parquet``
    columns: tuple | None  # projected first; None keeps the frame as given
    watermark: str | None  # event-time column; None sets no watermark
    keys: tuple
    kernel: Callable
    out: StructType
    state: StructType
    timeout: str
    doc: str | None = None  # set for twins generated from the row


def keyed_state(
    stream: DataFrame, name: str, kernel: Callable | None = None
) -> DataFrame:
    """Run twin ``name``'s row of ``STATEFUL_TWINS`` over ``stream``:
    projection, watermark, one shuffle on the group keys, then the
    kernel (``kernel`` replaces the row's, for a parametrised twin)."""
    spec = STATEFUL_TWINS[name]
    if spec.columns is not None:
        stream = stream.select(*spec.columns)
    if spec.watermark is not None:
        stream = stream.withWatermark(spec.watermark, WATERMARK)
    return stream.groupBy(*spec.keys).applyInPandasWithState(
        kernel or spec.kernel, spec.out, spec.state, "append", spec.timeout
    )


SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min, µs — matches SESSION_GAP

_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ]
)


def _sessionize(key: tuple, pdfs, state: GroupState):
    """Per-user sessionizer: merge batch rows into the open-session state,
    emit every session closed by a >30 min gap; timeout (watermark passing
    last_ts + gap) closes and emits the final open session."""
    import pandas as pd

    (user_id,) = key

    if state.hasTimedOut:
        start, last, n, total = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "start_us": start,
                    "end_us": last,
                    "n_events": n,
                    "total_value": round(total, 4),
                }
            ]
        )
        return

    rows = pd.concat(list(pdfs))
    # ns→µs ints; arrival order within a batch is not time order
    ts_us = (rows["ts"].astype("int64") // 1000).sort_values().to_numpy()
    values = rows["value"].to_numpy()[rows["ts"].argsort().to_numpy()]

    if state.exists:
        start, last, n, total = state.get
    else:
        start, last, n, total = int(ts_us[0]), int(ts_us[0]) - 1, 0, 0.0

    closed = []
    for t, v in zip(ts_us, values):
        t = int(t)
        if n > 0 and t - last > SESSION_GAP_US:
            closed.append(
                {
                    "user_id": user_id,
                    "start_us": start,
                    "end_us": last,
                    "n_events": n,
                    "total_value": round(total, 4),
                }
            )
            start, n, total = t, 0, 0.0
        # late-but-within-watermark events from a later micro-batch may
        # precede the open session's end: they extend the session
        # backward/inside, but must never move `last` backward — a
        # regressing end would re-arm the timeout early and let the next
        # on-time event measure its gap against the late straggler,
        # falsely splitting the session
        start = t if n == 0 else min(start, t)
        last, n, total = max(last, t), n + 1, total + float(v)

    state.update((start, last, n, total))
    # close the open session once the watermark passes last + gap
    state.setTimeoutTimestamp(last // 1000 + SESSION_GAP_US // 1000)
    if closed:
        yield pd.DataFrame(closed)


def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once ingestion → exactly-once rows: keep the first sighting
    of each event_id, expire dedup state with the watermark."""
    events = read_events_stream(spark, sf_dir)
    return events.withWatermark("ts", WATERMARK).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


# ---------------------------------------------------------------------------
# streaming near-dup candidates: LSH band buckets as keyed state
# ---------------------------------------------------------------------------

_LSH_OUT_SCHEMA = StructType(
    [
        StructField("doc_a", LongType()),
        StructField("doc_b", LongType()),
        StructField("band_id", IntegerType()),
    ]
)

_LSH_STATE_SCHEMA = StructType(
    [StructField("doc_ids", ArrayType(LongType()))]
)


def _band_bucket_pairs(key: tuple, pdfs, state: GroupState):
    """Per-(band_id, band_hash) bucket state: the doc_ids seen in this
    bucket so far.  Each arriving doc pairs with every resident (and with
    earlier docs of its own micro-batch) — exactly the pairs the batch
    band self-join produces, emitted incrementally."""
    import pandas as pd

    band_id = int(key[0])
    seen = list(state.get[0]) if state.exists else []
    # drop ids already resident in the bucket: an at-least-once replay
    # re-delivers a doc into the same (band_id, band_hash) bucket, and
    # without this filter it would duplicate its state entry and re-emit
    # every pair against the residents on each redelivery.
    resident = set(seen)
    new_ids = sorted(
        {int(i) for pdf in pdfs for i in pdf["doc_id"].tolist()}
        - resident
    )
    out = []
    for idx, b in enumerate(new_ids):
        for a in seen + new_ids[:idx]:
            lo, hi = (a, b) if a < b else (b, a)
            out.append({"doc_a": lo, "doc_b": hi, "band_id": band_id})
    state.update((seen + new_ids,))
    if out:
        yield pd.DataFrame(out)


def streaming_lsh_candidates(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate CANDIDATE pairs — the
    incremental twin of ``minhash_lsh_dedup``'s banding stage, as a
    custom stateful operator.

    Per micro-batch: the same JVM shingle-hash projection and Arrow
    minhash/banding kernel as the batch op (shared code — signatures are
    bit-identical), then ``applyInPandasWithState`` keyed on
    (band_id, band_hash): state is the bucket's resident doc_ids, and a
    new doc emits one candidate row per resident.  Over any replayed
    backlog the emitted pair set EQUALS the batch band self-join's
    (test-pinned) — but arrives as docs land, which is how near-dup
    admission control actually runs.

    State sizing: one long per (doc, band) ever seen — hot buckets are
    real duplicate clusters.  On an unbounded stream, bound the horizon
    with ProcessingTimeTimeout eviction or periodic state snapshots to a
    table; the fixture backlog is finite so NoTimeout keeps the test
    semantics exact.  Downstream, pairs are verified exactly like the
    batch op (Jaccard on shingle arrays) — verification is stateless and
    joins only candidate ids."""
    from googlecloudstorage_blueprints_spark.operators.dedup import (
        hashed_shingle_docs,
        minhash_signatures_arrow,
    )

    stream = read_table_stream(
        spark, sf_dir, "documents", glob, max_files_per_trigger
    )
    bands = minhash_signatures_arrow(
        hashed_shingle_docs(stream.where(F.col("text").isNotNull())),
        emit_bands=True,
    )
    return keyed_state(bands, "streaming_lsh_candidates")


# ---------------------------------------------------------------------------
# streaming sequence packing: per-source running token offset as state
# ---------------------------------------------------------------------------

_PACK_OUT_SCHEMA = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("n_tokens", LongType()),
        StructField("bin_id", LongType()),
    ]
)

_PACK_STATE_SCHEMA = StructType(
    [StructField("tokens_so_far", LongType())]
)


def _pack_bins(key: tuple, pdfs, state: GroupState):
    """Per-source packer: assign each arriving doc the bin
    ``floor(tokens_before_it / C)`` where the running token total is the
    keyed state — the streaming form of the batch op's cumulative
    window.  Docs are packed in doc_id order WITHIN each micro-batch;
    cross-batch order is arrival order (for the replayed fixture that is
    doc_id order, matching the batch oracle exactly)."""
    import pandas as pd

    from googlecloudstorage_blueprints_spark.operators.training import (
        PACK_CONTEXT_TOKENS,
    )

    (source,) = key
    offset = int(state.get[0]) if state.exists else 0
    frames = []
    for pdf in pdfs:
        pdf = pdf.sort_values("doc_id")
        toks = pdf["n_tokens"].to_numpy()
        before = offset + toks.cumsum() - toks
        frames.append(
            pd.DataFrame(
                {
                    "source": source,
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "n_tokens": toks,
                    "bin_id": before // PACK_CONTEXT_TOKENS,
                }
            )
        )
        offset = int(before[-1] + toks[-1]) if len(toks) else offset
    state.update((offset,))
    if frames:
        yield pd.concat(frames)


def streaming_sequence_pack(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming context-window packing — the incremental twin of
    ``sequence_pack``: documents land, are tokenized map-side (JVM
    split/size), and each source's running token total lives in keyed
    state, so bin assignment needs no batch recompute and no window.

    One shuffle on ``source`` per micro-batch; state is ONE bigint per
    source — the smallest possible stateful footprint.  Bin ids match
    the batch operator bit-for-bit when replay order is doc_id order
    (test-pinned); out-of-order arrival packs in arrival order, which is
    the correct online semantics (a packer cannot reorder history)."""
    stream = read_table_stream(
        spark, sf_dir, "documents", glob, max_files_per_trigger
    )
    toks = stream.where(F.col("text").isNotNull()).select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    return keyed_state(toks, "streaming_sequence_pack")


# ---------------------------------------------------------------------------
# streaming gap-fill: per-user forward-fill state with event-time eviction
# ---------------------------------------------------------------------------

HOUR_US = 3_600 * 1_000_000
# Evict a user's fill state once the watermark passes their last bucket by
# this horizon: a returning user restarts their grid instead of emitting an
# unbounded catch-up run of filled rows.  Bounds both state size (one tuple
# per user active within the horizon) and per-arrival output (≤ horizon
# hours of fill rows) — the two quantities that must not scale with history
# on an unbounded stream.  The fixture backlog spans well under this, so
# the replay test sees batch-identical output.
GAPFILL_EVICT_HORIZON_US = 90 * 24 * HOUR_US

_GAPFILL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("bucket", StringType()),
        StructField("observed", BooleanType()),
        StructField("filled_value", DoubleType()),
    ]
)

_GAPFILL_STATE_SCHEMA = StructType(
    [
        StructField("last_bucket_us", LongType()),
        StructField("last_value", DoubleType()),
    ]
)


def _bucket_str(us: int) -> str:
    import datetime as _dt

    return _dt.datetime.fromtimestamp(
        us / 1_000_000, tz=_dt.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S")


def _make_gapfill(evict_horizon_us: int):
    """Build the per-user gap-fill kernel with the eviction horizon
    captured in the closure (module globals don't survive the trip to
    the Python workers, so the horizon must travel with the function)."""

    def _gapfill(key: tuple, pdfs, state: GroupState):
        """Per-user gap-filler: state is (last emitted grid bucket, last
        hourly value).  New events extend the user's hourly grid from the
        bucket after the last emitted one through their newest bucket,
        emitting observed rows (this batch's rounded hourly sum) and filled
        rows (the forward-carried value) — the streaming form of the batch
        op's grid-explode + last(ignorenulls) window, built incrementally so
        no window ever spans history.

        Event-time timeout evicts idle users (see GAPFILL_EVICT_HORIZON_US).
        Late buckets at or before the last emitted one re-emit as observed
        rows with their partial sum but never rewrite emitted history
        (append-mode semantics; downstream merges on (user_id, bucket))."""
        import pandas as pd

        (user_id,) = key

        if state.hasTimedOut:
            state.remove()
            return

        rows = pd.concat(list(pdfs))
        ts_us = rows["ts"].astype("int64") // 1000
        bucket_us = ts_us - (ts_us % HOUR_US)
        hourly = (
            pd.DataFrame({"b": bucket_us, "v": rows["value"].astype("float64")})
            .groupby("b")["v"]
            .sum()
            .round(4)
            .sort_index()
        )

        out = []
        if state.exists:
            last_b, last_v = int(state.get[0]), float(state.get[1])
            late = hourly[hourly.index <= last_b]
            for b, v in late.items():
                out.append(
                    {
                        "user_id": user_id,
                        "bucket": _bucket_str(int(b)),
                        "observed": True,
                        "filled_value": float(v),
                    }
                )
            fresh = hourly[hourly.index > last_b]
            start_b = last_b + HOUR_US
        else:
            fresh = hourly
            last_b, last_v = None, None
            start_b = int(fresh.index[0]) if len(fresh) else None

        if len(fresh):
            observed = {int(b): float(v) for b, v in fresh.items()}
            end_b = int(fresh.index[-1])
            for b in range(start_b, end_b + HOUR_US, HOUR_US):
                if b in observed:
                    last_v = observed[b]
                    obs = True
                else:
                    obs = False
                out.append(
                    {
                        "user_id": user_id,
                        "bucket": _bucket_str(b),
                        "observed": obs,
                        "filled_value": last_v,
                    }
                )
            last_b = end_b
        if last_b is not None:
            state.update((int(last_b), float(last_v)))
            state.setTimeoutTimestamp(
                (last_b + evict_horizon_us) // 1000
            )
        if out:
            yield pd.DataFrame(out)

    return _gapfill


def streaming_gapfill(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
    evict_horizon_us: int = GAPFILL_EVICT_HORIZON_US,
) -> DataFrame:
    """Streaming time-series gap-fill — the incremental twin of the batch
    ``events_gapfill`` operator (operators/events.py): densify each
    user's hourly grid as events land, forward-filling holes from keyed
    state instead of a history-wide window.

    One shuffle on user_id per micro-batch; state is one
    (bucket, value) tuple per user, evicted by event-time timer once the
    watermark passes their last bucket + horizon — the property that
    bounds state on an unbounded stream (an idle-then-returning user
    restarts their grid rather than emitting months of filled rows).
    Over an in-order replay of a bounded backlog the emitted rows EQUAL
    the batch operator's output (test-pinned), except a user's leading
    batch NULL-fill rows, which cannot exist here because a streaming
    grid starts at the first observation."""
    events = read_events_stream(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    return keyed_state(
        events, "streaming_gapfill", _make_gapfill(evict_horizon_us)
    )


# ---------------------------------------------------------------------------
# streaming latest-snapshot: CDC compaction as keyed state
# ---------------------------------------------------------------------------

_SNAPSHOT_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("ts_us", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)

_SNAPSHOT_STATE_SCHEMA = StructType(
    [
        StructField("ts_us", LongType()),
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def _latest_per_key(key: tuple, pdfs, state: GroupState):
    """Per-key CDC compaction: state holds the newest (ts_us, event_id)
    record seen so far; a micro-batch emits one row per key IFF it
    advances the snapshot (out-of-order and redelivered rows that lose
    the (ts_us, event_id) race are absorbed silently — replay-idempotent
    by construction).  Emitted rows form the snapshot's changelog; the
    newest emission per key IS the snapshot (test-pinned against the
    batch ``latest_snapshot`` operator)."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us)
    best = rows.sort_values(["ts_us", "event_id"]).iloc[-1]
    if state.exists:
        cur_ts, cur_id = int(state.get[0]), int(state.get[1])
        if (int(best["ts_us"]), int(best["event_id"])) <= (cur_ts, cur_id):
            return
    state.update(
        (
            int(best["ts_us"]),
            int(best["event_id"]),
            str(best["event_type"]),
            float(best["value"]),
        )
    )
    yield pd.DataFrame(
        [
            {
                "user_id": int(user_id),
                "event_id": int(best["event_id"]),
                "ts_us": int(best["ts_us"]),
                "event_type": str(best["event_type"]),
                "value": round(float(best["value"]), 6),
            }
        ]
    )


# ---------------------------------------------------------------------------
# streaming transition counts: last-event-type keyed state
# ---------------------------------------------------------------------------

_TRANSITION_OUT_SCHEMA = StructType(
    [
        StructField("src", StringType()),
        StructField("dst", StringType()),
        StructField("n", LongType()),
    ]
)

_TRANSITION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
    ]
)


def _transition_counts(key: tuple, pdfs, state: GroupState):
    """Per-user transition counter: state carries the newest event's
    (ts_us, event_id, type); each micro-batch sorts its rows into the
    user's sequence, counts consecutive type pairs (bridging the batch
    boundary through state), and emits per-batch (src, dst, n) partial
    counts.  Downstream sums partials — the streaming decomposition of
    the batch lead() window, exact over an in-order replay (the same
    contract as streaming_sequence_pack; a late event older than state
    would fabricate a transition the batch op doesn't have)."""
    import collections

    import pandas as pd

    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"])
    types = rows["event_type"].tolist()
    if state.exists:
        prev = [str(state.get[2])]
        types = prev + types
    counts = collections.Counter(zip(types, types[1:]))
    last = rows.iloc[-1]
    state.update(
        (int(last["ts_us"]), int(last["event_id"]), str(last["event_type"]))
    )
    if counts:
        yield pd.DataFrame(
            [
                {"src": s, "dst": d, "n": int(n)}
                for (s, d), n in sorted(counts.items())
            ]
        )


# ---------------------------------------------------------------------------
# streaming co-occurrence: seen-type-set keyed state
# ---------------------------------------------------------------------------

_COOC_OUT_SCHEMA = StructType(
    [
        StructField("type_a", StringType()),
        StructField("type_b", StringType()),
        StructField("n", LongType()),
    ]
)

_COOC_STATE_SCHEMA = StructType(
    [StructField("seen_types", ArrayType(StringType()))]
)


def _cooccurrence_pairs(key: tuple, pdfs, state: GroupState):
    """Per-user co-occurrence: state is the user's SEEN TYPE SET (bounded
    by the type enum, not history).  A type seen for the first time emits
    one pair with every previously-seen type; repeats emit nothing — so
    each (user, pair) contributes exactly once ever, and summed emissions
    equal the batch distinct-pair counts.  Redelivered rows find their
    type already in state and are no-ops (replay-idempotent)."""
    import pandas as pd

    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"])
    seen = set(state.get[0]) if state.exists else set()
    out = []
    for t in rows["event_type"]:
        t = str(t)
        if t in seen:
            continue
        for s in seen:
            a, b = (s, t) if s < t else (t, s)
            out.append({"type_a": a, "type_b": b, "n": 1})
        seen.add(t)
    state.update((sorted(seen),))
    if out:
        yield pd.DataFrame(out)


# ---------------------------------------------------------------------------
# streaming SCD2 maintenance: open-interval keyed state
# ---------------------------------------------------------------------------

_SCD2_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from_us", LongType()),
        StructField("valid_to_us", LongType()),
    ]
)

_SCD2_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("cur_type", StringType()),
        StructField("cur_from_us", LongType()),
    ]
)


def _scd2_intervals(key: tuple, pdfs, state: GroupState):
    """Per-key CDC-to-SCD2 maintenance: state carries the OPEN validity
    interval (cur_type, cur_from_us) plus the newest (ts_us, event_id)
    applied.  A micro-batch sorts its rows into the key's sequence,
    closes an interval at every attribute change (emitting the closed
    row — final, emitted exactly once) and re-emits the currently-open
    interval with valid_to_us NULL (superseded by its closed form when
    the next change arrives).  Rows that lose the (ts_us, event_id)
    race against state are absorbed, so full-backlog redelivery emits
    nothing — replay-idempotent like ``_latest_per_key``."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    rows = rows.assign(ts_us=rows["ts"].astype("int64") // 1000)
    rows = rows.sort_values(["ts_us", "event_id"])
    if state.exists:
        last_ts, last_id, cur_type, cur_from = state.get
        keep = (rows["ts_us"] > last_ts) | (
            (rows["ts_us"] == last_ts) & (rows["event_id"] > last_id)
        )
        rows = rows[keep]
    else:
        cur_type, cur_from = None, None
    if rows.empty:
        return
    out: list[dict] = []
    for ts_us, event_id, etype in zip(
        rows["ts_us"], rows["event_id"], rows["event_type"]
    ):
        if cur_type is None:
            cur_type, cur_from = str(etype), int(ts_us)
        elif str(etype) != cur_type:
            out.append(
                {
                    "user_id": int(user_id),
                    "event_type": cur_type,
                    "valid_from_us": int(cur_from),
                    "valid_to_us": int(ts_us),
                }
            )
            cur_type, cur_from = str(etype), int(ts_us)
        last_ts, last_id = int(ts_us), int(event_id)
    out.append(
        {
            "user_id": int(user_id),
            "event_type": cur_type,
            "valid_from_us": int(cur_from),
            "valid_to_us": None,
        }
    )
    state.update((last_ts, last_id, cur_type, int(cur_from)))
    yield pd.DataFrame(out)


# ---------------------------------------------------------------------------
# streaming user-activity distinct: seen-day-set keyed state (DAU/WAU feed)
# ---------------------------------------------------------------------------

_ACTIVITY_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("epoch_day", LongType()),
    ]
)

_ACTIVITY_STATE_SCHEMA = StructType(
    [StructField("seen_days", ArrayType(LongType()))]
)

# Epoch-bucket keys (day/week/hour) in the kernels use Python floor
# division (//), while the batch ops use Spark `div` (truncates toward
# zero).  The two agree for ALL non-negative epoch-µs values and diverge
# only pre-1970 (negative µs): // floors down, div truncates up.  Every
# fixture and the documented data contract are post-epoch timestamps, so
# the kernels assume ts_us >= 0; if pre-1970 data ever becomes possible,
# switch the kernels to int(ts_us / period) (truncation, matching div)
# or normalize both surfaces to floored keys.  (r15 advice item.)
_US_PER_DAY = 86_400 * 1_000_000


def _activity_days(key: tuple, pdfs, state: GroupState):
    """Per-user activity-day dedup: state holds the set of UTC epoch
    days already emitted; a micro-batch emits one (user, day) row per
    FIRST sighting of a day.  Re-sighted days (later events, redelivered
    batches) are absorbed by the set, so summed emissions equal the
    batch distinct-(user, day) frame over any replay."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    days = set(
        (rows["ts"].astype("int64") // 1000 // _US_PER_DAY).tolist()
    )
    seen = set(state.get[0]) if state.exists else set()
    fresh = sorted(days - seen)
    if not fresh:
        return
    state.update((sorted(seen | days),))
    yield pd.DataFrame(
        {"user_id": int(user_id), "epoch_day": fresh}
    )


# ---------------------------------------------------------------------------
# streaming session path trigrams: rolling two-event session tail state
# ---------------------------------------------------------------------------

_PATH_OUT_SCHEMA = StructType(
    [
        StructField("trigram", StringType()),
        StructField("n", LongType()),
    ]
)

# the current session's last (up to) two events; missing slots use the
# (-1, -1, "") sentinel — state columns must stay non-null fixed-width
_PATH_STATE_SCHEMA = StructType(
    [
        StructField("ts1_us", LongType()),
        StructField("id1", LongType()),
        StructField("t1", StringType()),
        StructField("ts2_us", LongType()),
        StructField("id2", LongType()),
        StructField("t2", StringType()),
    ]
)


def _path_trigram_counts(key: tuple, pdfs, state: GroupState):
    """Per-user path-trigram counter: state carries the CURRENT
    session's trailing two events (ts_us, event_id, type); each
    micro-batch sorts its rows into the user's sequence, slides the
    session window (a >30-min gap resets the tail — same gap rule as
    the batch sessionization), and emits one trigram per in-session
    event that has two predecessors.  That is exactly one emission per
    batch-op trigram position, so summed partials equal the batch
    ``session_trigram_counts`` over any in-order replay (the
    streaming_transition_matrix contract: a late event older than
    state would fabricate a path the batch op doesn't have)."""
    import collections

    import pandas as pd

    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"])

    tail: list[tuple[int, int, str]] = []
    if state.exists:
        s = state.get
        if int(s[0]) >= 0:
            tail.append((int(s[0]), int(s[1]), str(s[2])))
        tail.append((int(s[3]), int(s[4]), str(s[5])))

    counts: collections.Counter = collections.Counter()
    for r in rows.itertuples(index=False):
        ev = (int(r.ts_us), int(r.event_id), str(r.event_type))
        if tail and ev[0] - tail[-1][0] > SESSION_GAP_US:
            tail = []
        if len(tail) == 2:
            counts[f"{tail[0][2]} {tail[1][2]} {ev[2]}"] += 1
        tail = (tail + [ev])[-2:]

    if len(tail) == 1:
        state.update((-1, -1, "", tail[0][0], tail[0][1], tail[0][2]))
    else:
        state.update(tail[0] + tail[1])

    if counts:
        yield pd.DataFrame(
            [
                {"trigram": t, "n": int(n)}
                for t, n in sorted(counts.items())
            ]
        )


# ---------------------------------------------------------------------------
# streaming funnel conversion delays: first-entry/converted keyed state
# ---------------------------------------------------------------------------

_FUNNEL_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("delay_s", LongType()),
    ]
)

# (first entry-event ts or -1, converted flag as 0/1, newest {to} ts
# seen BEFORE any entry or -1 — the tied-timestamp bridge)
_FUNNEL_STATE_SCHEMA = StructType(
    [
        StructField("ta_us", LongType()),
        StructField("converted", IntegerType()),
        StructField("lastp_us", LongType()),
    ]
)


def _make_funnel_delays(from_type: str, to_type: str):
    def fn(key: tuple, pdfs, state: GroupState):
        """Per-user conversion tracker: state is (first {from} ts,
        converted?, newest pre-entry {to} ts).  The first {to} event
        with ts AT-OR-AFTER the first {from} ts emits the user's delay
        EXACTLY ONCE and latches converted — the batch op's rule is a
        TIMESTAMP comparison, so a {to} TIED with the {from} counts
        even when its event_id orders it first; the pending field
        carries that case across the walk (and across batch cuts):
        under in-order replay every earlier {to} has ts ≤ the eventual
        first-{from} ts, so only an exact tie can qualify, and the
        NEWEST pre-entry {to} ts detects it.  Later {to}s and
        full-backlog redelivery are absorbed, so the emission set is
        replay-idempotent (unlike the partial-count twins, which
        require in-order replay)."""
        import pandas as pd

        rows = pd.concat(list(pdfs))
        ts_us = rows["ts"].astype("int64") // 1000
        rows = rows.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"])

        ta, converted, lastp = (-1, 0, -1)
        if state.exists:
            ta, converted, lastp = (
                int(state.get[0]),
                int(state.get[1]),
                int(state.get[2]),
            )

        out = []
        for r in rows.itertuples(index=False):
            if r.event_type == from_type and ta < 0:
                ta = int(r.ts_us)
                if not converted and lastp == ta:
                    out.append(0)  # tied {to} already seen → delay 0
                    converted = 1
            elif r.event_type == to_type and not converted:
                if ta >= 0 and int(r.ts_us) >= ta:
                    out.append((int(r.ts_us) - ta) // 1_000_000)
                    converted = 1
                elif ta < 0:
                    lastp = int(r.ts_us)
        state.update((ta, converted, lastp))
        (user_id,) = key
        if out:
            yield pd.DataFrame(
                {"user_id": int(user_id), "delay_s": out}
            )

    fn.__doc__ = fn.__doc__.format(**{"from": from_type, "to": to_type})
    return fn


# ---------------------------------------------------------------------------
# streaming first-ship SLA: running-min changelog per order (r9)
# ---------------------------------------------------------------------------

_FIRSTSHIP_OUT_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("first_ship_us", LongType()),
        StructField("ship_line", LongType()),
    ]
)

_FIRSTSHIP_STATE_SCHEMA = StructType(
    [
        StructField("best_ship_us", LongType()),
        StructField("best_line", LongType()),
    ]
)


def _first_ship_per_order(key: tuple, pdfs, state: GroupState):
    """Per-order running-MIN ship compaction — the mirror image of
    ``_latest_per_key``: state holds the earliest (ship_us, linenumber)
    seen; a micro-batch emits one row per order IFF it improves the
    minimum.  Late/out-of-order/redelivered lines that LOSE the min
    race are absorbed silently, so the changelog is replay-idempotent
    under ANY delivery order and its newest (= smallest) emission per
    key is the true first-ship timestamp once the backlog drains."""
    import pandas as pd

    (orderkey,) = key
    rows = pd.concat(list(pdfs))
    ship_us = rows["l_shipdate"].astype("int64") // 1000
    rows = rows.assign(ship_us=ship_us)
    best = rows.sort_values(["ship_us", "l_linenumber"]).iloc[0]
    cand = (int(best["ship_us"]), int(best["l_linenumber"]))
    if state.exists:
        cur = (int(state.get[0]), int(state.get[1]))
        if cand >= cur:
            return
    state.update(cand)
    yield pd.DataFrame(
        [
            {
                "l_orderkey": int(orderkey),
                "first_ship_us": cand[0],
                "ship_line": cand[1],
            }
        ]
    )


def streaming_first_ship_sla(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "lineitem.parquet",
    max_files_per_trigger: int | None = None,
    orders_dir: str | None = None,
) -> DataFrame:
    """Streaming SLA tracker — the incremental twin of the batch
    ``order_priority_sla`` core (operators/segments.py): the shipments
    feed compacts to a running-min first-ship changelog per order
    (``_first_ship_per_order``), which a stream-static broadcast join
    decorates with the order's priority and an integer-µs within-SLA
    flag.  The newest emission per order matches the batch MIN exactly
    (test-pinned), so per-priority SLA rates downstream are a plain
    stateless aggregate of this append stream.

    Scale: state is one fixed-width pair per LIVE order; no timeout for
    the same reason as the snapshot twin (dropping an idle order would
    forget its first shipment — memory is O(|open orders|), the bound
    the downstream table has anyway).  The orders side rides the
    broadcast stream-static join (no state store)."""
    from googlecloudstorage_blueprints_spark.operators.segments import (
        SLA_DAYS,
        _US_PER_DAY,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import (
        load_table,
    )
    li = read_table_stream(
        spark, sf_dir, "lineitem", glob, max_files_per_trigger
    )
    changelog = keyed_state(li, "streaming_first_ship_sla")
    orders = load_table(spark, orders_dir or sf_dir, "orders").select(
        F.col("o_orderkey"),
        F.col("o_orderpriority"),
        F.unix_micros(F.col("o_orderdate")).alias("order_us"),
    )
    within = (
        F.col("first_ship_us") - F.col("order_us")
        <= F.lit(SLA_DAYS).cast("long") * F.lit(_US_PER_DAY)
    )
    return changelog.join(
        F.broadcast(orders),
        changelog.l_orderkey == orders.o_orderkey,
    ).select(
        "l_orderkey",
        "o_orderpriority",
        "first_ship_us",
        within.alias("within_sla"),
    )


# ---------------------------------------------------------------------------
# streaming session entries: gap sessionizer that carries the entry type
# ---------------------------------------------------------------------------

_ENTRY_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("entry_type", StringType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_ENTRY_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("entry_type", StringType()),
        StructField("entry_event_id", LongType()),
    ]
)


def _sessionize_entries(key: tuple, pdfs, state: GroupState):
    """``_sessionize`` with the session's ENTRY EVENT tracked in state:
    the entry is the (ts_us, event_id)-minimal event of the session, so
    a late-but-within-watermark straggler that precedes the current
    entry TAKES OVER the entry slot (same min-race rule the batch
    window uses); closed sessions emit (entry_type, bounds, n_events) —
    the feed ``session_bounce_rate`` aggregates statelessly."""
    import pandas as pd

    (user_id,) = key

    if state.hasTimedOut:
        start, last, n, etype, eid = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": int(user_id),
                    "entry_type": str(etype),
                    "start_us": int(start),
                    "end_us": int(last),
                    "n_events": int(n),
                }
            ]
        )
        return

    rows = pd.concat(list(pdfs))
    ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()
    order = ts_us.argsort(kind="stable")
    ts_us = ts_us[order]
    eids = rows["event_id"].to_numpy()[order]
    types = rows["event_type"].to_numpy()[order]

    if state.exists:
        start, last, n, etype, eeid = state.get
        start, last, n, eeid = int(start), int(last), int(n), int(eeid)
        etype = str(etype)
    else:
        start, last, n, etype, eeid = (
            int(ts_us[0]), int(ts_us[0]) - 1, 0, "", -1,
        )

    closed = []
    for t, eid, ty in zip(ts_us, eids, types):
        t, eid, ty = int(t), int(eid), str(ty)
        if n > 0 and t - last > SESSION_GAP_US:
            closed.append(
                {
                    "user_id": int(user_id),
                    "entry_type": etype,
                    "start_us": start,
                    "end_us": last,
                    "n_events": n,
                }
            )
            start, n, etype, eeid = t, 0, "", -1
        # the (ts, event_id)-minimal event owns the entry slot — a late
        # straggler preceding the current entry takes it over, matching
        # the batch rank window's total order
        if n == 0 or (t, eid) < (start, eeid):
            etype, eeid = ty, eid
        start = t if n == 0 else min(start, t)
        last, n = max(last, t), n + 1

    state.update((start, last, n, etype, eeid))
    state.setTimeoutTimestamp(last // 1000 + SESSION_GAP_US // 1000)
    if closed:
        yield pd.DataFrame(closed)


# ---------------------------------------------------------------------------
# streaming session depth + conversion (feed for session_depth_conversion)
# ---------------------------------------------------------------------------

_DEPTH_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
        StructField("converted", LongType()),
    ]
)

_DEPTH_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("converted", LongType()),
    ]
)


def _sessionize_depth(key: tuple, pdfs, state: GroupState):
    """``_sessionize`` with a CONVERSION LATCH in state: any purchase
    inside the session sets ``converted`` and nothing un-sets it until
    the gap closes the session — closed sessions emit (bounds,
    n_events, converted), the feed ``session_depth_conversion``
    aggregates statelessly.  Late-but-within-watermark stragglers fold
    in exactly like ``_sessionize`` (start may move back, ``last``
    never regresses); a late purchase still flips the latch because
    OR is order-insensitive."""
    import pandas as pd

    (user_id,) = key

    if state.hasTimedOut:
        start, last, n, conv = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": int(user_id),
                    "start_us": int(start),
                    "end_us": int(last),
                    "n_events": int(n),
                    "converted": int(conv),
                }
            ]
        )
        return

    rows = pd.concat(list(pdfs))
    ts_us = (rows["ts"].astype("int64") // 1000).to_numpy()
    order = ts_us.argsort(kind="stable")
    ts_us = ts_us[order]
    types = rows["event_type"].to_numpy()[order]

    if state.exists:
        start, last, n, conv = (int(x) for x in state.get)
    else:
        start, last, n, conv = int(ts_us[0]), int(ts_us[0]) - 1, 0, 0

    closed = []
    for t, ty in zip(ts_us, types):
        t = int(t)
        if n > 0 and t - last > SESSION_GAP_US:
            closed.append(
                {
                    "user_id": int(user_id),
                    "start_us": start,
                    "end_us": last,
                    "n_events": n,
                    "converted": conv,
                }
            )
            start, n, conv = t, 0, 0
        start = t if n == 0 else min(start, t)
        last, n = max(last, t), n + 1
        if str(ty) == "purchase":
            conv = 1

    state.update((start, last, n, conv))
    state.setTimeoutTimestamp(last // 1000 + SESSION_GAP_US // 1000)
    if closed:
        yield pd.DataFrame(closed)


# ---------------------------------------------------------------------------
# streaming first-touch attribution: running-min changelog per user (r11)
# ---------------------------------------------------------------------------

_FIRSTTOUCH_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("first_ts_us", LongType()),
        StructField("first_event_id", LongType()),
        StructField("first_type", StringType()),
    ]
)

_FIRSTTOUCH_STATE_SCHEMA = StructType(
    [
        StructField("best_ts_us", LongType()),
        StructField("best_event_id", LongType()),
        StructField("best_type", StringType()),
    ]
)


def _first_touch_per_user(key: tuple, pdfs, state: GroupState):
    """Per-user running-MIN first-event compaction — the events-side
    mirror of ``_first_ship_per_order``: state holds the earliest
    (ts_us, event_id) seen plus its event type; a micro-batch emits one
    row per user IFF it improves the minimum.  Late/out-of-order/
    redelivered events that LOSE the (ts_us, event_id) race — the SAME
    total order the batch ``user_first_touch_attribution`` rank window
    uses — are absorbed silently, so the changelog is replay-idempotent
    under ANY delivery order and its newest (= smallest) emission per
    user is the true first touch once the backlog drains."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us)
    best = rows.sort_values(["ts_us", "event_id"]).iloc[0]
    cand = (
        int(best["ts_us"]),
        int(best["event_id"]),
        str(best["event_type"]),
    )
    if state.exists:
        cur = (int(state.get[0]), int(state.get[1]))
        if cand[:2] >= cur:
            return
    state.update(cand)
    yield pd.DataFrame(
        [
            {
                "user_id": int(user_id),
                "first_ts_us": cand[0],
                "first_event_id": cand[1],
                "first_type": cand[2],
            }
        ]
    )


# ---------------------------------------------------------------------------
# streaming pair latency: hand-off gap partial sums (r11)
# ---------------------------------------------------------------------------

_PAIR_LATENCY_OUT_SCHEMA = StructType(
    [
        StructField("prev_type", StringType()),
        StructField("next_type", StringType()),
        StructField("n_pairs", LongType()),
        StructField("total_gap_us", LongType()),
    ]
)

_PAIR_LATENCY_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
        StructField("last_type", StringType()),
    ]
)


def _pair_latency_sums(key: tuple, pdfs, state: GroupState):
    """Per-user hand-off latency partials: state carries the newest
    event's (ts_us, event_id, type) — the SAME one-tuple bridge as
    ``_transition_counts`` — and each micro-batch emits per
    (prev_type, next_type) pair the count AND the summed µs gap of the
    consecutive hand-offs it completes, state's tuple bridging the
    batch-boundary pair.  Partial (n, Σgap) rows are exact-integer
    summable downstream in any order, the streaming decomposition of
    the batch lag window's count/total columns; same in-order-replay
    contract as the transition kernel (a late event older than state
    would fabricate a hand-off the batch op doesn't have)."""
    import collections

    import pandas as pd

    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"])
    seq = list(zip(rows["ts_us"].tolist(), rows["event_type"].tolist()))
    if state.exists:
        seq = [(int(state.get[0]), str(state.get[2]))] + seq
    sums: dict = collections.defaultdict(lambda: [0, 0])
    for (t0, ty0), (t1, ty1) in zip(seq, seq[1:]):
        cell = sums[(ty0, ty1)]
        cell[0] += 1
        cell[1] += t1 - t0
    last = rows.iloc[-1]
    state.update(
        (int(last["ts_us"]), int(last["event_id"]), str(last["event_type"]))
    )
    if sums:
        yield pd.DataFrame(
            [
                {
                    "prev_type": a,
                    "next_type": b,
                    "n_pairs": int(n),
                    "total_gap_us": int(g),
                }
                for (a, b), (n, g) in sorted(sums.items())
            ]
        )


# ---------------------------------------------------------------------------
# streaming intersession gaps: return-latency partial sums (r13)
# ---------------------------------------------------------------------------

_INTERSESSION_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_gaps", LongType()),
        StructField("total_gap_us", LongType()),
    ]
)

_INTERSESSION_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType()),
        StructField("last_event_id", LongType()),
    ]
)


def _intersession_gap_sums(key: tuple, pdfs, state: GroupState):
    """Per-user BETWEEN-session gap partials: state carries the newest
    event's (ts_us, event_id) — the one-tuple bridge — and each
    micro-batch emits the count and summed µs of the >gap deltas it
    completes.  A delta strictly over ``SESSION_GAP_US`` is, by the
    sessionizer's own rule, exactly next-session-start minus
    prev-session-end, so summed partials over any in-order replay
    reproduce the batch op's per-user intersession gaps (within-session
    deltas are skipped, not summed).  Same in-order-replay contract as
    the transition/pair-latency kernels."""
    import pandas as pd

    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"])
    seq = rows["ts_us"].tolist()
    if state.exists:
        seq = [int(state.get[0])] + seq
    n, total = 0, 0
    for t0, t1 in zip(seq, seq[1:]):
        d = t1 - t0
        if d > SESSION_GAP_US:
            n += 1
            total += d
    last = rows.iloc[-1]
    state.update((int(last["ts_us"]), int(last["event_id"])))
    if n:
        yield pd.DataFrame(
            [
                {
                    "user_id": int(key[0]),
                    "n_gaps": int(n),
                    "total_gap_us": int(total),
                }
            ]
        )


# ---------------------------------------------------------------------------
# streaming session starts: the session-count changelog (r13)
# ---------------------------------------------------------------------------

_SESSION_STARTS_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("start_ts_us", LongType()),
    ]
)


def _session_start_marks(key: tuple, pdfs, state: GroupState):
    """Per-user session-START marks: state is the same (ts_us,
    event_id) one-tuple bridge as ``_intersession_gap_sums``; a
    micro-batch emits one row per session the gap rule OPENS — the
    user's first-ever event, then every strictly->gap delta.  Counting
    a user's marks over any in-order replay equals the batch
    sessionizer's 1 + Σ is_new, so the histogram twin is a pure
    downstream regroup; each mark carries its start timestamp so the
    same changelog also feeds session-rate-over-time rollups."""
    import pandas as pd

    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    rows = rows.assign(ts_us=ts_us).sort_values(["ts_us", "event_id"])
    seq = rows["ts_us"].tolist()
    starts = []
    prev = int(state.get[0]) if state.exists else None
    for t in seq:
        if prev is None or t - prev > SESSION_GAP_US:
            starts.append(t)
        prev = t
    last = rows.iloc[-1]
    state.update((int(last["ts_us"]), int(last["event_id"])))
    if starts:
        yield pd.DataFrame(
            {
                "user_id": [int(key[0])] * len(starts),
                "start_ts_us": starts,
            }
        )


# ---------------------------------------------------------------------------
# streaming weekly conversion: per-user seen/bought week sets (r12)
# ---------------------------------------------------------------------------

_WEEKLY_CONV_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("epoch_week", LongType()),
        StructField("kind", StringType()),
    ]
)

_WEEKLY_CONV_STATE_SCHEMA = StructType(
    [
        StructField("seen_weeks", ArrayType(LongType())),
        StructField("bought_weeks", ArrayType(LongType())),
    ]
)

_US_PER_WEEK = 7 * 86_400 * 1_000_000


def _weekly_conversion_marks(key: tuple, pdfs, state: GroupState):
    """Per-user conditional-distinct marks: state holds the sets of
    epoch-weeks already emitted as ACTIVE and as BUYER; a micro-batch
    emits one ('active') row per first sighting of a (user, week) and
    one ('buyer') row per first PURCHASE sighting of it — the two
    conditional distincts of the batch weekly-conversion aggregate as
    exactly-once changelog rows.  Re-sighted weeks (later events,
    redelivered batches) are absorbed by the sets, so any replay's
    summed emissions equal the batch COUNT(DISTINCT ...) pair."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    wk = rows["ts"].astype("int64") // 1000 // _US_PER_WEEK
    weeks_all = set(wk.tolist())
    buy_weeks = set(wk[rows["event_type"] == "purchase"].tolist())
    seen = set(state.get[0]) if state.exists else set()
    bought = set(state.get[1]) if state.exists else set()
    fresh_active = sorted(weeks_all - seen)
    fresh_buyer = sorted(buy_weeks - bought)
    if not fresh_active and not fresh_buyer:
        return
    state.update(
        (sorted(seen | weeks_all), sorted(bought | buy_weeks))
    )
    out = [
        {"user_id": int(user_id), "epoch_week": int(w), "kind": "active"}
        for w in fresh_active
    ] + [
        {"user_id": int(user_id), "epoch_week": int(w), "kind": "buyer"}
        for w in fresh_buyer
    ]
    yield pd.DataFrame(out)


# ---------------------------------------------------------------------------
# streaming order-close changelog: running-MAX ship per order (r12)
# ---------------------------------------------------------------------------

_ORDERCLOSE_OUT_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType()),
        StructField("close_day", LongType()),
        StructField("close_line", LongType()),
    ]
)

_ORDERCLOSE_STATE_SCHEMA = StructType(
    [
        StructField("best_day", LongType()),
        StructField("best_line", LongType()),
    ]
)


def _order_close_per_order(key: tuple, pdfs, state: GroupState):
    """Per-order running-MAX ship compaction — the max-race mirror of
    ``_first_ship_per_order``: state holds the latest (ship epoch-day,
    linenumber) seen; a micro-batch emits one row per order IFF it
    ADVANCES the maximum.  Late/out-of-order/redelivered lines that
    lose the race are absorbed silently, so the changelog is
    replay-idempotent under any delivery order, and its newest
    (= largest) emission per order is the order's true close day once
    the backlog drains — exactly the per-order MAX the batch
    ``orders_inflight_monthly`` span frame takes."""
    import pandas as pd

    (orderkey,) = key
    rows = pd.concat(list(pdfs))
    day = rows["l_shipdate"].astype("int64") // 1000 // _US_PER_DAY
    rows = rows.assign(day=day)
    best = rows.sort_values(
        ["day", "l_linenumber"], ascending=[False, False]
    ).iloc[0]
    cand = (int(best["day"]), int(best["l_linenumber"]))
    if state.exists:
        cur = (int(state.get[0]), int(state.get[1]))
        if cand <= cur:
            return
    state.update(cand)
    yield pd.DataFrame(
        [
            {
                "l_orderkey": int(orderkey),
                "close_day": cand[0],
                "close_line": cand[1],
            }
        ]
    )


# ---------------------------------------------------------------------------
# streaming growth accounting: reclassifying week-class changelog (r12)
# ---------------------------------------------------------------------------

_GROWTH_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("epoch_week", LongType()),
        StructField("cls", StringType()),
        StructField("ver", LongType()),
    ]
)

_GROWTH_STATE_SCHEMA = StructType(
    [
        StructField("weeks", ArrayType(LongType())),
        StructField("ver", LongType()),
    ]
)


def _classify_weeks(ws: list) -> dict:
    """Batch classification of a user's sorted distinct weeks: first
    week NEW, predecessor-adjacent RETAINED, gap-crossing RESURRECTED
    — exactly the batch ``user_growth_accounting`` class rule."""
    out = {}
    for i, w in enumerate(ws):
        if i == 0:
            out[w] = "new"
        elif ws[i - 1] == w - 1:
            out[w] = "retained"
        else:
            out[w] = "resurrected"
    return out


def _growth_class_diff(key: tuple, pdfs, state: GroupState):
    """Per-user week-class CHANGELOG with reclassification: state holds
    the sorted distinct active weeks plus a version counter; a
    micro-batch that adds weeks re-derives every class from the merged
    set and emits one row per week whose class is NEW OR CHANGED,
    stamped with the bumped version.  Unlike the running-min/max twins
    (which only shrink/advance one scalar), a LATE week can rewrite
    neighbours — a gap fill flips the following week resurrected →
    retained, an earlier first week demotes the old 'new' — so the
    changelog's newest (max-ver) row per (user, week) always equals
    the batch classification of everything seen so far.  Replays add
    no weeks, so they emit nothing (set absorption)."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    batch_weeks = set(
        (rows["ts"].astype("int64") // 1000 // _US_PER_WEEK).tolist()
    )
    old = list(state.get[0]) if state.exists else []
    ver = int(state.get[1]) if state.exists else 0
    merged = sorted(set(old) | batch_weeks)
    if merged == old:
        return
    before = _classify_weeks(old)
    after = _classify_weeks(merged)
    ver += 1
    state.update((merged, ver))
    out = [
        {
            "user_id": int(user_id),
            "epoch_week": int(w),
            "cls": cls,
            "ver": ver,
        }
        for w, cls in sorted(after.items())
        if before.get(w) != cls
    ]
    yield pd.DataFrame(out)


# ---------------------------------------------------------------------------
# streaming cohort retention: reclassifying (cohort, offset) changelog (r14)
# ---------------------------------------------------------------------------

_COHORT_OUT_SCHEMA = StructType(
    [
        StructField("o_custkey", LongType()),
        StructField("month", LongType()),
        StructField("cohort_month", LongType()),
        StructField("month_offset", LongType()),
        StructField("ver", LongType()),
    ]
)

_COHORT_STATE_SCHEMA = StructType(
    [
        StructField("months", ArrayType(LongType())),
        StructField("ver", LongType()),
    ]
)


def _cohort_assign_diff(key: tuple, pdfs, state: GroupState):
    """Per-customer (cohort, offset) CHANGELOG with reclassification:
    state holds the sorted distinct order months (year·12 + month —
    the batch op's pure-integer key rule) plus a version counter; a
    micro-batch that adds months re-derives EVERY month's cell
    (m0, m − m0) from the merged set and emits one row per month whose
    cell is new or changed, stamped with the bumped version.  Where
    the growth-accounting reclass rewrites only neighbour weeks, a
    LATE month EARLIER than the known first lowers m0 and rewrites
    every month's cohort and offset at once — the heaviest reclass
    shape.  The newest (max-ver) row per (customer, month) always
    equals the batch ``customer_cohort_retention`` activity row
    (custkey, m0, off) for everything seen so far; replays add no
    months, so they emit nothing (set absorption)."""
    import pandas as pd

    (custkey,) = key
    rows = pd.concat(list(pdfs))
    # drop NULL order dates BEFORE the int64 cast: .astype("int64") on a
    # NaT raises, so one dirty row would kill the stream — the batch
    # twin's groupBy silently skips NULL months, and a dirty intake feed
    # must degrade to the same semantics (r14 ADVICE)
    od = pd.to_datetime(rows["o_orderdate"]).dropna()
    batch_months = set(
        (
            od.dt.year.astype("int64") * 12 + od.dt.month.astype("int64")
        ).tolist()
    )
    old = list(state.get[0]) if state.exists else []
    ver = int(state.get[1]) if state.exists else 0
    merged = sorted(set(old) | batch_months)
    if merged == old:
        return
    before = {m: (old[0], m - old[0]) for m in old}
    m0 = merged[0]
    after = {m: (m0, m - m0) for m in merged}
    ver += 1
    state.update((merged, ver))
    yield pd.DataFrame(
        [
            {
                "o_custkey": int(custkey),
                "month": int(m),
                "cohort_month": int(c),
                "month_offset": int(off),
                "ver": ver,
            }
            for m, (c, off) in sorted(after.items())
            if before.get(m) != (c, off)
        ]
    )


# ---------------------------------------------------------------------------
# streaming heavy hitters: Space-Saving word counters per shard (r12c)
# ---------------------------------------------------------------------------

SPACE_SAVING_CAPACITY = 64
TOPK_WORD_SHARDS = 32

_TOPK_WORDS_OUT_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("word", StringType()),
        StructField("est", LongType()),
        StructField("err", LongType()),
        StructField("ver", LongType()),
    ]
)

_TOPK_WORDS_STATE_SCHEMA = StructType(
    [
        StructField("words", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("errs", ArrayType(LongType())),
        StructField("ver", LongType()),
    ]
)


def _space_saving_counts(key: tuple, pdfs, state: GroupState):
    """Per-shard Space-Saving (Metwally et al.) heavy-hitter counters:
    state holds at most {SPACE_SAVING_CAPACITY} (word, est, err)
    counters; a new word beyond capacity EVICTS the minimum counter
    and inherits its estimate as the error bound.  The classic sketch
    guarantees hold under any arrival order: est ≥ true ≥ est − err
    for every tracked word, and Σ est equals the total words processed
    (mass is conserved through evictions) — all pinned by the
    hypothesis harness.  Admission within a micro-batch is
    word-sorted, so runs are deterministic for a fixed file split.
    Each batch emits the shard's FULL counter table stamped with a
    bumped version — newest (max-ver) rows per shard are the current
    sketch, a bounded C-row changelog regardless of stream length."""
    import pandas as pd

    (shard,) = key
    rows = pd.concat(list(pdfs))
    batch = rows["word"].value_counts().sort_index()
    if state.exists:
        words = list(state.get[0])
        counts = dict(zip(words, state.get[1]))
        errs = dict(zip(words, state.get[2]))
        ver = int(state.get[3])
    else:
        counts, errs, ver = {}, {}, 0
    for word, c in batch.items():
        c = int(c)
        if word in counts:
            counts[word] += c
        elif len(counts) < SPACE_SAVING_CAPACITY:
            counts[word] = c
            errs[word] = 0
        else:
            mw = min(counts, key=lambda w: (counts[w], w))
            mc = counts.pop(mw)
            errs.pop(mw)
            counts[word] = mc + c
            errs[word] = mc
    ver += 1
    ws = sorted(counts)
    state.update(
        (ws, [counts[w] for w in ws], [errs[w] for w in ws], ver)
    )
    yield pd.DataFrame(
        [
            {
                "shard": int(shard),
                "word": w,
                "est": int(counts[w]),
                "err": int(errs[w]),
                "ver": ver,
            }
            for w in ws
        ]
    )


def streaming_topk_words(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "documents.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming heavy-hitter word counts — the first SKETCH-state twin:
    exact per-word streaming counts need state linear in the live
    vocabulary, which at web scale is unbounded; Space-Saving caps the
    state at {TOPK_WORD_SHARDS}·{SPACE_SAVING_CAPACITY} counters total
    while keeping the deterministic overestimate guarantee
    (est ≥ true ≥ est − err), which is what a "top words right now"
    dashboard actually needs.  Words shard by a stable hash so the
    sketches build in parallel; the newest (max-ver) rows per shard
    merge driver-side into the global top-K.  When the true vocabulary
    fits the capacity no eviction ever fires and the sketch is EXACT —
    the fixture pin; the planted over-capacity corpus pins the error
    bound.  (Exactly-once across restarts comes from the checkpointed
    file source, as with the partial-sum twins — a sketch replay would
    double-count, same as any counter.)

    Scale: fixed C-counter state per shard — corpus-size-independent;
    one shard shuffle per micro-batch."""
    docs = read_table_stream(
        spark, sf_dir, "documents", glob, max_files_per_trigger
    )
    words = (
        docs.where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .select(
            (F.abs(F.hash("word")) % TOPK_WORD_SHARDS).alias("shard"),
            "word",
        )
    )
    return keyed_state(words, "streaming_topk_words")


streaming_topk_words.__doc__ = streaming_topk_words.__doc__.format(
    SPACE_SAVING_CAPACITY=SPACE_SAVING_CAPACITY,
    TOPK_WORD_SHARDS=TOPK_WORD_SHARDS,
)
_space_saving_counts.__doc__ = _space_saving_counts.__doc__.format(
    SPACE_SAVING_CAPACITY=SPACE_SAVING_CAPACITY
)


# ---------------------------------------------------------------------------
# streaming funnel attribution: per-user (first signup, first at-or-after
# purchase) reclassifying changelog (r15 — 30th twin)
# ---------------------------------------------------------------------------

# Mirror of operators.behavior.FUNNEL_FROM/FUNNEL_TO for both funnel
# twins (this kernel and the funnel-delays row) — duplicated as literals
# so the Arrow worker running a kernel never imports the operator
# registry; pinned equal to the batch constants by the twins'
# batch-equality tests (test_streaming.py).
_FUNNEL_ATTR_FROM = "signup"
_FUNNEL_ATTR_TO = "purchase"

_FUNNEL_ATTR_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("signup_us", LongType()),
        StructField("purchase_us", LongType()),  # NULL until one qualifies
        StructField("ver", LongType()),
    ]
)

_FUNNEL_ATTR_STATE_SCHEMA = StructType(
    [
        StructField("signup_us", LongType()),    # NULL until first signup
        StructField("purchase_us", LongType()),  # min purchase >= signup
        StructField("pre", ArrayType(LongType())),  # purchases < signup
        StructField("ver", LongType()),
    ]
)


def _funnel_attribution_diff(key: tuple, pdfs, state: GroupState):
    """Per-user funnel-attribution changelog with reclassification:
    state holds (s = running-MIN signup µs, a = MIN purchase µs ≥ s,
    pre = the purchases seen BEFORE s, version).  ``pre`` is the whole
    trick: a LATE signup EARLIER than the known first can make a
    previously-unqualified purchase the new first conversion, so those
    (and only those) purchases must be retained — a purchase ≥ the
    current answer can never win (the answer only decreases as s only
    decreases and candidates only accumulate), so it is discarded at
    arrival, keeping state bounded by the user's PRE-SIGNUP purchase
    count, not their event volume.  Emits one (user, s, a, ver) row
    whenever the visible pair changes; the newest (max-ver) row per
    user equals the batch ``funnel_window_sensitivity`` per-user frame
    (first signup, first at-or-after purchase) for everything seen so
    far, and the 1/7/30/90-day sweep is a stateless rollup of those
    newest rows.  A purchase exactly AT the signup instant qualifies
    (``>=``, matching the batch op).  Users with purchases but no
    signup yet update ``pre`` silently and emit nothing — the batch
    frame has no row for them either."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    ts_us = rows["ts"].astype("int64") // 1000
    new_signups = ts_us[rows["event_type"] == _FUNNEL_ATTR_FROM]
    new_purch = ts_us[rows["event_type"] == _FUNNEL_ATTR_TO]

    if state.exists:
        s, a, pre, ver = state.get
        s = None if s is None else int(s)
        a = None if a is None else int(a)
        pre = [int(x) for x in (pre or [])]
        ver = int(ver)
    else:
        s = a = None
        pre = []
        ver = 0
    s_old, a_old = s, a

    if len(new_signups):
        ns = int(new_signups.min())
        s = ns if s is None else min(s, ns)

    cand = []
    for p in (int(x) for x in new_purch.tolist()):
        if s is not None and p >= s:
            if a is None or p < a:
                cand.append(p)
            # p >= a: can never become the min-qualifying purchase
        else:
            pre.append(p)
    if s is not None and (s_old is None or s < s_old):
        cand.extend(p for p in pre if p >= s)
        pre = [p for p in pre if p < s]
    pool = ([a] if a is not None else []) + cand
    a = min(pool) if pool else None

    changed_state = (s, a) != (s_old, a_old) or len(new_purch)
    if not changed_state:
        return
    emit = s is not None and (s, a) != (s_old, a_old)
    if emit:
        ver += 1
    state.update((s, a, sorted(set(pre)), ver))
    if emit:
        yield pd.DataFrame(
            [
                {
                    "user_id": int(user_id),
                    "signup_us": int(s),
                    "purchase_us": None if a is None else int(a),
                    "ver": ver,
                }
            ]
        )


def streaming_funnel_attribution(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming funnel-attribution feed — the incremental twin of the
    batch ``funnel_window_sensitivity`` per-user core
    (operators/behavior.py): each signed-up user carries (first signup
    µs, first at-or-after purchase µs), maintained as a versioned
    changelog that RECLASSIFIES when late events land (the third
    reclassifying twin): a late earlier signup can both lower
    signup_us and swap in a previously-unqualified purchase.
    Downstream, the batch op's window sweep (n_signed_up, n_converted
    per 1/7/30/90 days) is a stateless BIGINT-µs rollup over the
    newest (max-ver) row per user — test-pinned, including an
    out-of-order split that fires the re-attribution, redelivery
    absorption, a checkpoint-restart re-attribution, and a hypothesis
    harness over permuted event batches.

    Scale: state per user is two scalars + the PRE-SIGNUP purchase
    list (post-signup purchases are folded or discarded at arrival —
    never stored), so state rides funnel entry order, not event
    volume; one user_id shuffle per micro-batch."""
    events = read_events_stream(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    return keyed_state(
        events.where(
            F.col("event_type").isin(_FUNNEL_ATTR_FROM, _FUNNEL_ATTR_TO)
        ),
        "streaming_funnel_attribution",
    )


# ---------------------------------------------------------------------------
# streaming daily uniques via HyperLogLog registers (r15 — 31st twin,
# second sketch-state kernel after Space-Saving)
# ---------------------------------------------------------------------------

HLL_P = 10                 # 2^10 = 1024 registers ≈ 3.25% standard error
HLL_M = 1 << HLL_P
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)  # Flajolet et al. 2007

_HLL_OUT_SCHEMA = StructType(
    [
        StructField("epoch_day", LongType()),
        StructField("est_distinct", LongType()),
        StructField("n_nonzero_registers", LongType()),
        StructField("ver", LongType()),
    ]
)

_HLL_STATE_SCHEMA = StructType(
    [
        StructField("registers", ArrayType(IntegerType())),
        StructField("ver", LongType()),
    ]
)


def _hll_hash64(value: int) -> int:
    """Deterministic 64-bit item hash: first 8 bytes of
    md5(str(value)) — stable across Python versions, processes and
    replays (the builtin hash() is salted per process and would break
    checkpoint-restart determinism)."""
    import hashlib

    return int.from_bytes(
        hashlib.md5(str(int(value)).encode()).digest()[:8], "big"
    )


def _hll_estimate(registers: list) -> tuple[int, int]:
    """(rounded estimate, nonzero-register count) from the register
    vector — raw HLL with the standard small-range linear-counting
    correction (E ≤ 2.5m with empty registers → m·ln(m/V))."""
    import math

    m = HLL_M
    s = sum(2.0 ** -r for r in registers)
    est = _HLL_ALPHA * m * m / s
    zeros = sum(1 for r in registers if r == 0)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return int(round(est)), m - zeros


def _hll_day_registers(key: tuple, pdfs, state: GroupState):
    """Per-day HyperLogLog register state: each micro-batch hashes its
    user ids, takes idx = top-p hash bits / rho = leading-zero rank of
    the rest, and MERGES into state by elementwise register max — the
    canonical mergeable distinct-count sketch (Flajolet et al. 2007;
    fixed 2^p-register state per day, corpus-size-independent, exactly
    the property an exact distinct-user set lacks at 100 TB).  Max-merge
    is associative, commutative and idempotent, so the final registers
    are IDENTICAL under any batch split, delivery order, or redelivery
    (the hypothesis-pinned invariant — where the partial-SUM twins need
    exactly-once delivery, this kernel is replay-proof by algebra).
    Emits (day, estimate, ver) only when a register grew."""
    import pandas as pd

    (epoch_day,) = key
    rows = pd.concat(list(pdfs))
    regs = (
        [int(r) for r in state.get[0]]
        if state.exists
        else [0] * HLL_M
    )
    ver = int(state.get[1]) if state.exists else 0
    changed = False
    width = 64 - HLL_P
    for uid in rows["user_id"].tolist():
        h = _hll_hash64(uid)
        idx = h >> width
        w = h & ((1 << width) - 1)
        # rho = leading zeros within the remaining bits + 1
        rho = width - w.bit_length() + 1
        if rho > regs[idx]:
            regs[idx] = rho
            changed = True
    if not changed:
        return
    ver += 1
    state.update((regs, ver))
    est, nonzero = _hll_estimate(regs)
    yield pd.DataFrame(
        [
            {
                "epoch_day": int(epoch_day),
                "est_distinct": est,
                "n_nonzero_registers": nonzero,
                "ver": ver,
            }
        ]
    )


def streaming_daily_uniques_hll(
    spark: SparkSession,
    sf_dir: str,
    glob: str = "events.parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming daily distinct-user estimates — the second
    SKETCH-state twin (after ``streaming_topk_words``) and the
    streaming answer to ``events_dau_wau``'s exact DAU at corpus
    scale: an exact per-day distinct needs state linear in the day's
    user set; HLL caps it at 2^{p} registers per day with a ~3.25%
    standard error, which is what a live uniques dashboard actually
    needs.  The newest (max-ver) row per day is the day's running
    estimate; unlike the partial-sum twins the register max-merge is
    IDEMPOTENT, so redelivery and arbitrary re-splits provably cannot
    move the final state (pinned by a hypothesis harness over permuted
    batch cuts asserting bit-identical registers, an accuracy pin
    against the exact batch DAU, and a checkpoint-restart pin).

    Scale: fixed 4 KiB-order state per day regardless of traffic; one
    epoch-day shuffle per micro-batch."""
    events = read_events_stream(
        spark, sf_dir, glob=glob, max_files_per_trigger=max_files_per_trigger
    )
    day = F.expr("unix_micros(ts) div 86400000000").cast("long")
    return keyed_state(
        events.select(day.alias("epoch_day"), "user_id", F.col("ts")),
        "streaming_daily_uniques_hll",
    )


streaming_daily_uniques_hll.__doc__ = streaming_daily_uniques_hll.__doc__.format(
    p=HLL_P
)


# ---------------------------------------------------------------------------
# Longest-streak changelog (streak-MERGING reclassifier)
# ---------------------------------------------------------------------------

_STREAK_OUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("max_streak", LongType()),
        StructField("n_weeks", LongType()),
        StructField("ver", LongType()),
    ]
)

_STREAK_STATE_SCHEMA = StructType(
    [
        StructField("weeks", ArrayType(LongType())),
        StructField("ver", LongType()),
    ]
)


def _longest_week_run(ws: list) -> int:
    """Longest run of consecutive ints in a SORTED distinct list —
    the pure form of the batch op's gaps-and-islands MAX(len)."""
    best = run = 1 if ws else 0
    for i in range(1, len(ws)):
        run = run + 1 if ws[i] == ws[i - 1] + 1 else 1
        if run > best:
            best = run
    return best


def _streak_diff(key: tuple, pdfs, state: GroupState):
    """Per-user longest-streak CHANGELOG: state is the sorted distinct
    active weeks plus a version counter; the emitted ``max_streak``
    tracks the batch ``user_active_streaks`` value for everything seen
    so far.  The distinguishing transition is SUPERADDITIVE: a late
    week that fills a gap MERGES the islands on both sides, so one new
    week can raise the streak by more than one (weeks {w, w+2} then a
    late w+1 jump 1 → 3) — a state change no running-min/max or
    partial-sum twin can express.  Week-set union is idempotent, so
    redelivery changes nothing and emits nothing; any batch that adds
    a week emits one row (both published columns — the streak and the
    distinct-week count — are then always current in the newest
    emission)."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdfs))
    batch_weeks = set(
        (rows["ts"].astype("int64") // 1000 // _US_PER_WEEK).tolist()
    )
    old = list(state.get[0]) if state.exists else []
    ver = int(state.get[1]) if state.exists else 0
    merged = sorted(set(old) | batch_weeks)
    if merged == old:
        return
    ver += 1
    state.update((merged, ver))
    streak = _longest_week_run(merged)
    yield pd.DataFrame(
        [
            {
                "user_id": int(user_id),
                "max_streak": int(streak),
                "n_weeks": int(len(merged)),
                "ver": ver,
            }
        ]
    )


# ---------------------------------------------------------------------------
# Exact streaming percentiles over a calendar-bounded multiset
# ---------------------------------------------------------------------------

_US_PER_HOUR = 3_600_000_000

_HOURLY_PCTL_OUT_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_hours", LongType()),
        StructField("max_load", LongType()),
        StructField("p50_load", DoubleType()),
        StructField("p90_load", DoubleType()),
        StructField("p99_load", DoubleType()),
        StructField("ver", LongType()),
    ]
)

_HOURLY_PCTL_STATE_SCHEMA = StructType(
    [
        StructField("hours", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("ver", LongType()),
    ]
)


def _interp_percentile(sorted_vals: list, q: float) -> float:
    """Spark ``F.percentile``'s exact interpolation, in its exact IEEE
    evaluation order: pos = q·(n−1), then the TWO-SIDED weighted form
    v_lo·(hi − pos) + v_hi·(pos − lo) — NOT lo + (hi − lo)·frac, which
    differs in the last ulp on ~1-in-10 real groups (found by the
    ship-latency join's bit-identical pin).  Emitted doubles are
    bit-identical to the batch ops' percentile columns."""
    n = len(sorted_vals)
    pos = q * (n - 1)
    lo_idx = int(pos)
    lo = float(sorted_vals[lo_idx])
    if pos == lo_idx:
        return lo
    hi = float(sorted_vals[lo_idx + 1])
    return lo * (lo_idx + 1 - pos) + hi * (pos - lo_idx)


def _hourly_load_pctl(key: tuple, pdfs, state: GroupState):
    """Per-type EXACT load-percentile changelog: state is the
    (hour → count) ledger — the percentile's entire input multiset —
    which is CALENDAR-bounded (one cell per active hour, regardless of
    traffic), so the exact percentiles the batch op computes are
    streamable with fixed-envelope state.  This is the precise
    criterion behind the pair-latency precedent: percentile columns
    stay batch-only only when the value multiset grows with the DATA
    (per-event gaps); when it grows with the CALENDAR (hourly counts),
    the exact multiset rides along and every emission recomputes the
    true percentiles.  Counts are deltas (not idempotent), so replay
    protection is the checkpoint's committed-file skip — the
    transition-counter precedent, pinned by the restart test."""
    import pandas as pd

    (event_type,) = key
    rows = pd.concat(list(pdfs))
    delta = (
        (rows["ts"].astype("int64") // 1000 // _US_PER_HOUR)
        .value_counts()
        .to_dict()
    )
    if state.exists:
        hours, counts, ver = state.get
        ledger = dict(zip(list(hours), list(counts)))
    else:
        ledger, ver = {}, 0
    for h, c in delta.items():
        ledger[int(h)] = ledger.get(int(h), 0) + int(c)
    ver += 1
    hs = sorted(ledger)
    state.update((hs, [ledger[h] for h in hs], ver))
    ys = sorted(ledger.values())
    yield pd.DataFrame(
        [
            {
                "event_type": str(event_type),
                "n_hours": len(ys),
                "max_load": int(ys[-1]),
                "p50_load": _interp_percentile(ys, 0.5),
                "p90_load": _interp_percentile(ys, 0.9),
                "p99_load": _interp_percentile(ys, 0.99),
                "ver": ver,
            }
        ]
    )


# ---------------------------------------------------------------------------
# streaming table digest: incremental migration validation (r16 — 36th twin)
# ---------------------------------------------------------------------------

# Shard fan-out for the digest partials.  XOR and the mod-p sum are
# commutative/associative, so per-shard partials merge exactly (xor of
# xors, sum of sums mod p, Σn) — the newest row per shard regroups into
# the batch ``table_row_digest`` row.  Sharding keeps the per-batch
# shuffle parallel instead of funneling every row's hash through one
# task.
TABLE_DIGEST_SHARDS = 32

_TABLE_DIGEST_OUT_SCHEMA = StructType(
    [
        StructField("table_name", StringType()),
        StructField("shard", IntegerType()),
        StructField("n_rows", LongType()),
        StructField("digest", LongType()),
        StructField("digest_sum", LongType()),
        StructField("ver", LongType()),
    ]
)

_TABLE_DIGEST_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("x", LongType()),
        StructField("s", LongType()),
        StructField("ver", LongType()),
    ]
)

# Mirror of operators.audit.DIGEST_SUM_MOD — duplicated as a literal so
# the Arrow worker never imports the operator registry; pinned equal by
# the twin test.
_DIGEST_SUM_MOD = 2_305_843_009_213_693_951  # 2^61 - 1


def _table_digest_partials(key: tuple, pdfs, state: GroupState):
    """Per-(table, shard) digest partial: state is the running
    (row count, XOR of row hashes, Σ row hashes mod 2^61-1, version) —
    O(1) per shard regardless of row volume, the smallest state of any
    twin.  Each micro-batch folds its rows in and emits the updated
    partial.  The merge is commutative/associative but NOT idempotent
    (unlike the HLL registers or week-set unions, a replayed row
    double-counts all three fields) — replay protection is exactly the
    checkpointed file source's committed-file skip, the same contract
    as the partial-sum twins; pinned by the restart test."""
    import pandas as pd

    table, shard = key
    rows = pd.concat(list(pdfs))
    hs = rows["h"].astype("int64")
    n_new = int(len(hs))
    if n_new == 0:
        return
    x_new = 0
    s_new = 0
    for v in hs.tolist():  # h < 2^60: Python ints, no overflow anywhere
        x_new ^= v
        s_new += v
    if state.exists:
        n, x, s, ver = (int(v) for v in state.get)
    else:
        n = x = s = ver = 0
    n += n_new
    x ^= x_new
    s = (s + s_new) % _DIGEST_SUM_MOD
    ver += 1
    state.update((n, x, s, ver))
    yield pd.DataFrame(
        [
            {
                "table_name": str(table),
                "shard": int(shard),
                "n_rows": n,
                "digest": x,
                "digest_sum": s,
                "ver": ver,
            }
        ]
    )


def streaming_table_digest(
    spark: SparkSession,
    sf_dir: str,
    table: str = "documents",
    glob: str | None = None,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``table_row_digest`` — CONTINUOUS migration
    validation: as files of a table land (the reference's whole job is
    moving them), the running (n_rows, digest, digest_sum) fingerprint
    stays current, so a destination can be validated against the source
    at any point without rescanning history — the ``validate`` CLI
    verb's check, made incremental.

    The per-row hash is the operators' own ``row_hash_expr`` (imported,
    not duplicated — the canonical-string spelling CANNOT drift between
    the surfaces), computed stateless on the stream; rows then shard by
    pmod(h, {TABLE_DIGEST_SHARDS}) and each shard folds its partial
    (count, XOR, Σ mod 2^61-1) in O(1) state.  Newest (max-ver) rows
    per shard merge into the batch digest row exactly: Σn, XOR of
    digests, sum of digest_sums mod p (commutative + associative at
    every level).  NOT redelivery-idempotent by construction — a
    replayed file double-counts — so exactly-once rides the
    checkpointed file source's committed-file skip (restart pin).

    Timestamps are normalized by the batch catalog's own rule before
    hashing (``read_table_stream``: int64 nanos → µs, ntz → TIMESTAMP,
    value-exact under the UTC session tz), so any catalog table of any
    fixture vintage streams; the default feed is documents (the
    corpus-ingest surface).

    Scale: stateless hash + one {TABLE_DIGEST_SHARDS}-key shuffle per
    micro-batch carrying only (shard, h) — 12 bytes/row; state is 4
    BIGINTs per shard."""
    from googlecloudstorage_blueprints_spark.operators.audit import (
        TABLE_DIGEST_SPEC,
    )
    from googlecloudstorage_blueprints_spark.operators.audit import (
        row_hash_expr,
    )

    if table not in TABLE_DIGEST_SPEC:
        raise ValueError(
            f"unknown table {table!r} (catalog: {sorted(TABLE_DIGEST_SPEC)})"
        )
    stream = read_table_stream(
        spark, sf_dir, table, glob, max_files_per_trigger
    )
    _s, h = row_hash_expr(table)
    hashed = (
        stream.select(h.alias("h"))
        .select(
            F.lit(table).alias("table_name"),
            F.pmod(F.col("h"), F.lit(TABLE_DIGEST_SHARDS))
            .cast("int")
            .alias("shard"),
            "h",
        )
    )
    return keyed_state(hashed, "streaming_table_digest")


streaming_table_digest.__doc__ = streaming_table_digest.__doc__.format(
    TABLE_DIGEST_SHARDS=TABLE_DIGEST_SHARDS
)


def merge_digest_rows(rows) -> tuple[int, int, int]:
    """Merge a drained ``streaming_table_digest`` changelog into the
    batch digest triple (n_rows, digest, digest_sum): newest (max-ver)
    partial per shard, then Σn / XOR of digests / sum of digest_sums
    mod p — commutative and associative at every level, so the result
    equals ``digest_frame``'s row over the same delivered rows (the
    pinned batch-merge equality).  Rows are dict-like with shard /
    ver / n_rows / digest / digest_sum fields; the input is
    shard-bounded (≤{TABLE_DIGEST_SHARDS} newest rows matter)."""
    newest: dict = {}
    for r in rows:
        k = r["shard"]
        if k not in newest or r["ver"] > newest[k]["ver"]:
            newest[k] = r
    n = x = s = 0
    for r in newest.values():
        n += int(r["n_rows"])
        x ^= int(r["digest"])
        s = (s + int(r["digest_sum"])) % _DIGEST_SUM_MOD
    return n, x, s


merge_digest_rows.__doc__ = merge_digest_rows.__doc__.format(
    TABLE_DIGEST_SHARDS=TABLE_DIGEST_SHARDS
)


STATEFUL_TWINS: dict[str, TwinSpec] = {
    "streaming_stateful_sessions": TwinSpec(
        "events", None, "ts", ("user_id",), _sessionize, _OUTPUT_SCHEMA,
        _STATE_SCHEMA, _EVENT_TIME,
        """Explicit keyed-state sessionization via ``applyInPandasWithState`` —
        the custom-operator path when ``session_window`` semantics don't fit.
        One shuffle on user_id; state store holds one tuple per live user.""",
    ),
    "streaming_lsh_candidates": TwinSpec(
        "documents", None, None, ("band_id", "band_hash"), _band_bucket_pairs,
        _LSH_OUT_SCHEMA, _LSH_STATE_SCHEMA, _NO_TIMEOUT,
    ),
    "streaming_sequence_pack": TwinSpec(
        "documents", None, None, ("source",), _pack_bins, _PACK_OUT_SCHEMA,
        _PACK_STATE_SCHEMA, _NO_TIMEOUT,
    ),
    "streaming_gapfill": TwinSpec(
        "events", ("user_id", "ts", "value"), "ts", ("user_id",),
        _make_gapfill(GAPFILL_EVICT_HORIZON_US), _GAPFILL_OUT_SCHEMA,
        _GAPFILL_STATE_SCHEMA, _EVENT_TIME,
    ),
    "streaming_latest_snapshot": TwinSpec(
        "events", ("user_id", "event_id", "ts", "event_type", "value"), "ts",
        ("user_id",), _latest_per_key, _SNAPSHOT_OUT_SCHEMA,
        _SNAPSHOT_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming CDC compaction — the incremental twin of the batch
        ``latest_snapshot`` operator (operators/warehouse.py): keyed state
        keeps each key's newest (ts_us, event_id) record and emits an update
        row only when the snapshot advances.

        One shuffle on user_id per micro-batch; state is ONE fixed-width
        tuple per key — deliberately NO timeout, because a snapshot's state
        is its value (dropping an idle key would forget its latest record;
        memory is O(|live keys|), the same bound the downstream compacted
        table has).  Losing races to (ts_us, event_id) makes redelivery and
        out-of-order arrival no-ops, so the changelog is replay-idempotent;
        its newest row per key equals the batch operator over any in-order
        replay (test-pinned in tests/test_streaming.py).""",
    ),
    "streaming_transition_matrix": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",), _transition_counts,
        _TRANSITION_OUT_SCHEMA, _TRANSITION_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming first-order Markov transition counts — the incremental
        twin of the batch ``events_transition_matrix`` (operators/events.py):
        keyed state holds one (ts_us, event_id, type) tuple per user to
        bridge micro-batch boundaries; emissions are per-batch partial
        (src, dst, n) counts that sum to the batch lead-window counts over
        any in-order replay (test-pinned, including a multi-batch split).

        State is O(|live users|) fixed-width tuples; each micro-batch
        shuffles once on user_id and emits at most |types|² rows per user —
        the unbounded stream never accumulates more than the last event per
        key.""",
    ),
    "streaming_cooccurrence": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",), _cooccurrence_pairs,
        _COOC_OUT_SCHEMA, _COOC_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming event-type co-occurrence — the incremental twin of the
        batch ``events_cooccurrence`` counts (operators/events.py): keyed
        state holds each user's seen-type set (≤|types| strings, an
        enum-bounded NOT history-bounded state), and a first sighting of a
        type emits one increment per previously-seen type.  Summed emissions
        equal the batch distinct-(user, pair) counts over any replay —
        including redelivery, since repeats are absorbed by the set
        (test-pinned).  One shuffle on user_id per micro-batch; emission
        volume is bounded by |types|² per user EVER, not per batch.""",
    ),
    "streaming_scd2_intervals": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",), _scd2_intervals,
        _SCD2_OUT_SCHEMA, _SCD2_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming SCD type-2 maintenance — the incremental twin of the
        batch ``scd2_intervals`` operator (operators/warehouse.py): the
        classic warehouse job of applying a CDC feed to a dimension-history
        table without rebuilding it.

        Keyed state is ONE open interval per key (fixed width — never the
        key's history), so memory is O(|live keys|), the same bound the
        dimension table itself has; one shuffle on user_id per micro-batch.
        Closed intervals are emitted exactly once and are final — exactly
        the append stream an SCD2 table sink wants; the open interval is
        re-emitted with NULL valid_to_us and superseded by its closed form
        at the next change (newest-emission-per-(key, valid_from) is the
        current table, mirroring ``streaming_latest_snapshot``'s changelog
        contract).  (ts_us, event_id)-race absorption makes full-backlog
        redelivery a no-op (test-pinned in tests/test_streaming.py).""",
    ),
    "streaming_dau_wau": TwinSpec(
        "events", ("user_id", "ts"), "ts", ("user_id",), _activity_days,
        _ACTIVITY_OUT_SCHEMA, _ACTIVITY_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming activity-distinct feed — the incremental twin of the
        batch ``events_dau_wau`` operator's core (operators/events.py): that
        op's entire decomposition rides on the distinct (user, active-day)
        frame; this maintains that frame incrementally, emitting each (user,
        day) exactly once.  Downstream DAU is a per-day count of emissions
        and WAU a count over each day's trailing 7 — plain stateless
        aggregations of this append stream (the same constant 7× explode,
        applied to a stream that only ever grows by first sightings).

        Keyed state is the user's seen-day set — bounded by |days in
        retention|, NOT event volume (a user's thousandth event on a day
        adds nothing); one shuffle on user_id per micro-batch.  Set
        absorption makes full-backlog redelivery a no-op (test-pinned in
        tests/test_streaming.py).""",
    ),
    "streaming_session_path_trigrams": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",), _path_trigram_counts,
        _PATH_OUT_SCHEMA, _PATH_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming within-session path trigrams — the incremental twin of
        the batch ``session_path_trigrams`` top-k's count core
        (operators/behavior.py:session_trigram_counts): keyed state is the
        current session's trailing TWO events per user (fixed width — never
        the whole path), bridging both micro-batch boundaries and session
        boundaries; emissions are per-batch partial (trigram, n) counts
        that sum to the batch counts over any in-order replay, including a
        time-ordered multi-batch split (test-pinned).

        State is O(|live users|) six-field tuples; each micro-batch
        shuffles once on user_id.  The batch op needs the whole session
        collected to zip — the stream never holds more than two events per
        key, which is the property that matters on an unbounded stream.""",
    ),
    "streaming_funnel_delays": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",),
        _make_funnel_delays(_FUNNEL_ATTR_FROM, _FUNNEL_ATTR_TO),
        _FUNNEL_OUT_SCHEMA, _FUNNEL_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming conversion-delay feed — the incremental twin of the
        batch ``events_funnel_conversion_time`` core (operators/behavior.py):
        that op reduces per-user first-entry/first-conversion timestamps to
        one percentile row; this emits each converted user's delay exactly
        once, and the batch op's delay SET equals the emission set over any
        replay — including full-backlog redelivery, which the converted
        latch absorbs (test-pinned).  Downstream percentiles are a plain
        stateless aggregation of this append stream.

        Keyed state is two fixed-width fields per user; one user_id shuffle
        per micro-batch.""",
    ),
    "streaming_first_ship_sla": TwinSpec(
        "lineitem", ("l_orderkey", "l_linenumber", "l_shipdate"), "l_shipdate",
        ("l_orderkey",), _first_ship_per_order, _FIRSTSHIP_OUT_SCHEMA,
        _FIRSTSHIP_STATE_SCHEMA, _NO_TIMEOUT,
    ),
    "streaming_session_entries": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",), _sessionize_entries,
        _ENTRY_OUT_SCHEMA, _ENTRY_STATE_SCHEMA, _EVENT_TIME,
        """Streaming session-entry feed — the incremental twin of the
        ``session_bounce_rate`` core: closed sessions arrive as
        (entry_type, bounds, n_events) rows, so per-entry-type bounce
        rates downstream are one stateless aggregate of this append stream
        (bounce = n_events == 1).  Same gap rule, timeout closure, and
        (ts, event_id) entry race as the batch windows — pinned batch-equal
        over replay in tests.""",
    ),
    "streaming_session_depth": TwinSpec(
        "events", ("user_id", "ts", "event_type"), "ts", ("user_id",),
        _sessionize_depth, _DEPTH_OUT_SCHEMA, _DEPTH_STATE_SCHEMA, _EVENT_TIME,
        """Streaming session-depth feed — the incremental twin of the
        ``session_depth_conversion`` core: closed sessions arrive as
        (bounds, n_events, converted) rows, so depth-bucket conversion
        rates downstream are one stateless aggregate of this append
        stream.  Same gap rule and timeout closure as the batch windows —
        pinned batch-equal over replay in tests.""",
    ),
    "streaming_first_touch": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",), _first_touch_per_user,
        _FIRSTTOUCH_OUT_SCHEMA, _FIRSTTOUCH_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming first-touch feed — the incremental twin of the batch
        ``user_first_touch_attribution`` first-pick core
        (operators/behavior.py): each user's acquisition event arrives as a
        running-min changelog row, so the per-channel attribution rollup
        downstream is one stateless aggregate over the newest emission per
        user (which matches the batch rank-window pick exactly —
        test-pinned, including under full-backlog redelivery).

        Scale: state is one fixed-width triple per user, no timeout (a
        user's first touch must survive idle periods — memory is O(|users|),
        the bound the downstream attribution table has anyway); one user_id
        shuffle per micro-batch.""",
    ),
    "streaming_pair_latency": TwinSpec(
        "events", _TYPED_EVENTS, "ts", ("user_id",), _pair_latency_sums,
        _PAIR_LATENCY_OUT_SCHEMA, _PAIR_LATENCY_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming type→type hand-off latency — the incremental twin of
        the batch ``event_pair_latency`` count/total core
        (operators/behavior.py): per-batch partial (n_pairs, total_gap_us)
        rows per (prev, next) type pair; summing partials over any in-order
        replay reproduces the batch lag window's exact BIGINT counts and
        gap totals (test-pinned, including a time-ordered multi-batch
        split).  The batch op's percentile columns are deliberately NOT
        streamed — interpolated quantiles aren't mergeable partials; at
        100 TB the streaming side feeds a t-digest/approx sketch instead.

        Scale: state is one fixed-width (ts_us, event_id, type) tuple per
        user, no timeout; each micro-batch shuffles once on user_id and
        emits at most |types|² rows per user.""",
    ),
    "streaming_intersession_gaps": TwinSpec(
        "events", ("user_id", "event_id", "ts"), "ts", ("user_id",),
        _intersession_gap_sums, _INTERSESSION_OUT_SCHEMA,
        _INTERSESSION_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming return-latency — the incremental twin of the batch
        ``user_intersession_gap_stats`` count/total core
        (operators/behavior.py): per-batch partial (n_gaps, total_gap_us)
        rows per user; summing partials over any in-order replay
        reproduces the batch op's exact BIGINT gap count and total (users
        with no completed gap never emit, so the users-that-emitted set IS
        n_users_multi).  The batch op's p50/p90 columns are deliberately
        NOT streamed — interpolated quantiles aren't mergeable partials
        (the pair-latency precedent); at 100 TB the streaming side feeds a
        t-digest/approx sketch instead.

        Scale: state is one fixed-width (ts_us, event_id) tuple per user,
        no timeout; each micro-batch shuffles once on user_id and emits at
        most one partial row per user.""",
    ),
    "streaming_session_starts": TwinSpec(
        "events", ("user_id", "event_id", "ts"), "ts", ("user_id",),
        _session_start_marks, _SESSION_STARTS_OUT_SCHEMA,
        _INTERSESSION_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming session-count changelog — the incremental twin of
        ``user_session_count_histogram``'s per-user session counts
        (operators/behavior.py): one append-only mark per session the gap
        rule opens; COUNT(marks) per user over any in-order replay equals
        the batch 1 + Σ is_new, and the histogram is a downstream regroup
        of those counts (batch-equality pinned).  Unlike the partial-sum
        twins each mark is emitted exactly once, so the changelog is also
        a session-start event stream (rate rollups, alerting) for free.

        Scale: state is one fixed-width (ts_us, event_id) tuple per user,
        no timeout; at most one shuffle per micro-batch on user_id.""",
    ),
    "streaming_weekly_conversion": TwinSpec(
        "events", ("user_id", "ts", "event_type"), "ts", ("user_id",),
        _weekly_conversion_marks, _WEEKLY_CONV_OUT_SCHEMA,
        _WEEKLY_CONV_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming conditional-distinct feed — the incremental twin of
        the batch ``weekly_conversion_trend`` distinct core
        (operators/behavior.py): n_active and n_buyers are per-week
        COUNT(DISTINCT user) and COUNT(DISTINCT user WHERE purchased),
        and this maintains both incrementally, emitting each (user, week)
        at most once per kind ('active' on first sighting, 'buyer' on
        first purchase sighting) — the ``streaming_dau_wau`` seen-set
        pattern extended to a CONDITIONAL distinct.  Downstream, the batch
        table's distinct columns are a stateless per-week count of each
        kind and conversion_share their ratio (test-pinned, including
        under full-backlog redelivery — set absorption makes replay a
        no-op).  The batch op's n_purchases/purchase_value columns are
        plain sums any stateless streaming aggregate carries; the stateful
        part worth a kernel is the distinct pair.

        Scale: state is two week-sets per user — bounded by |weeks in
        retention|, never event volume; one user_id shuffle per
        micro-batch.""",
    ),
    "streaming_order_close": TwinSpec(
        "lineitem", ("l_orderkey", "l_linenumber", "l_shipdate"), None,
        ("l_orderkey",), _order_close_per_order, _ORDERCLOSE_OUT_SCHEMA,
        _ORDERCLOSE_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming order-close feed — the incremental twin of the batch
        ``orders_inflight_monthly`` span core (operators/warehouse.py):
        that op's sweep-line ledger needs each order's LAST ship day (the
        orderkey-keyed MAX); this maintains it as a running-max changelog,
        so the downstream in-flight ledger is a stateless ±1 delta
        aggregate over the newest emission per order plus the orders-side
        start days.  Newest-emission-per-order equals the batch MAX
        exactly (test-pinned, including under full-backlog redelivery —
        non-advancing rows lose the max race and emit nothing).

        Scale: state is one fixed-width (day, line) pair per live order —
        the bound the in-flight working set has anyway; one orderkey
        shuffle per micro-batch.""",
    ),
    "streaming_growth_accounting": TwinSpec(
        "events", ("user_id", "ts"), "ts", ("user_id",), _growth_class_diff,
        _GROWTH_OUT_SCHEMA, _GROWTH_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming growth-accounting feed — the incremental twin of the
        batch ``user_growth_accounting`` classifier
        (operators/behavior.py): each (user, active-week) carries a
        NEW / RETAINED / RESURRECTED class, and this maintains the
        classification as a versioned changelog that RECLASSIFIES when
        late or out-of-order weeks land (the first twin whose state
        transition rewrites neighbours rather than racing one scalar).
        Downstream, the batch op's n_new/n_retained/n_resurrected columns
        are a stateless per-week count over the newest (max-ver) row per
        (user, week) — test-pinned, including under an out-of-order
        two-file split and full-backlog redelivery.  Churn attribution is
        deliberately NOT streamed: "went silent in week w" is decidable
        only at week close, i.e. by the same watermark-delayed rollup any
        batch pass does.

        Scale: state is one calendar-bounded week array + version per
        user; one user_id shuffle per micro-batch.""",
    ),
    "streaming_cohort_retention": TwinSpec(
        "orders", ("o_custkey", "o_orderdate"), "o_orderdate", ("o_custkey",),
        _cohort_assign_diff, _COHORT_OUT_SCHEMA, _COHORT_STATE_SCHEMA,
        _NO_TIMEOUT,
        """Streaming cohort-assignment feed — the incremental twin of the
        batch ``customer_cohort_retention`` triangle
        (operators/relational_tpch2.py): each (customer, active-month)
        carries its (cohort_month, month_offset) cell, maintained as a
        versioned changelog that RECLASSIFIES when late orders land (the
        second reclassifying twin after ``streaming_growth_accounting`` —
        and the stronger case: an earlier first order rewrites EVERY cell
        of the customer, not just neighbours).  Downstream, the batch
        op's n_active/cohort_size/retention_share columns are a stateless
        count over the newest (max-ver) row per (customer, month) —
        test-pinned, including under an out-of-order two-file split and
        full-backlog redelivery.

        Scale: state is one calendar-bounded month array + version per
        customer; one o_custkey shuffle per micro-batch.""",
    ),
    "streaming_topk_words": TwinSpec(
        "documents", None, None, ("shard",), _space_saving_counts,
        _TOPK_WORDS_OUT_SCHEMA, _TOPK_WORDS_STATE_SCHEMA, _NO_TIMEOUT,
    ),
    "streaming_funnel_attribution": TwinSpec(
        "events", ("user_id", "ts", "event_type"), "ts", ("user_id",),
        _funnel_attribution_diff, _FUNNEL_ATTR_OUT_SCHEMA,
        _FUNNEL_ATTR_STATE_SCHEMA, _NO_TIMEOUT,
    ),
    "streaming_daily_uniques_hll": TwinSpec(
        "events", None, "ts", ("epoch_day",), _hll_day_registers,
        _HLL_OUT_SCHEMA, _HLL_STATE_SCHEMA, _NO_TIMEOUT,
    ),
    "streaming_active_streaks": TwinSpec(
        "events", ("user_id", "ts"), "ts", ("user_id",), _streak_diff,
        _STREAK_OUT_SCHEMA, _STREAK_STATE_SCHEMA, _NO_TIMEOUT,
        """Streaming longest-activity-streak feed — the incremental twin of
        batch ``user_active_streaks`` (operators/behavior.py): each user
        carries the length of their longest consecutive-week run, and this
        maintains it as a versioned changelog whose newest (max-ver) row
        per user always equals the batch value over everything delivered.
        The batch op's histogram (streak_weeks, n_users, user_share) is a
        stateless regroup of those newest rows — test-pinned, including
        under a planted out-of-order delivery that exercises the
        streak-MERGE path (late gap week joins two islands; the streak
        jumps superadditively) and full-backlog redelivery (week-set
        absorption emits nothing).

        Scale: state is one calendar-bounded week array + version per
        user; one user_id shuffle per micro-batch — same envelope as
        ``streaming_growth_accounting``, which shares the week-set state
        but classifies per-week rather than reducing to one scalar.""",
    ),
    "streaming_hourly_load_percentiles": TwinSpec(
        "events", ("event_type", "ts"), "ts", ("event_type",),
        _hourly_load_pctl, _HOURLY_PCTL_OUT_SCHEMA, _HOURLY_PCTL_STATE_SCHEMA,
        _NO_TIMEOUT,
        """Streaming EXACT hourly-load percentiles — the incremental twin
        of batch ``events_hourly_load_percentiles`` (operators/behavior.py)
        and the first twin to emit percentile columns: the newest (max-ver)
        row per event type carries bit-identical n_hours / max_load /
        p50/p90/p99 to the batch op over everything delivered (the
        interpolation is the exact formula both engines use, pinned by
        tests/test_quantile_interp_parity.py).  The pair-latency and
        intersession twins deliberately left their percentile columns
        batch-only because their input multisets are DATA-sized (one gap
        per event); here the multiset is the (hour → count) ledger —
        CALENDAR-bounded — so the whole thing rides in state and the
        percentiles stream exactly, no sketch needed (the batch registry's
        ``events_hourly_load_percentiles_approx`` remains the unbounded-
        horizon fallback).

        Scale: state is one cell per (type, active hour) — ~9k cells per
        type-year at any traffic volume; one event_type shuffle per
        micro-batch.""",
    ),
    "streaming_table_digest": TwinSpec(
        "documents", None, None, ("table_name", "shard"),
        _table_digest_partials, _TABLE_DIGEST_OUT_SCHEMA,
        _TABLE_DIGEST_STATE_SCHEMA, _NO_TIMEOUT,
    ),
}


def _table_twin(name: str, spec: TwinSpec) -> Callable:
    """The public twin for a row without a ``def`` of its own."""

    def twin(
        spark: SparkSession,
        sf_dir: str,
        glob: str = f"{spec.table}.parquet",
        max_files_per_trigger: int | None = None,
    ) -> DataFrame:
        return keyed_state(
            read_table_stream(
                spark, sf_dir, spec.table, glob, max_files_per_trigger
            ),
            name,
        )

    twin.__name__ = twin.__qualname__ = name
    # the row's literal sits one indent deeper than a def's docstring
    twin.__doc__ = spec.doc.replace("\n    ", "\n")
    return twin


globals().update(
    (name, _table_twin(name, spec))
    for name, spec in STATEFUL_TWINS.items()
    if spec.doc is not None
)
