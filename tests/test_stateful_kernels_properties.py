"""Property tests for the r8 stateful streaming kernels.

The end-to-end stream tests pin the kernels against their batch ops on
the fixture; these hammer the BATCH-BOUNDARY logic — the part fixture
replays barely exercise — with hypothesis-generated event sequences cut
at arbitrary in-order points, against pure-Python references:

- ``_path_trigram_counts``: summed emissions over any in-order batch
  split must equal the whole-sequence sessionized trigram counts
  (two-event tail state must bridge every cut, including cuts inside a
  session and at exact-gap boundaries).
- ``_make_funnel_delays``: the emission set must equal the
  first-entry/first-conversion delays, AND a full re-delivery of every
  batch must add zero emissions (the converted latch).
"""

from __future__ import annotations

import pytest

# r19: excluded from the default driver-verify lane (pytest.ini) — this
# module is builder-close-out gated via `-m ""`; see pytest.ini.
pytestmark = pytest.mark.slow

import collections

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from googlecloudstorage_blueprints_spark.streaming.stateful import (
    SESSION_GAP_US,
    _make_funnel_delays,
    _path_trigram_counts,
)

TYPES = ["signup", "view", "purchase"]


class FakeGroupState:
    """Minimal stand-in for pyspark's GroupState (exists/get/update)."""

    def __init__(self):
        self._t = None

    @property
    def exists(self):
        return self._t is not None

    @property
    def get(self):
        return self._t

    def update(self, t):
        self._t = tuple(t)


def _rows_df(events):
    """events: list of (ts_us, event_id, event_type) -> kernel input."""
    return pd.DataFrame(
        {
            "user_id": 1,
            "event_id": [e[1] for e in events],
            # kernel reads ts as ns-epoch via .astype("int64") // 1000
            "ts": pd.to_datetime([e[0] * 1000 for e in events]),
            "event_type": [e[2] for e in events],
        }
    )


# gaps chosen to straddle the session boundary: tied timestamps, tiny
# gaps, exactly-the-gap (same session: rule is STRICTLY greater), and
# gap+1 (new session)
_GAPS = [0, 1, 1_000_000, SESSION_GAP_US, SESSION_GAP_US + 1]


@st.composite
def event_sequences(draw):
    n = draw(st.integers(min_value=1, max_value=14))
    gaps = draw(
        st.lists(st.sampled_from(_GAPS), min_size=n - 1, max_size=n - 1)
    )
    types = draw(
        st.lists(st.sampled_from(TYPES), min_size=n, max_size=n)
    )
    ts, out = 10_000_000, []
    for i in range(n):
        if i:
            ts += gaps[i - 1]
        out.append((ts, i + 1, types[i]))
    return out


@st.composite
def sequences_with_splits(draw):
    events = draw(event_sequences())
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(events) - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(events)]:
        if c > prev:
            batches.append(events[prev:c])
            prev = c
    return events, batches


def _ref_trigrams(events):
    """Whole-sequence reference: sessionize by the >gap rule over the
    (ts, event_id) order, count in-session type triples."""
    ordered = sorted(events)
    counts: collections.Counter = collections.Counter()
    session: list[tuple] = []
    for ev in ordered:
        if session and ev[0] - session[-1][0] > SESSION_GAP_US:
            session = []
        session.append(ev)
        if len(session) >= 3:
            a, b, c = session[-3], session[-2], session[-1]
            counts[f"{a[2]} {b[2]} {c[2]}"] += 1
    return dict(counts)


def _run_kernel(kernel, batches, state):
    got: collections.Counter = collections.Counter()
    emitted = []
    for batch in batches:
        for pdf in kernel((1,), iter([_rows_df(batch)]), state):
            emitted.append(pdf)
    return emitted


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_path_trigram_kernel_bridges_any_split(case):
    events, batches = case
    state = FakeGroupState()
    got: collections.Counter = collections.Counter()
    for pdf in _run_kernel(_path_trigram_counts, batches, state):
        for r in pdf.itertuples(index=False):
            got[r.trigram] += int(r.n)
    assert dict(got) == _ref_trigrams(events)


def _ref_delays(events):
    ordered = sorted(events)
    ta = None
    for ev in ordered:
        if ev[2] == "signup":
            ta = ev[0]
            break
    if ta is None:
        return []
    for ev in ordered:
        if ev[2] == "purchase" and ev[0] >= ta:
            return [(ev[0] - ta) // 1_000_000]
    return []


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_funnel_delay_kernel_emits_once_and_absorbs_redelivery(case):
    events, batches = case
    kernel = _make_funnel_delays("signup", "purchase")
    state = FakeGroupState()
    delays = []
    for pdf in _run_kernel(kernel, batches, state):
        delays.extend(int(d) for d in pdf["delay_s"])
    assert delays == _ref_delays(events)

    # full redelivery of every batch: the converted latch (and the
    # first-entry pin) must absorb everything
    again = []
    for pdf in _run_kernel(kernel, batches, state):
        again.extend(int(d) for d in pdf["delay_s"])
    assert again == []


# --- harness reuse for the pre-r8 kernels ---------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _US_PER_DAY,
    _activity_days,
    _cooccurrence_pairs,
    _transition_counts,
)


def _ref_transitions(events):
    ordered = sorted(events)
    counts: collections.Counter = collections.Counter()
    for a, b in zip(ordered, ordered[1:]):
        counts[(a[2], b[2])] += 1
    return dict(counts)


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_transition_kernel_bridges_any_split(case):
    """PREFIX-EQUALITY (r16 upgrade): after EVERY batch the accumulated
    transition deltas equal the pure reference of the prefix delivered
    so far — the one-tuple bridge keeps the changelog current at each
    cut, not just at the end."""
    events, batches = case
    state = FakeGroupState()
    got: collections.Counter = collections.Counter()
    prefix: list = []
    for batch in batches:
        for pdf in _run_kernel(_transition_counts, [batch], state):
            for r in pdf.itertuples(index=False):
                got[(r.src, r.dst)] += int(r.n)
        prefix.extend(batch)
        assert dict(got) == _ref_transitions(prefix)
    assert dict(got) == _ref_transitions(events)


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_cooccurrence_kernel_emits_each_pair_once(case):
    events, batches = case
    state = FakeGroupState()
    got: collections.Counter = collections.Counter()
    for pdf in _run_kernel(_cooccurrence_pairs, batches, state):
        for r in pdf.itertuples(index=False):
            got[(r.type_a, r.type_b)] += int(r.n)
    types = {e[2] for e in events}
    ref = {
        (a, b): 1
        for a in types
        for b in types
        if a < b
    }
    assert dict(got) == ref

    # full redelivery: the seen-type set must absorb everything
    again = list(_run_kernel(_cooccurrence_pairs, batches, state))
    assert again == []


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_activity_days_kernel_emits_each_day_once(case):
    events, batches = case
    state = FakeGroupState()
    got = []
    for pdf in _run_kernel(_activity_days, batches, state):
        got.extend(int(d) for d in pdf["epoch_day"])
    ref = sorted({e[0] // _US_PER_DAY for e in events})
    assert sorted(got) == ref and len(got) == len(set(got))

    again = list(_run_kernel(_activity_days, batches, state))
    assert again == []


from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _scd2_intervals,
)


def _ref_scd2(events):
    """Collapse the ordered sequence into SCD2 runs: one interval per
    consecutive same-type run, valid_to = next run's start (None for
    the open tail)."""
    ordered = sorted(events)
    runs = []
    for ev in ordered:
        if not runs or runs[-1][0] != ev[2]:
            runs.append([ev[2], ev[0]])
    out = []
    for i, (t, frm) in enumerate(runs):
        to = runs[i + 1][1] if i + 1 < len(runs) else None
        out.append((t, frm, to))
    return out


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_scd2_kernel_reduced_changelog_matches_reference(case):
    """The closed-interval MULTISET plus the chronologically last open
    emission must reproduce the whole-sequence SCD2 intervals (under
    tied timestamps a type flap yields zero-length intervals whose
    VALUES can repeat — the batch lag/lead semantics — so closed rows
    compare as a multiset, and each batch's open re-emit is superseded
    by the next emitting batch); full redelivery must emit nothing."""
    events, batches = case
    state = FakeGroupState()
    closed: collections.Counter = collections.Counter()
    last_open = None
    for pdf in _run_kernel(_scd2_intervals, batches, state):
        for r in pdf.itertuples(index=False):
            if pd.isna(r.valid_to_us):
                last_open = (r.event_type, int(r.valid_from_us), None)
            else:
                closed[
                    (
                        r.event_type,
                        int(r.valid_from_us),
                        int(r.valid_to_us),
                    )
                ] += 1
    got = closed + collections.Counter(
        [last_open] if last_open else []
    )
    assert got == collections.Counter(_ref_scd2(events))

    again = list(_run_kernel(_scd2_intervals, batches, state))
    assert again == []


from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    HOUR_US,
    _bucket_str,
    _make_gapfill,
)


class FakeTimerGroupState(FakeGroupState):
    """FakeGroupState + the timer API the gapfill kernel touches (the
    non-timeout path only — timeout eviction is pinned end-to-end)."""

    hasTimedOut = False

    def setTimeoutTimestamp(self, ms):
        pass

    def remove(self):
        self._t = None


@st.composite
def hourly_sequences_with_aligned_splits(draw):
    """Events with hour-scale gaps and values, split ONLY at hour-bucket
    boundaries: intra-bucket cross-batch partials are documented as
    downstream-merge territory (append-mode), so the property pins the
    grid-extension/forward-fill logic the kernel owns outright."""
    n = draw(st.integers(min_value=1, max_value=10))
    hour_gaps = draw(
        st.lists(
            st.integers(min_value=0, max_value=4), min_size=n - 1,
            max_size=n - 1,
        )
    )
    vals = draw(
        st.lists(
            st.integers(min_value=-50, max_value=50),
            min_size=n,
            max_size=n,
        )
    )
    ts, events = 3 * HOUR_US + 137, []
    for i in range(n):
        if i:
            ts += hour_gaps[i - 1] * HOUR_US
        events.append((ts, i + 1, float(vals[i]) / 4))
    # cuts only where the bucket changes
    buckets = [e[0] // HOUR_US for e in events]
    legal = [
        i for i in range(1, n) if buckets[i] != buckets[i - 1]
    ]
    cuts = sorted(
        draw(
            st.lists(
                st.sampled_from(legal or [n]), max_size=2, unique=True
            )
        )
    ) if legal else []
    batches, prev = [], 0
    for c in cuts + [n]:
        if c > prev:
            batches.append(events[prev:c])
            prev = c
    return events, batches


def _gapfill_rows_df(events):
    return pd.DataFrame(
        {
            "user_id": 1,
            "event_id": [e[1] for e in events],
            "ts": pd.to_datetime([e[0] * 1000 for e in events]),
            "value": [e[2] for e in events],
        }
    )


def _ref_gapfill(events):
    """Batch semantics: hourly sums (4dp) over the user's full grid from
    first to last active bucket, gaps forward-filled."""
    sums: dict[int, float] = {}
    for ts, _eid, v in events:
        b = ts - ts % HOUR_US
        sums[b] = sums.get(b, 0.0) + v
    sums = {b: round(v, 4) for b, v in sums.items()}
    lo, hi = min(sums), max(sums)
    out, last = {}, None
    for b in range(lo, hi + HOUR_US, HOUR_US):
        if b in sums:
            last = sums[b]
            out[_bucket_str(b)] = (True, last)
        else:
            out[_bucket_str(b)] = (False, last)
    return out


@given(hourly_sequences_with_aligned_splits())
@settings(max_examples=200, deadline=None)
def test_gapfill_kernel_grid_matches_batch_on_aligned_splits(case):
    events, batches = case
    state = FakeTimerGroupState()
    got: dict[str, tuple] = {}
    for batch in batches:
        for pdf in _make_gapfill(10**15)(
            (1,), iter([_gapfill_rows_df(batch)]), state
        ):
            for r in pdf.itertuples(index=False):
                assert r.bucket not in got, "bucket re-emitted"
                got[r.bucket] = (bool(r.observed), r.filled_value)
    assert got == _ref_gapfill(events)


# --- r9 additions: _latest_per_key and _sessionize --------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _latest_per_key,
    _sessionize,
)


def _val(eid: int) -> float:
    # multiples of 0.5 sum exactly in binary — totals compare bit-equal
    return eid * 0.5


def _rows_df_valued(events):
    df = _rows_df(events)
    return df.assign(value=[_val(e[1]) for e in events])


@st.composite
def sequences_with_shuffled_splits(draw):
    """In-order cuts, then a batch-order permutation — the CDC kernel
    must converge to the same snapshot under any delivery order."""
    events, batches = draw(sequences_with_splits())
    order = draw(st.permutations(range(len(batches))))
    return events, [batches[i] for i in order]


@given(sequences_with_shuffled_splits())
@settings(max_examples=200, deadline=None)
def test_latest_snapshot_kernel_converges_under_any_delivery_order(case):
    events, batches = case
    state = FakeGroupState()
    emitted = []
    prefix = []
    for batch in batches:
        for pdf in _latest_per_key(
            (1,), iter([_rows_df_valued(batch)]), state
        ):
            emitted.append(
                (int(pdf["ts_us"].iloc[0]), int(pdf["event_id"].iloc[0]))
            )
        prefix.extend(batch)
        # prefix invariant (r16 upgrade): the newest emission so far IS
        # the snapshot of the delivered prefix under ANY delivery order
        assert emitted[-1] == max((e[0], e[1]) for e in prefix)
    # every emission strictly advances the (ts, event_id) race ...
    assert emitted == sorted(set(emitted))
    # ... and the newest emission IS the global snapshot
    best = max((e[0], e[1]) for e in events)
    assert emitted[-1] == best
    assert (int(state.get[0]), int(state.get[1])) == best

    # full redelivery (any order already): zero extra emissions
    again = []
    for batch in batches:
        again.extend(
            _latest_per_key((1,), iter([_rows_df_valued(batch)]), state)
        )
    assert again == []


def _ref_sessions(events):
    """Whole-sequence sessionization by the strictly-greater gap rule:
    (start, end, n, total) runs; the final one is still open."""
    ordered = sorted(events)
    sessions, cur = [], None
    for ts, eid, _t in ordered:
        if cur and ts - cur[1] > SESSION_GAP_US:
            sessions.append(cur)
            cur = None
        if cur is None:
            cur = [ts, ts, 0, 0.0]
        cur[0] = min(cur[0], ts)
        cur[1] = max(cur[1], ts)
        cur[2] += 1
        cur[3] += _val(eid)
    return sessions, cur


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_sessionize_kernel_closes_same_sessions_across_any_split(case):
    events, batches = case
    state = FakeTimerGroupState()  # _sessionize arms a session timeout
    closed = []
    for batch in batches:
        for pdf in _sessionize((1,), iter([_rows_df_valued(batch)]), state):
            for r in pdf.itertuples(index=False):
                closed.append(
                    (
                        int(r.start_us),
                        int(r.end_us),
                        int(r.n_events),
                        float(r.total_value),
                    )
                )
    ref_closed, ref_open = _ref_sessions(events)
    assert closed == [
        (s[0], s[1], s[2], round(s[3], 4)) for s in ref_closed
    ]
    # the open tail waits in state for the timeout path (pinned e2e)
    start, last, n, total = state.get
    assert [int(start), int(last), int(n), float(total)] == ref_open


# --- r9: running-min first-ship changelog ----------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _first_ship_per_order,
)


def _ship_rows_df(rows):
    """rows: list of (ship_us, linenumber)."""
    return pd.DataFrame(
        {
            "l_orderkey": 1,
            "l_linenumber": [r[1] for r in rows],
            "l_shipdate": pd.to_datetime([r[0] * 1000 for r in rows]),
        }
    )


@st.composite
def ship_batches(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = [
        (
            draw(st.integers(min_value=0, max_value=5)) * 1_000_000,
            i + 1,
        )
        for i in range(n)
    ]
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(n - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [n]:
        if c > prev:
            batches.append(rows[prev:c])
            prev = c
    order = draw(st.permutations(range(len(batches))))
    return rows, [batches[i] for i in order]


@given(ship_batches())
@settings(max_examples=200, deadline=None)
def test_first_ship_kernel_min_race_under_any_delivery_order(case):
    rows, batches = case
    state = FakeGroupState()
    emitted = []
    prefix = []
    for batch in batches:
        for pdf in _first_ship_per_order(
            (1,), iter([_ship_rows_df(batch)]), state
        ):
            emitted.append(
                (
                    int(pdf["first_ship_us"].iloc[0]),
                    int(pdf["ship_line"].iloc[0]),
                )
            )
        prefix.extend(batch)
        # prefix invariant (r16 upgrade): newest emission == the prefix
        # minimum under ANY delivery order
        assert emitted[-1] == min(prefix)
    # emissions strictly improve the minimum; the last one IS the min
    assert emitted == sorted(set(emitted), reverse=True)
    assert emitted[-1] == min(rows)
    assert (int(state.get[0]), int(state.get[1])) == min(rows)

    again = []
    for batch in batches:
        again.extend(
            _first_ship_per_order((1,), iter([_ship_rows_df(batch)]), state)
        )
    assert again == []


# --- r9: sequence-pack running-offset kernel -------------------------------

from googlecloudstorage_blueprints_spark.operators.training import (  # noqa: E402
    PACK_CONTEXT_TOKENS,
)
from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _pack_bins,
)


def _pack_rows_df(docs):
    """docs: list of (doc_id, n_tokens)."""
    return pd.DataFrame(
        {
            "source": "s",
            "doc_id": [d[0] for d in docs],
            "n_tokens": [d[1] for d in docs],
        }
    )


@st.composite
def pack_batches(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    # token counts straddling the context boundary: tiny docs, an
    # exactly-C doc, and an over-C doc
    sizes = draw(
        st.lists(
            st.sampled_from(
                [1, 7, PACK_CONTEXT_TOKENS // 2, PACK_CONTEXT_TOKENS,
                 PACK_CONTEXT_TOKENS + 3]
            ),
            min_size=n,
            max_size=n,
        )
    )
    docs = [(i, sizes[i]) for i in range(n)]
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(n - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [n]:
        if c > prev:
            batches.append(docs[prev:c])
            prev = c
    return docs, batches


@given(pack_batches())
@settings(max_examples=200, deadline=None)
def test_pack_bins_kernel_offsets_bridge_any_split(case):
    docs, batches = case
    state = FakeGroupState()
    got = {}
    for batch in batches:
        for pdf in _pack_bins(("s",), iter([_pack_rows_df(batch)]), state):
            for r in pdf.itertuples(index=False):
                got[int(r.doc_id)] = int(r.bin_id)
    before = 0
    ref = {}
    for doc_id, toks in docs:
        ref[doc_id] = before // PACK_CONTEXT_TOKENS
        before += toks
    assert got == ref
    assert int(state.get[0]) == before


# --- r9: LSH bucket pair emission ------------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _band_bucket_pairs,
)


@st.composite
def bucket_batches(draw):
    """Doc-id batches for one bucket, WITH redeliveries (ids repeat
    across and within batches)."""
    n_batches = draw(st.integers(min_value=1, max_value=4))
    batches = [
        draw(
            st.lists(
                st.integers(min_value=1, max_value=9),
                min_size=1,
                max_size=5,
            )
        )
        for _ in range(n_batches)
    ]
    return batches


@given(bucket_batches())
@settings(max_examples=200, deadline=None)
def test_band_bucket_kernel_emits_each_pair_exactly_once(case):
    batches = case
    state = FakeGroupState()
    emitted = []
    for batch in batches:
        pdf_in = pd.DataFrame({"doc_id": batch})
        for pdf in _band_bucket_pairs((3, 77), iter([pdf_in]), state):
            emitted.extend(
                (int(r.doc_a), int(r.doc_b)) for r in pdf.itertuples(index=False)
            )
    ids = {i for b in batches for i in b}
    ref = {(a, b) for a in ids for b in ids if a < b}
    # every unordered pair exactly once, despite arbitrary redelivery
    assert sorted(emitted) == sorted(ref)
    assert len(emitted) == len(set(emitted))
    assert set(state.get[0]) == ids


# --- r9: entry-carrying sessionizer ----------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _sessionize_entries,
)


def _ref_entry_sessions(events):
    """Whole-sequence reference: gap-rule sessions, each tagged with the
    type of its (ts, event_id)-minimal event."""
    ordered = sorted(events)
    sessions, cur = [], None
    for ts, eid, ty in ordered:
        if cur and ts - cur[2] > SESSION_GAP_US:
            sessions.append(cur)
            cur = None
        if cur is None:
            cur = [ty, ts, ts, 0, (ts, eid)]
        if (ts, eid) < cur[4]:
            cur[0], cur[4] = ty, (ts, eid)
        cur[1] = min(cur[1], ts)
        cur[2] = max(cur[2], ts)
        cur[3] += 1
    return sessions, cur


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_sessionize_entries_kernel_tags_the_minimal_event(case):
    events, batches = case
    state = FakeTimerGroupState()
    closed = []
    for batch in batches:
        for pdf in _sessionize_entries(
            (1,), iter([_rows_df(batch)]), state
        ):
            for r in pdf.itertuples(index=False):
                closed.append(
                    (
                        str(r.entry_type),
                        int(r.start_us),
                        int(r.end_us),
                        int(r.n_events),
                    )
                )
    ref_closed, ref_open = _ref_entry_sessions(events)
    assert closed == [tuple(s[:4]) for s in ref_closed]
    start, last, n, etype, eeid = state.get
    assert [str(etype), int(start), int(last), int(n)] == ref_open[:4]
    assert (int(state.get[0]), int(eeid)) == ref_open[4]


# --- r10: coverage invariant -------------------------------------------------


def test_every_stateful_kernel_is_property_tested():
    """Meta-test: the kernel of every ``STATEFUL_TWINS`` row in
    streaming/stateful.py (a factory-built kernel by its ``_make_*``
    factory) must be exercised somewhere in THIS file.  Adding a twin
    without extending the harness fails here, keeping the r8 invariant
    (the harness caught a real tied-timestamp bug) as the table grows."""
    from googlecloudstorage_blueprints_spark.streaming.stateful import (
        STATEFUL_TWINS,
    )

    # a closure's qualified name starts with the factory that built it
    kernels = {
        spec.kernel.__qualname__.split(".")[0]
        for spec in STATEFUL_TWINS.values()
    }
    harness_src = open(__file__).read().replace(
        "test_every_stateful_kernel_is_property_tested", ""
    )
    missing = sorted(name for name in kernels if name not in harness_src)
    assert not missing, f"kernels without property tests: {missing}"


# --- r10: depth+conversion sessionizer --------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _sessionize_depth,
)


def _ref_depth_sessions(events):
    """Whole-sequence reference: gap-rule sessions with a purchase
    latch.  ``events`` are (ts, event_id, type) triples; purchases are
    type == 'purchase'."""
    ordered = sorted(events)
    sessions, cur = [], None
    for ts, _eid, ty in ordered:
        if cur and ts - cur[1] > SESSION_GAP_US:
            sessions.append(cur)
            cur = None
        if cur is None:
            cur = [ts, ts, 0, 0]
        cur[0] = min(cur[0], ts)
        cur[1] = max(cur[1], ts)
        cur[2] += 1
        if ty == "purchase":
            cur[3] = 1
    return sessions, cur


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_sessionize_depth_kernel_latches_conversion(case):
    events, batches = case
    # recast the third element as a type alternating purchase/view by
    # event-id parity so both outcomes occur under random splits
    def retype(batch):
        return [
            (ts, eid, "purchase" if eid % 3 == 0 else ty)
            for ts, eid, ty in batch
        ]

    events = retype(events)
    state = FakeTimerGroupState()
    closed = []
    for batch in batches:
        for pdf in _sessionize_depth(
            (1,), iter([_rows_df(retype(batch))]), state
        ):
            for r in pdf.itertuples(index=False):
                closed.append(
                    (
                        int(r.start_us),
                        int(r.end_us),
                        int(r.n_events),
                        int(r.converted),
                    )
                )
    ref_closed, ref_open = _ref_depth_sessions(events)
    assert closed == [tuple(s) for s in ref_closed]
    start, last, n, conv = state.get
    assert [int(start), int(last), int(n), int(conv)] == ref_open


# --- r11: first-touch running-min kernel ------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _first_touch_per_user,
)


def _touch_rows_df(rows):
    """rows: list of (ts_us, event_id, event_type)."""
    return pd.DataFrame(
        {
            "user_id": 1,
            "event_id": [r[1] for r in rows],
            "ts": pd.to_datetime([r[0] * 1000 for r in rows]),
            "event_type": [r[2] for r in rows],
        }
    )


@st.composite
def touch_batches(draw):
    n = draw(st.integers(min_value=1, max_value=12))
    rows = [
        (
            draw(st.integers(min_value=0, max_value=5)) * 1_000_000,
            i + 1,
            draw(st.sampled_from(TYPES)),
        )
        for i in range(n)
    ]
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(n - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [n]:
        if c > prev:
            batches.append(rows[prev:c])
            prev = c
    order = draw(st.permutations(range(len(batches))))
    return rows, [batches[i] for i in order]


@given(touch_batches())
@settings(max_examples=200, deadline=None)
def test_first_touch_kernel_min_race_under_any_delivery_order(case):
    """Emissions strictly improve the (ts_us, event_id) minimum under
    ANY batch permutation; the final emission carries the true first
    event AND its type (ties broken by event_id, matching the batch
    rank window); full redelivery adds nothing."""
    rows, batches = case
    state = FakeGroupState()
    emitted = []
    prefix = []
    for batch in batches:
        before = len(emitted)
        for pdf in _first_touch_per_user(
            (1,), iter([_touch_rows_df(batch)]), state
        ):
            emitted.append(
                (
                    int(pdf["first_ts_us"].iloc[0]),
                    int(pdf["first_event_id"].iloc[0]),
                    str(pdf["first_type"].iloc[0]),
                )
            )
        prefix.extend(batch)
        # prefix invariant (r16 upgrade): the newest emission so far is
        # exactly the reference first-touch of the delivered prefix —
        # the changelog is always current, not just at the end
        if prefix:
            assert emitted, "first delivered batch must emit"
            assert emitted[-1] == min(prefix, key=lambda r: (r[0], r[1]))
            # and a batch emits iff it improved the minimum
            improved = emitted[-1] in [
                (r[0], r[1], r[2]) for r in batch
            ]
            assert (len(emitted) > before) == improved
    true_first = min(rows, key=lambda r: (r[0], r[1]))
    keys = [(e[0], e[1]) for e in emitted]
    assert keys == sorted(set(keys), reverse=True)
    assert emitted[-1] == true_first
    assert (
        int(state.get[0]),
        int(state.get[1]),
        str(state.get[2]),
    ) == true_first

    again = []
    for batch in batches:
        again.extend(
            _first_touch_per_user(
                (1,), iter([_touch_rows_df(batch)]), state
            )
        )
    assert again == []


# --- r11: pair-latency partial sums ------------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _pair_latency_sums,
)


def _ref_pair_latency(events):
    """Whole-sequence reference: (ts_us, event_id)-ordered consecutive
    pairs, per (prev, next) type the count and summed µs gap."""
    ordered = sorted(events)
    sums: dict = {}
    for a, b in zip(ordered, ordered[1:]):
        n, g = sums.get((a[2], b[2]), (0, 0))
        sums[(a[2], b[2])] = (n + 1, g + (b[0] - a[0]))
    return sums


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_pair_latency_kernel_bridges_any_split(case):
    """PREFIX-EQUALITY (r16 upgrade): after EVERY batch the accumulated
    partial sums equal the pure reference of exactly the prefix
    delivered so far (in-order splits — the one-tuple bridge carries
    the boundary pair), not just at the end."""
    events, batches = case
    state = FakeGroupState()
    got: dict = {}
    prefix: list = []
    for batch in batches:
        for pdf in _run_kernel(_pair_latency_sums, [batch], state):
            for r in pdf.itertuples(index=False):
                k = (r.prev_type, r.next_type)
                n, g = got.get(k, (0, 0))
                got[k] = (n + int(r.n_pairs), g + int(r.total_gap_us))
        prefix.extend(batch)
        assert got == _ref_pair_latency(prefix)
    assert got == _ref_pair_latency(events)


# --- r12: weekly-conversion conditional-distinct marks -----------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _US_PER_WEEK,
    _weekly_conversion_marks,
)


def _ref_weekly_marks(events):
    """Whole-sequence reference: one ('active') mark per distinct
    epoch-week, one ('buyer') mark per week containing a purchase."""
    active = {ts // _US_PER_WEEK for ts, _eid, _ty in events}
    buyer = {
        ts // _US_PER_WEEK
        for ts, _eid, ty in events
        if ty == "purchase"
    }
    return {(w, "active") for w in active} | {
        (w, "buyer") for w in buyer
    }


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_weekly_conversion_kernel_emits_each_mark_once(case):
    """Summed emissions over any in-order split equal the reference
    mark set with NO duplicates, and re-delivering every batch adds
    zero emissions (both week-sets absorb replays)."""
    events, batches = case
    state = FakeGroupState()
    marks = []
    for batch in batches + batches:  # second pass = full redelivery
        for pdf in _weekly_conversion_marks(
            (1,), iter([_rows_df(batch)]), state
        ):
            marks.extend(
                (int(r.epoch_week), str(r.kind))
                for r in pdf.itertuples(index=False)
            )
    assert len(marks) == len(set(marks)), "duplicate mark emitted"
    assert set(marks) == _ref_weekly_marks(events)


# --- r12: running-max order-close changelog ---------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _US_PER_DAY as _US_DAY_K,
    _order_close_per_order,
)


def _close_rows_df(rows):
    """rows: list of (ship_day, linenumber)."""
    return pd.DataFrame(
        {
            "l_orderkey": 1,
            "l_linenumber": [r[1] for r in rows],
            "l_shipdate": pd.to_datetime(
                [r[0] * _US_DAY_K * 1000 for r in rows]
            ),
        }
    )


@given(ship_batches())
@settings(max_examples=200, deadline=None)
def test_order_close_kernel_max_race_under_any_delivery_order(case):
    """Max-race mirror of the first-ship kernel: emissions strictly
    advance the maximum under ANY batch permutation; the last emission
    and the final state are the true (max day, max line-at-day); full
    redelivery emits nothing."""
    rows, batches = case
    days = [(us // 1_000_000, ln) for us, ln in rows]  # reuse strategy
    day_batches = [
        [(us // 1_000_000, ln) for us, ln in b] for b in batches
    ]
    state = FakeGroupState()
    emitted = []
    prefix = []
    for batch in day_batches:
        for pdf in _order_close_per_order(
            (1,), iter([_close_rows_df(batch)]), state
        ):
            emitted.append(
                (
                    int(pdf["close_day"].iloc[0]),
                    int(pdf["close_line"].iloc[0]),
                )
            )
        prefix.extend(batch)
        # prefix invariant (r16 upgrade): newest emission == the prefix
        # maximum under ANY delivery order
        assert emitted[-1] == max(prefix)
    assert emitted == sorted(set(emitted))
    assert emitted[-1] == max(days)
    assert (int(state.get[0]), int(state.get[1])) == max(days)

    again = []
    for batch in day_batches:
        again.extend(
            _order_close_per_order(
                (1,), iter([_close_rows_df(batch)]), state
            )
        )
    assert again == []


# --- r12: reclassifying growth-accounting changelog --------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _classify_weeks,
    _growth_class_diff,
)


def _weeks_df(weeks):
    """weeks: list of epoch-week ints -> kernel input frame."""
    return pd.DataFrame(
        {
            "user_id": 1,
            # kernel reads ts as ns-epoch via .astype("int64") // 1000
            "ts": pd.to_datetime(
                [w * _US_PER_WEEK * 1000 + 5_000 for w in weeks]
            ),
        }
    )


@st.composite
def week_batches(draw):
    """Distinct epoch-weeks dealt into 1-4 batches in ARBITRARY order —
    the out-of-order delivery the reclassifying kernel exists for."""
    weeks = sorted(
        draw(
            st.sets(
                st.integers(min_value=0, max_value=10),
                min_size=1,
                max_size=8,
            )
        )
    )
    order = draw(st.permutations(weeks))
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(order) - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(order)]:
        if order[prev:c]:
            batches.append(order[prev:c])
        prev = c
    return weeks, batches


@given(week_batches())
@settings(max_examples=200, deadline=None)
def test_growth_kernel_newest_class_matches_batch_under_any_order(case):
    """The max-ver emission per week must equal the whole-set batch
    classification under ANY delivery order; versions strictly
    increase; full redelivery emits nothing; and an in-order
    (ascending) delivery never reclassifies — exactly one emission per
    week."""
    weeks, batches = case
    state = FakeGroupState()
    emitted = []  # (week, cls, ver)
    delivered = set()
    for batch in batches:
        delivered |= set(batch)
        for pdf in _growth_class_diff(
            (1,), iter([_weeks_df(list(batch))]), state
        ):
            emitted.extend(
                (int(r.epoch_week), str(r.cls), int(r.ver))
                for r in pdf.itertuples(index=False)
            )
        # prefix invariant: newest rows so far == batch class of the
        # prefix (the changelog is always current, not just at the end)
        so_far = {}
        for w, cls, ver in emitted:
            if w not in so_far or ver > so_far[w][1]:
                so_far[w] = (cls, ver)
        assert {
            w: c for w, (c, _v) in so_far.items()
        } == _classify_weeks(sorted(delivered))
    newest = {}
    for w, cls, ver in emitted:
        if w not in newest or ver > newest[w][1]:
            newest[w] = (cls, ver)
    assert {w: c for w, (c, _v) in newest.items()} == _classify_weeks(
        weeks
    )
    vers = [v for _w, _c, v in emitted]
    assert vers == sorted(vers)
    in_order = all(
        max(batches[i]) < min(batches[i + 1])
        for i in range(len(batches) - 1)
    )
    if in_order:
        assert len(emitted) == len(weeks), "in-order must never reclass"

    again = []
    for batch in batches:
        again.extend(
            _growth_class_diff((1,), iter([_weeks_df(list(batch))]), state)
        )
    assert again == [], "redelivery must be absorbed by the week set"


# --- r14: reclassifying cohort-assignment changelog ---------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _cohort_assign_diff,
)


def _months_df(month_keys):
    """month_keys: list of year·12+month ints -> kernel input frame."""
    return pd.DataFrame(
        {
            "o_custkey": 1,
            "o_orderdate": pd.to_datetime(
                [
                    f"{(m - 1) // 12:04d}-{(m - 1) % 12 + 1:02d}-15"
                    for m in month_keys
                ]
            ),
        }
    )


@st.composite
def month_batches(draw):
    """Distinct month keys dealt into 1-4 batches in ARBITRARY order —
    a batch carrying an EARLIER month than the known first must rewrite
    every cell (the all-cells reclass the kernel exists for)."""
    base = 2020 * 12
    months = sorted(
        draw(
            st.sets(
                st.integers(min_value=base + 1, max_value=base + 14),
                min_size=1,
                max_size=8,
            )
        )
    )
    order = draw(st.permutations(months))
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(order) - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(order)]:
        if order[prev:c]:
            batches.append(order[prev:c])
        prev = c
    return months, batches


@given(month_batches())
@settings(max_examples=200, deadline=None)
def test_cohort_kernel_newest_cell_matches_batch_under_any_order(case):
    """The max-ver emission per month must equal the whole-set batch
    cell assignment (m0, m − m0) under ANY delivery order; versions
    strictly increase; full redelivery emits nothing; and an in-order
    (ascending) delivery never reclassifies — exactly one emission per
    month."""
    months, batches = case
    state = FakeGroupState()
    emitted = []  # (month, cohort, offset, ver)
    delivered = set()
    for batch in batches:
        delivered |= set(batch)
        for pdf in _cohort_assign_diff(
            (1,), iter([_months_df(list(batch))]), state
        ):
            emitted.extend(
                (
                    int(r.month),
                    int(r.cohort_month),
                    int(r.month_offset),
                    int(r.ver),
                )
                for r in pdf.itertuples(index=False)
            )
        # prefix invariant: newest cells so far == batch assignment of
        # the delivered prefix (the changelog is always current)
        so_far = {}
        for m, c, off, ver in emitted:
            if m not in so_far or ver > so_far[m][2]:
                so_far[m] = (c, off, ver)
        p0 = min(delivered)
        assert {
            m: (c, off) for m, (c, off, _v) in so_far.items()
        } == {m: (p0, m - p0) for m in delivered}
    newest = {}
    for m, c, off, ver in emitted:
        if m not in newest or ver > newest[m][2]:
            newest[m] = (c, off, ver)
    m0 = months[0]
    assert {m: (c, off) for m, (c, off, _v) in newest.items()} == {
        m: (m0, m - m0) for m in months
    }
    vers = [v for _m, _c, _o, v in emitted]
    assert vers == sorted(vers)
    in_order = all(
        max(batches[i]) < min(batches[i + 1])
        for i in range(len(batches) - 1)
    )
    if in_order:
        assert len(emitted) == len(months), "in-order must never reclass"

    again = []
    for batch in batches:
        again.extend(
            _cohort_assign_diff((1,), iter([_months_df(list(batch))]), state)
        )
    assert again == [], "redelivery must be absorbed by the month set"


def test_cohort_kernel_drops_null_order_dates():
    """A NULL o_orderdate in a micro-batch is SKIPPED (the batch twin's
    groupBy drops NULL months), never raised on — pre-fix, the int64
    cast on NaT killed the stream on one dirty row (r14 ADVICE).  An
    all-NULL batch emits nothing and leaves state untouched."""
    state = FakeGroupState()
    base = 2020 * 12 + 3
    out = list(_cohort_assign_diff((1,), iter([_months_df([base])]), state))
    assert len(out) == 1

    dirty = pd.concat(
        [
            _months_df([base + 2]),
            pd.DataFrame({"o_custkey": [1], "o_orderdate": [pd.NaT]}),
        ],
        ignore_index=True,
    )
    months = sorted(
        int(r.month)
        for pdf in _cohort_assign_diff((1,), iter([dirty]), state)
        for r in pdf.itertuples(index=False)
    )
    assert months == [base + 2], "non-null month lands, NaT row dropped"

    ver_before = int(state.get[1])
    all_null = pd.DataFrame({"o_custkey": [1], "o_orderdate": [pd.NaT]})
    assert list(_cohort_assign_diff((1,), iter([all_null]), state)) == []
    assert int(state.get[1]) == ver_before, "all-NULL batch must not bump"


# --- r12c: Space-Saving heavy-hitter sketch ----------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    SPACE_SAVING_CAPACITY,
    _space_saving_counts,
)


def _words_rows_df(words):
    return pd.DataFrame({"shard": 0, "word": list(words)})


@st.composite
def word_batches(draw):
    """Word sequences over an alphabet LARGER than the sketch capacity
    (so evictions actually fire), cut into 1-4 in-order batches."""
    alphabet = [f"w{i:03d}" for i in range(SPACE_SAVING_CAPACITY + 16)]
    n = draw(st.integers(min_value=1, max_value=220))
    words = draw(
        st.lists(st.sampled_from(alphabet), min_size=n, max_size=n)
    )
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(n - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [n]:
        if words[prev:c]:
            batches.append(words[prev:c])
        prev = c
    return words, batches


@given(word_batches())
@settings(max_examples=150, deadline=None)
def test_space_saving_kernel_invariants_under_any_split(case):
    """The Metwally guarantees must hold at every batch boundary:
    est >= true >= est - err for every tracked word, total mass is
    conserved (sum est == words processed so far), the counter table
    never exceeds capacity, and with vocabulary <= capacity the sketch
    is EXACT (err identically 0)."""
    words, batches = case
    state = FakeGroupState()
    true = collections.Counter()
    newest = {}
    for batch in batches:
        true.update(batch)
        for pdf in _space_saving_counts(
            (0,), iter([_words_rows_df(batch)]), state
        ):
            rows = {
                str(r.word): (int(r.est), int(r.err))
                for r in pdf.itertuples(index=False)
            }
            newest = rows
        assert len(newest) <= SPACE_SAVING_CAPACITY
        assert sum(e for e, _ in newest.values()) == sum(true.values())
        for w, (est, err) in newest.items():
            assert est >= true[w] >= est - err, w
    if len(set(words)) <= SPACE_SAVING_CAPACITY:
        assert {w: e for w, (e, _err) in newest.items()} == dict(true)
        assert all(err == 0 for _e, err in newest.values())


# --- r13: intersession-gap partial sums --------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _intersession_gap_sums,
)


def _ref_intersession(events):
    """Whole-sequence reference: (ts, event_id)-ordered consecutive
    deltas STRICTLY over the session gap — by the sessionizer rule each
    such delta is next-session-start − prev-session-end."""
    ordered = sorted(events)
    n, total = 0, 0
    for a, b in zip(ordered, ordered[1:]):
        d = b[0] - a[0]
        if d > SESSION_GAP_US:
            n += 1
            total += d
    return n, total


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_intersession_kernel_bridges_any_split(case):
    """Summed partials over any in-order batch split equal the whole-
    sequence gap count/total — a boundary-spanning gap must be
    completed by the state tuple, an exactly-gap delta must NOT count
    (strictly-greater rule), and state ends at the newest event."""
    events, batches = case
    state = FakeGroupState()
    n, total = 0, 0
    prefix: list = []
    for batch in batches:
        for pdf in _run_kernel(_intersession_gap_sums, [batch], state):
            assert (pdf["n_gaps"] > 0).all()  # no vacuous zero-partials
            n += int(pdf["n_gaps"].sum())
            total += int(pdf["total_gap_us"].sum())
        prefix.extend(batch)
        # prefix invariant (r16 upgrade): accumulated partials equal
        # the reference of the prefix delivered so far at EVERY cut
        assert (n, total) == _ref_intersession(prefix)
    assert (n, total) == _ref_intersession(events)
    last = max(events)
    assert (int(state.get[0]), int(state.get[1])) == (last[0], last[1])


# --- r13: session-start marks -------------------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _session_start_marks,
)


def _ref_session_starts(events):
    """Whole-sequence reference: the first event opens a session, every
    strictly->gap delta opens another; marks carry the start ts."""
    ordered = sorted(events)
    starts, prev = [], None
    for ts, _eid, _ty in ordered:
        if prev is None or ts - prev > SESSION_GAP_US:
            starts.append(ts)
        prev = ts
    return starts


@given(sequences_with_splits())
@settings(max_examples=200, deadline=None)
def test_session_start_marks_under_any_split(case):
    """Collected marks over any in-order split equal the whole-sequence
    session starts exactly once each — a batch whose first event
    continues the previous batch's session must NOT emit, an
    exactly-gap delta must NOT open (strictly-greater rule), and the
    user's very first event always opens session #1."""
    events, batches = case
    state = FakeGroupState()
    got = []
    for pdf in _run_kernel(_session_start_marks, batches, state):
        got.extend(int(t) for t in pdf["start_ts_us"])
    assert got == _ref_session_starts(events)
    last = max(events)
    assert (int(state.get[0]), int(state.get[1])) == (last[0], last[1])


# --- r15: reclassifying funnel-attribution changelog --------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _FUNNEL_ATTR_FROM,
    _FUNNEL_ATTR_TO,
    _funnel_attribution_diff,
)


def _funnel_df(events):
    """events: list of (ts_us, event_type) -> kernel input frame."""
    return pd.DataFrame(
        {
            "user_id": 1,
            "ts": pd.to_datetime([e[0] * 1000 for e in events]),
            "event_type": [e[1] for e in events],
        }
    )


def _funnel_ref(events):
    """Whole-sequence reference: (first signup µs, first purchase µs at
    or after it) — None where absent, exactly the batch op's per-user
    frame semantics."""
    signups = [t for t, k in events if k == _FUNNEL_ATTR_FROM]
    if not signups:
        return None
    s = min(signups)
    qual = [t for t, k in events if k == _FUNNEL_ATTR_TO and t >= s]
    return (s, min(qual) if qual else None)


@st.composite
def funnel_event_batches(draw):
    """Signup/purchase events over a small µs grid (collisions and
    exact signup==purchase ties likely), dealt into 1-4 batches in
    ARBITRARY order — late earlier signups must re-attribute through
    the pre-signup purchase buffer."""
    n = draw(st.integers(min_value=1, max_value=10))
    events = [
        (
            draw(st.integers(min_value=0, max_value=20)),
            draw(
                st.sampled_from([_FUNNEL_ATTR_FROM, _FUNNEL_ATTR_TO])
            ),
        )
        for _ in range(n)
    ]
    order = draw(st.permutations(events))
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(order) - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(order)]:
        if order[prev:c]:
            batches.append(order[prev:c])
        prev = c
    return events, batches


@given(funnel_event_batches())
@settings(max_examples=300, deadline=None)
def test_funnel_attribution_kernel_matches_batch_under_any_order(case):
    """The newest (max-ver) emission must equal the whole-set reference
    (first signup, first at-or-after purchase) under ANY delivery
    order; versions strictly increase; no-signup users never emit;
    full redelivery emits nothing."""
    events, batches = case
    state = FakeGroupState()
    emitted = []
    delivered = []
    for batch in batches:
        delivered.extend(batch)
        for pdf in _funnel_attribution_diff(
            (1,), iter([_funnel_df(list(batch))]), state
        ):
            emitted.extend(
                (
                    int(r.signup_us),
                    None if pd.isna(r.purchase_us) else int(r.purchase_us),
                    int(r.ver),
                )
                for r in pdf.itertuples(index=False)
            )
        # prefix invariant: the newest row so far == the reference of
        # the delivered prefix (the changelog is always current)
        pref = _funnel_ref(delivered)
        if pref is None:
            assert emitted == []
        elif emitted:
            s, a, _v = max(emitted, key=lambda t: t[2])
            assert (s, a) == pref
        else:
            raise AssertionError("signed-up prefix must have emitted")
    ref = _funnel_ref(events)
    if ref is None:
        assert emitted == [], "no-signup user must never emit"
    else:
        assert emitted, "signed-up user must emit"
        s, a, _v = max(emitted, key=lambda t: t[2])
        assert (s, a) == ref
        vers = [v for _s, _a, v in emitted]
        assert vers == sorted(set(vers)), "versions strictly increase"

    again = []
    for batch in batches:
        again.extend(
            _funnel_attribution_diff(
                (1,), iter([_funnel_df(list(batch))]), state
            )
        )
    assert again == [], "redelivery must be absorbed"


def test_funnel_attribution_pre_signup_purchase_swaps_in():
    """The retained pre-signup purchase buffer is the whole point:
    purchase@5 arrives BEFORE any signup (buffered, no emission on its
    own), signup@10 + purchase@20 attribute to (10, 20), then a LATE
    signup@2 must swap the buffered purchase@5 in as the first
    conversion — (2, 5)."""
    state = FakeGroupState()
    out1 = list(
        _funnel_attribution_diff(
            (1,),
            iter(
                [
                    _funnel_df(
                        [
                            (5, _FUNNEL_ATTR_TO),
                            (10, _FUNNEL_ATTR_FROM),
                            (20, _FUNNEL_ATTR_TO),
                        ]
                    )
                ]
            ),
            state,
        )
    )
    assert len(out1) == 1
    r = out1[0].iloc[0]
    assert (int(r.signup_us), int(r.purchase_us)) == (10, 20)
    assert list(state.get[2]) == [5], "pre-signup purchase retained"

    out2 = list(
        _funnel_attribution_diff(
            (1,), iter([_funnel_df([(2, _FUNNEL_ATTR_FROM)])]), state
        )
    )
    r = out2[0].iloc[0]
    assert (int(r.signup_us), int(r.purchase_us)) == (2, 5)
    assert list(state.get[2]) == [], "qualified purchase leaves the buffer"


def test_funnel_attribution_discards_above_answer():
    """A purchase ≥ the current answer can never win (the answer only
    decreases), so it must NOT grow state — the boundedness claim."""
    state = FakeGroupState()
    list(
        _funnel_attribution_diff(
            (1,),
            iter(
                [_funnel_df([(10, _FUNNEL_ATTR_FROM), (15, _FUNNEL_ATTR_TO)])]
            ),
            state,
        )
    )
    list(
        _funnel_attribution_diff(
            (1,), iter([_funnel_df([(30, _FUNNEL_ATTR_TO)])]), state
        )
    )
    assert list(state.get[2]) == [], "post-answer purchase discarded"
    assert (int(state.get[0]), int(state.get[1])) == (10, 15)


def test_funnel_attribution_constants_match_batch():
    """The kernel's literals are a deliberate copy of the batch
    constants (the Arrow worker must not import the operator
    registry) — this pin breaks if they drift."""
    from googlecloudstorage_blueprints_spark.operators.behavior import (
        FUNNEL_FROM,
        FUNNEL_TO,
    )

    assert (_FUNNEL_ATTR_FROM, _FUNNEL_ATTR_TO) == (FUNNEL_FROM, FUNNEL_TO)


# --- r15: HyperLogLog daily-uniques registers ---------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    HLL_M,
    _hll_day_registers,
    _hll_estimate,
    _hll_hash64,
)


def _uid_df(uids):
    return pd.DataFrame({"epoch_day": 100, "user_id": list(uids)})


def _run_hll(batches, state=None):
    state = state or FakeGroupState()
    emitted = []
    for batch in batches:
        for pdf in _hll_day_registers((100,), iter([_uid_df(batch)]), state):
            emitted.extend(
                (int(r.est_distinct), int(r.ver))
                for r in pdf.itertuples(index=False)
            )
    return emitted, state


@st.composite
def uid_batches(draw):
    uids = draw(
        st.lists(
            st.integers(min_value=1, max_value=500), min_size=1, max_size=40
        )
    )
    order = draw(st.permutations(uids))
    n_cuts = draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(order) - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(order)]:
        if order[prev:c]:
            batches.append(order[prev:c])
        prev = c
    return uids, batches


@given(uid_batches())
@settings(max_examples=200, deadline=None)
def test_hll_registers_are_split_and_replay_invariant(case):
    """Register max-merge is associative/commutative/idempotent: the
    final register vector must be BIT-IDENTICAL to the one-shot run
    under any batch cut or delivery order, estimates must be
    non-decreasing across emissions, and full redelivery must emit
    nothing (idempotence — stronger than the partial-sum twins'
    exactly-once requirement)."""
    uids, batches = case
    one_shot, ref_state = _run_hll([uids])
    emitted, state = _run_hll(batches)
    assert list(state.get[0]) == list(ref_state.get[0])
    ests = [e for e, _v in emitted]
    assert ests == sorted(ests), "estimates must be monotone"
    assert emitted[-1][0] == one_shot[-1][0]
    vers = [v for _e, v in emitted]
    assert vers == list(range(1, len(vers) + 1))

    again, _ = _run_hll(batches, state)
    assert again == [], "redelivery cannot grow a max-merged register"


def test_hll_small_range_accuracy_closed_forms():
    """Linear counting at small n: one user estimates exactly 1
    (m·ln(m/(m−1)) rounds to 1); 50 distinct users land within ±3
    (deterministic given the md5 hash); duplicate-only batches add
    nothing."""
    emitted, state = _run_hll([[42]])
    assert emitted == [(1, 1)]
    assert _hll_estimate(state.get[0])[0] == 1
    emitted2, state = _run_hll([[42, 42, 42]], state)
    assert emitted2 == [], "duplicates of a seen user change nothing"

    uids = list(range(1, 51))
    emitted, state = _run_hll([uids])
    est = emitted[-1][0]
    assert abs(est - 50) <= 3
    nonzero = sum(1 for r in state.get[0] if r)
    assert nonzero <= 50


def test_hll_hash_is_process_stable():
    """The item hash must be derived from md5 (builtin hash() is
    per-process salted and would break checkpoint recovery) — pin two
    known values so any hash change is loud."""
    assert _hll_hash64(1) == int.from_bytes(
        __import__("hashlib").md5(b"1").digest()[:8], "big"
    )
    assert _hll_hash64(12345) != _hll_hash64(54321)


# --- r15: streak-merging changelog -------------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _longest_week_run,
    _streak_diff,
)


@given(week_batches())
@settings(max_examples=200, deadline=None)
def test_streak_kernel_newest_matches_batch_under_any_order(case):
    """EVERY emission's (max_streak, n_weeks) must equal the pure
    reference over the PREFIX delivered so far (the changelog contract:
    the newest row is always current, not just at the end), under ANY
    delivery order; versions strictly increase; every week-adding
    batch emits exactly one row; full redelivery emits nothing."""
    weeks, batches = case
    state = FakeGroupState()
    emitted = []  # (streak, n_weeks, ver)
    delivered = set()
    for batch in batches:
        grew = not set(batch) <= delivered
        delivered |= set(batch)
        for pdf in _streak_diff(
            (1,), iter([_weeks_df(list(batch))]), state
        ):
            for r in pdf.itertuples(index=False):
                emitted.append(
                    (int(r.max_streak), int(r.n_weeks), int(r.ver))
                )
                if grew:
                    assert int(r.max_streak) == _longest_week_run(
                        sorted(delivered)
                    )
                    assert int(r.n_weeks) == len(delivered)
    assert emitted, "every case delivers at least one week"
    streak, n_weeks, _ver = emitted[-1]
    assert streak == _longest_week_run(weeks)
    assert n_weeks == len(weeks)
    vers = [v for _s, _n, v in emitted]
    assert vers == sorted(set(vers)), "one strictly-increasing row per change"
    seen = set()
    expect_rows = 0
    for batch in batches:
        if not set(batch) <= seen:
            expect_rows += 1
        seen |= set(batch)
    assert len(emitted) == expect_rows

    again = []
    for batch in batches:
        again.extend(
            _streak_diff((1,), iter([_weeks_df(list(batch))]), state)
        )
    assert again == [], "redelivery must be absorbed by the week set"


def test_streak_kernel_superadditive_merge_closed_form():
    """The island-merge pin: {100, 102} reads streak 1; a late 101
    joins both islands — streak jumps 1 → 3, a +2 move a single
    extension can never produce.  _longest_week_run closed forms."""
    assert _longest_week_run([]) == 0
    assert _longest_week_run([5]) == 1
    assert _longest_week_run([1, 2, 3, 7, 8]) == 3

    state = FakeGroupState()
    rows = []
    for batch in ([100, 102], [101]):
        for pdf in _streak_diff((1,), iter([_weeks_df(batch)]), state):
            rows.extend(
                (int(r.max_streak), int(r.n_weeks))
                for r in pdf.itertuples(index=False)
            )
    assert rows == [(1, 2), (3, 3)]


# --- r15: exact-percentile ledger changelog ----------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _US_PER_HOUR,
    _hourly_load_pctl,
    _interp_percentile,
)


def _hours_df(hours):
    """hours: list of epoch-hour ints (duplicates = load) -> kernel
    input frame."""
    return pd.DataFrame(
        {
            "event_type": "view",
            "ts": pd.to_datetime(
                [h * _US_PER_HOUR * 1000 + 7_000 for h in hours]
            ),
        }
    )


@st.composite
def hour_event_batches(draw):
    """Events over a small hour range (duplicates make per-hour load),
    dealt into 1-4 batches in ARBITRARY order — count deltas are
    commutative so any cut/order must converge."""
    events = draw(
        st.lists(
            st.integers(min_value=0, max_value=6), min_size=1, max_size=24
        )
    )
    order = draw(st.permutations(events))
    n_cuts = draw(st.integers(min_value=0, max_value=3))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=1, max_value=max(len(order) - 1, 1)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(order)]:
        if order[prev:c]:
            batches.append(list(order[prev:c]))
        prev = c
    return events, batches


@given(hour_event_batches())
@settings(max_examples=200, deadline=None)
def test_hourly_pctl_kernel_converges_under_any_order(case):
    """EVERY emission must equal the prefix-multiset reference (exact
    counts per delivered hour; Spark's two-sided weighted
    interpolation) under ANY delivery order and batch cut — the
    changelog contract that the newest row is always current; every
    batch emits exactly one row; versions strictly increase."""
    events, batches = case
    state = FakeGroupState()
    emitted = []
    ledger = {}
    for batch in batches:
        for h in batch:
            ledger[h] = ledger.get(h, 0) + 1
        ys = sorted(ledger.values())
        for pdf in _hourly_load_pctl(
            ("view",), iter([_hours_df(batch)]), state
        ):
            for r in pdf.itertuples(index=False):
                row = (
                    int(r.n_hours),
                    int(r.max_load),
                    float(r.p50_load),
                    float(r.p90_load),
                    float(r.p99_load),
                    int(r.ver),
                )
                emitted.append(row)
                assert row[:5] == (
                    len(ys),
                    ys[-1],
                    _interp_percentile(ys, 0.5),
                    _interp_percentile(ys, 0.9),
                    _interp_percentile(ys, 0.99),
                )
    assert len(emitted) == len(batches), "one emission per counting batch"
    vers = [e[-1] for e in emitted]
    assert vers == sorted(set(vers))


def test_interp_percentile_closed_forms():
    """Pin the shared-formula interpolation on closed forms: exact
    index hits return the value; midpoints interpolate linearly; a
    single value is every percentile."""
    assert _interp_percentile([7], 0.5) == 7.0
    assert _interp_percentile([1, 3], 0.5) == 2.0
    assert _interp_percentile([1, 2, 3], 0.5) == 2.0
    assert _interp_percentile([0, 10], 0.9) == 9.0
    assert _interp_percentile([1, 2, 4], 0.75) == 3.0
    assert _interp_percentile([5, 5, 5, 5], 0.99) == 5.0


# --- r16: table-digest partials ----------------------------------------------

from googlecloudstorage_blueprints_spark.streaming.stateful import (  # noqa: E402
    _DIGEST_SUM_MOD,
    _table_digest_partials,
)


def test_digest_kernel_modulus_matches_batch_constant():
    """Constants-drift pin: the kernel's literal modulus equals the
    batch operator's DIGEST_SUM_MOD (duplicated so the Arrow worker
    never imports the registry)."""
    from googlecloudstorage_blueprints_spark.operators.audit import (
        DIGEST_SUM_MOD,
    )

    assert _DIGEST_SUM_MOD == DIGEST_SUM_MOD


@st.composite
def hash_batches(draw):
    """A multiset of 60-bit row hashes cut into arbitrary batches
    (including empty ones — a micro-batch can deliver no rows for a
    shard)."""
    hs = draw(
        st.lists(
            st.integers(min_value=0, max_value=2**60 - 1),
            min_size=1,
            max_size=24,
        )
    )
    n_cuts = draw(st.integers(min_value=0, max_value=4))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(min_value=0, max_value=len(hs)),
                min_size=n_cuts,
                max_size=n_cuts,
            )
        )
    )
    batches, prev = [], 0
    for c in cuts + [len(hs)]:
        batches.append(hs[prev:c])  # empty slices stay — they must no-op
        prev = c
    return hs, batches


def _digest_ref(hs):
    """Pure whole-multiset reference: (count, XOR, Σ mod p)."""
    x = 0
    s = 0
    for v in hs:
        x ^= v
        s = (s + v) % _DIGEST_SUM_MOD
    return len(hs), x, s


@given(hash_batches())
@settings(max_examples=200, deadline=None)
def test_digest_kernel_partials_merge_exactly_under_any_cut(case):
    """PREFIX-EQUALITY (the r15 harness standard): EVERY emission — not
    just the final one — equals the pure reference (count, XOR, Σ mod
    p) of exactly the prefix delivered so far, so a mid-stream
    ``validate`` read is always a correct digest of the data that has
    landed.  ver increments exactly once per non-empty batch and empty
    batches emit nothing."""
    hs, batches = case
    state = FakeGroupState()
    emitted = []
    for batch in batches:
        pdf = pd.DataFrame({"h": pd.Series(batch, dtype="int64")})
        for out in _table_digest_partials(
            ("documents", 3), iter([pdf]), state
        ):
            emitted.append((out.iloc[0], len(batch)))

    n_nonempty = sum(1 for b in batches if b)
    assert len(emitted) == n_nonempty
    assert [int(e["ver"]) for e, _ in emitted] == list(
        range(1, n_nonempty + 1)
    )
    prefix = []
    it = iter(emitted)
    for batch in batches:
        prefix.extend(batch)
        if not batch:
            continue
        e, _ = next(it)
        assert (
            int(e["n_rows"]),
            int(e["digest"]),
            int(e["digest_sum"]),
        ) == _digest_ref(prefix)
    assert state.get == _digest_ref(hs) + (n_nonempty,)
