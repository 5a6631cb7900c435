"""Fast-lane batch-equality pins, one per stateful-kernel class of
``streaming/stateful.py``: each replays the sf0.001 backlog through one
``STATEFUL_TWINS`` row and reduces the drained changelog the way its
class is consumed, then checks it against the batch operator.

- row set: the event-time-timeout grid (``streaming_gapfill``) and the
  band buckets (``streaming_lsh_candidates``);
- newest emission per key: the no-timeout changelog
  (``streaming_latest_snapshot``);
- summed per-batch partials (``streaming_transition_matrix``);
- newest-per-shard merge: the bounded sketch, exact while the
  vocabulary fits (``streaming_topk_words``), and the shard digest
  (``streaming_table_digest``, on two tables).

The dau_wau mark feed is pinned in ``test_new_ops_r12c``.  The heavier
replays (multi-batch, redelivery, checkpoint restart) stay in the
``slow`` ``test_streaming``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from googlecloudstorage_blueprints_spark.operators import all_queries
from googlecloudstorage_blueprints_spark.sources.catalog import load_table
from googlecloudstorage_blueprints_spark.streaming import (
    merge_digest_rows,
    run_stream_to_memory,
    stateful,
)

SF = "/root/testdata/sf0.001"


def _row_set(rows, cols):
    return {tuple(r[c] for c in cols) for r in rows}


def _newest(rows, key, rank):
    """The highest-``rank`` row for each ``key``."""
    newest = {}
    for r in rows:
        k = key(r)
        if k not in newest or rank(r) > rank(newest[k]):
            newest[k] = r
    return newest


def _summed(rows, key, value):
    totals = {}
    for r in rows:
        k = tuple(r[c] for c in key)
        totals[k] = totals.get(k, 0) + r[value]
    return totals


def _top20(counts):
    return sorted(((c, w) for w, (c, _err) in counts.items()),
                  key=lambda t: (-t[0], t[1]))[:20]


def _stream_word_counts(rows):
    """Newest (max-ver) counter per (shard, word), summed over shards:
    word -> (est, err), plus the top 20 by (est, word)."""
    merged = {}
    for r in _newest(rows, lambda r: (r["shard"], r["word"]),
                     lambda r: r["ver"]).values():
        est, err = merged.get(r["word"], (0, 0))
        merged[r["word"]] = (est + r["est"], err + r["err"])
    return merged, _top20(merged)


def _batch_word_counts(spark):
    """Exact batch word counts with zero error: word -> (count, 0)."""
    counts = {
        r["w"]: (r["c"], 0)
        for r in load_table(spark, SF, "documents")
        .where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    return counts, _top20(counts)


def _batch_transition_counts(spark):
    return {
        (r["src"], r["dst"]): r["n"]
        for r in all_queries()["events_transition_matrix"](
            spark, SF
        ).collect()
    }


def _batch_digest(spark, table):
    from googlecloudstorage_blueprints_spark.operators.audit import (
        digest_frame,
    )

    row = digest_frame(spark, SF, [table]).collect()[0]
    return row["n_rows"], row["digest"], row["digest_sum"]


def _batch_band_pairs(spark):
    """Candidate pairs of the batch band self-join over the same
    shingle hashes, Arrow kernel and banding."""
    from googlecloudstorage_blueprints_spark.operators.dedup import (
        hashed_shingle_docs,
        minhash_signatures_arrow,
    )

    docs = hashed_shingle_docs(load_table(spark, SF, "documents"))
    bands = minhash_signatures_arrow(docs, emit_bands=True)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    return _row_set(
        ba.join(
            bb,
            (F.col("ba.band_id") == F.col("bb.band_id"))
            & (F.col("ba.band_hash") == F.col("bb.band_hash"))
            & (F.col("ba.doc_id") < F.col("bb.doc_id")),
        )
        .select(
            F.col("ba.doc_id").alias("doc_a"),
            F.col("bb.doc_id").alias("doc_b"),
        )
        .collect(),
        ("doc_a", "doc_b"),
    )


_GAPFILL = ("user_id", "bucket", "observed", "filled_value")
_SNAPSHOT = ("user_id", "event_id", "ts_us", "event_type", "value")

# twin -> (keyword arguments of each replay, reduce(drained rows),
# batch(spark, **kwargs)); a reduced replay must equal its batch value
PINS = {
    "streaming_gapfill": (
        [{}],
        lambda rows: _row_set(rows, _GAPFILL),
        lambda spark: _row_set(
            all_queries()["events_gapfill"](spark, SF).collect(), _GAPFILL
        ),
    ),
    "streaming_lsh_candidates": (
        [{}],
        lambda rows: _row_set(rows, ("doc_a", "doc_b")),
        _batch_band_pairs,
    ),
    "streaming_latest_snapshot": (
        [{}],
        lambda rows: _row_set(
            _newest(rows, lambda r: r["user_id"],
                    lambda r: (r["ts_us"], r["event_id"])).values(),
            _SNAPSHOT,
        ),
        lambda spark: _row_set(
            all_queries()["latest_snapshot"](spark, SF).collect(), _SNAPSHOT
        ),
    ),
    "streaming_transition_matrix": (
        [{}],
        lambda rows: _summed(rows, ("src", "dst"), "n"),
        _batch_transition_counts,
    ),
    "streaming_topk_words": (
        [{}],
        _stream_word_counts,
        _batch_word_counts,
    ),
    "streaming_table_digest": (
        [{"table": "documents"}, {"table": "orders"}],
        merge_digest_rows,
        _batch_digest,
    ),
}


@pytest.mark.parametrize(
    "name", [n for n in stateful.STATEFUL_TWINS if n in PINS]
)
def test_stateful_twin_matches_batch(spark, name):
    calls, reduce, batch = PINS[name]
    for i, kwargs in enumerate(calls):
        stream_df = getattr(stateful, name)(spark, SF, **kwargs)
        assert stream_df.isStreaming
        rows = run_stream_to_memory(stream_df, f"pin_{name}_{i}").collect()
        want = batch(spark, **kwargs)
        assert len(rows) > 0 and len(want) > 0, (name, kwargs)
        assert reduce(rows) == want, (name, kwargs)


def test_every_pin_is_a_table_row():
    assert set(PINS) <= set(stateful.STATEFUL_TWINS)
