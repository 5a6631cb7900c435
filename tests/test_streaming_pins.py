"""Fast-lane batch-equality pins, one per stateful-kernel class of
``streaming/stateful.py``: each replays the sf0.001 backlog through one
streaming twin and checks it against the batch operator.

- event-time timeout (``streaming_gapfill``);
- no-timeout changelog, newest emission wins (``streaming_latest_snapshot``);
- per-batch partial counts, summed (``streaming_transition_matrix``);
- bounded sketch, exact while the vocabulary fits (``streaming_topk_words``);
- shard digest (``streaming_table_digest``);
- band buckets (``streaming_lsh_candidates``).

The dau_wau mark feed is pinned in ``test_new_ops_r12c``.  The heavier
replays (multi-batch, redelivery, checkpoint restart) stay in the
``slow`` ``test_streaming``.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from googlecloudstorage_blueprints_spark.operators import all_queries
from googlecloudstorage_blueprints_spark.streaming import run_stream_to_memory

SF = "/root/testdata/sf0.001"


def test_streaming_gapfill_matches_batch(spark, tmp_path):
    """In-order replay of the events backlog must produce exactly the
    batch events_gapfill rows: same grid, same observed flags, same
    forward-filled values."""
    from googlecloudstorage_blueprints_spark.operators import all_queries
    from googlecloudstorage_blueprints_spark.streaming import (
        run_stream_to_memory,
        streaming_gapfill,
    )

    got = run_stream_to_memory(
        streaming_gapfill(spark, SF), "gapfill_smoke"
    )
    got_rows = {
        (r["user_id"], r["bucket"], r["observed"], r["filled_value"])
        for r in got.collect()
    }
    batch_rows = {
        (r["user_id"], r["bucket"], r["observed"], r["filled_value"])
        for r in all_queries()["events_gapfill"](spark, SF).collect()
    }
    assert got_rows == batch_rows and len(batch_rows) > 0


def test_streaming_latest_snapshot_matches_batch(spark):
    """The newest emission per key of the streaming CDC compaction must
    equal the batch latest_snapshot rows exactly."""
    from googlecloudstorage_blueprints_spark.operators import all_queries
    from googlecloudstorage_blueprints_spark.streaming import (
        run_stream_to_memory,
        streaming_latest_snapshot,
    )

    got = run_stream_to_memory(
        streaming_latest_snapshot(spark, SF), "snapshot_single"
    )
    newest = {}
    for r in got.collect():
        k = r["user_id"]
        if k not in newest or (r["ts_us"], r["event_id"]) > (
            newest[k]["ts_us"],
            newest[k]["event_id"],
        ):
            newest[k] = r
    got_rows = {
        (r["user_id"], r["event_id"], r["ts_us"], r["event_type"], r["value"])
        for r in newest.values()
    }
    batch_rows = {
        (r["user_id"], r["event_id"], r["ts_us"], r["event_type"], r["value"])
        for r in all_queries()["latest_snapshot"](spark, SF).collect()
    }
    assert got_rows == batch_rows and len(batch_rows) > 0


def _batch_transition_counts(spark):
    return {
        (r["src"], r["dst"]): r["n"]
        for r in all_queries()["events_transition_matrix"](
            spark, SF
        ).collect()
    }


def test_streaming_transition_matrix_matches_batch(spark):
    """Summed partial emissions over a single availableNow replay must
    equal the batch lead-window transition counts exactly."""
    from googlecloudstorage_blueprints_spark.streaming import (
        run_stream_to_memory,
        streaming_transition_matrix,
    )

    got_df = run_stream_to_memory(
        streaming_transition_matrix(spark, SF), "transition_single"
    )
    got = {
        (r["src"], r["dst"]): r["total"]
        for r in got_df.groupBy("src", "dst")
        .agg(F.sum("n").alias("total"))
        .collect()
    }
    batch = _batch_transition_counts(spark)
    assert got == batch and len(batch) > 0


def test_streaming_topk_words_exact_when_vocab_fits(spark, tmp_path):
    """The fixture vocabulary fits the per-shard capacity, so no
    eviction ever fires: merging the newest (max-ver) counter rows per
    shard must equal the batch word counts EXACTLY (err all 0), and
    the global top-20 by (est, word) must match the batch top-20."""
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        run_stream_to_memory,
        streaming_topk_words,
    )

    rows = run_stream_to_memory(
        streaming_topk_words(spark, SF), "topk_words"
    ).collect()
    newest = {}
    for r in rows:
        k = (r["shard"], r["word"])
        if k not in newest or r["ver"] > newest[k][2]:
            newest[k] = (r["est"], r["err"], r["ver"])
    merged = {}
    for (_s, w), (est, err, _v) in newest.items():
        merged[w] = (merged.get(w, (0, 0))[0] + est,
                     merged.get(w, (0, 0))[1] + err)
    batch = {
        r["w"]: r["c"]
        for r in load_table(spark, SF, "documents")
        .where(F.col("text").isNotNull())
        .select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert {w: e for w, (e, _err) in merged.items()} == batch
    assert all(err == 0 for _e, err in merged.values())
    top_stream = sorted(
        ((e, w) for w, (e, _err) in merged.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    top_batch = sorted(
        ((c, w) for w, c in batch.items()), key=lambda t: (-t[0], t[1])
    )[:20]
    assert top_stream == top_batch


def _merge_digest_rows(rows):
    """Newest (max-ver) partial per shard, merged the documented way:
    Σn, XOR of digests, sum of digest_sums mod p."""
    from googlecloudstorage_blueprints_spark.streaming.stateful import (
        _DIGEST_SUM_MOD,
    )

    newest = {}
    for r in rows:
        k = r["shard"]
        if k not in newest or r["ver"] > newest[k]["ver"]:
            newest[k] = r
    n = x = s = 0
    for r in newest.values():
        n += r["n_rows"]
        x ^= r["digest"]
        s = (s + r["digest_sum"]) % _DIGEST_SUM_MOD
    return n, x, s


def test_streaming_table_digest_matches_batch(spark):
    """Single availableNow replay: the merged newest per-shard partials
    equal the batch ``table_row_digest`` row exactly — for documents
    (int/str canonical kinds) AND orders (the ts + money kinds, so the
    shared ``row_hash_expr`` canonical string is exercised end-to-end
    on the stream)."""
    from googlecloudstorage_blueprints_spark.operators.audit import (
        digest_frame,
    )
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_table_digest,
    )

    for table in ("documents", "orders"):
        rows = run_stream_to_memory(
            streaming_table_digest(spark, SF, table=table),
            f"tdigest_{table}",
        ).collect()
        assert rows, table
        batch = digest_frame(spark, SF, [table]).collect()[0]
        assert _merge_digest_rows(rows) == (
            batch["n_rows"],
            batch["digest"],
            batch["digest_sum"],
        ), table


def test_streaming_lsh_candidates_match_batch_band_join(spark):
    """The stateful bucket operator must emit EXACTLY the candidate pairs
    the batch band self-join produces over the same backlog (same shingle
    hashes, same Arrow kernel, same banding)."""
    from googlecloudstorage_blueprints_spark.operators.dedup import (
        hashed_shingle_docs,
        minhash_signatures_arrow,
    )
    from googlecloudstorage_blueprints_spark.sources.catalog import load_table
    from googlecloudstorage_blueprints_spark.streaming import (
        streaming_lsh_candidates,
    )

    stream_df = streaming_lsh_candidates(spark, SF)
    assert stream_df.isStreaming
    got = run_stream_to_memory(stream_df, "lsh_cand_smoke")
    got_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in got.select("doc_a", "doc_b").distinct().collect()
    }

    docs = hashed_shingle_docs(load_table(spark, SF, "documents"))
    bands = minhash_signatures_arrow(docs, emit_bands=True)
    ba, bb = bands.alias("ba"), bands.alias("bb")
    batch_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in (
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
            .distinct()
            .collect()
        )
    }
    assert got_pairs == batch_pairs and len(batch_pairs) > 0
