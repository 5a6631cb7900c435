"""One landing harness for the streaming-twin replays: frames planted as
flat files of a file-source directory, drained to memory or through a
checkpointed parquet sink.

At ``max_files_per_trigger=1`` each planted file is one micro-batch, in
planting order (the file source takes the oldest file first), which is
how the replays exercise cross-batch state, redelivery and restart.
"""

from __future__ import annotations

import glob
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from googlecloudstorage_blueprints_spark.streaming import run_stream_to_memory


def halves(frame, col: str = "ts"):
    """``frame`` split at the approximate median of its timestamp
    ``col``: (rows before it, rows at or after it)."""
    m = frame.selectExpr(
        f"timestamp_micros(CAST(percentile_approx(unix_micros({col}), 0.5)"
        " AS BIGINT)) AS m"
    ).collect()[0]["m"]
    return (
        frame.where(F.col(col) < F.lit(m)),
        frame.where(F.col(col) >= F.lit(m)),
    )


class Landing:
    """``root/src`` as a twin's source directory, with its parquet sink
    and checkpoint beside it."""

    def __init__(self, spark, root):
        self.spark = spark
        self.root = root
        self.src = root / "src"
        self.src.mkdir(parents=True)
        self.uri = f"file:{self.src}"
        self.sink_uri = f"file:{root}/sink"
        self.ckpt = f"file:{root}/ckpt"
        self.files = 0

    def plant(self, *parts) -> Landing:
        """Land each part as the next flat file: a path (a fixture
        table) is copied, an Arrow table written as is, and a DataFrame
        written by one task."""
        for part in parts:
            dst = self.src / f"{self.files:02d}.parquet"
            if isinstance(part, str):
                shutil.copy(part, dst)
            elif isinstance(part, pa.Table):
                pq.write_table(part, dst)
            else:
                # write.parquet makes a DIRECTORY; the file source lists
                # flat files, so move the one part file into place
                stage = self.root / f"stage_{self.files:02d}"
                part.coalesce(1).write.parquet(f"file:{stage}")
                shutil.move(glob.glob(f"{stage}/part-*.parquet")[0], dst)
            self.files += 1
        return self

    def replay(self, twin, query: str, **kwargs):
        """Drain ``twin`` over the landed files, one file per
        micro-batch, into the memory table ``query``."""
        return run_stream_to_memory(
            twin(
                self.spark, self.uri, glob="*.parquet",
                max_files_per_trigger=1, **kwargs,
            ),
            query,
        )

    def drain(self, twin, **kwargs):
        """``sink`` one run of ``twin`` over the landed files."""
        return self.sink(
            twin(self.spark, self.uri, glob="*.parquet", **kwargs)
        )

    def sink(self, stream):
        """One availableNow run of ``stream`` into the checkpointed
        parquet sink (a restart once the checkpoint exists); returns
        the sink."""
        query = (
            stream.writeStream.format("parquet")
            .option("path", self.sink_uri)
            .option("checkpointLocation", self.ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination(120)
        return self.spark.read.parquet(self.sink_uri)
