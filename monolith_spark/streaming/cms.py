"""Continuous count-min sketch: streaming frequency state.

Counter addition is the CMS merge operation (operators/sketches.py:
cms_merge), which makes the sketch a perfect continuous aggregate:
each micro-batch appends its own depth×width partial sketch — O(batch)
work with a few-KB output, independent of stream history or key
cardinality — and reads re-merge by summing counters. The same
epoch-dir + marker idempotency as ContinuousRollup: a replayed epoch
overwrites its own partition instead of double-counting.

This is the streaming path for "what are the heavy hitters so far" at
100 TB/day ingest: bounded state where a streaming groupBy(token)
would hold the whole vocabulary in the state store.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.sketches import cms_estimate, cms_sketch
from monolith_spark.streaming.ledger import EpochSink, read_epochs, write_epoch


@dataclass
class ContinuousCMS(EpochSink):
    """foreachBatch sink maintaining a count-min sketch of ``key_col``
    under ``path`` (epoch-partitioned parquet of counter partials)."""

    spark: SparkSession
    path: str
    key_col: str = "key"
    depth: int = 3
    width: int = 1024

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(
            cms_sketch(batch_df, self.key_col, self.depth, self.width),
            self.path,
            epoch_id,
        )

    def sketch(self) -> DataFrame:
        """The merged whole-stream sketch [d, bucket, n]."""
        return (
            read_epochs(self.spark, self.path, "d int, bucket long, n long")
            .groupBy("d", "bucket")
            .agg(F.sum("n").alias("n"))
        )

    def estimate(self, keys: DataFrame) -> DataFrame:
        """Frequency upper bounds for ``keys`` against everything
        streamed so far."""
        return cms_estimate(self.sketch(), keys, self.key_col, self.depth, self.width)
