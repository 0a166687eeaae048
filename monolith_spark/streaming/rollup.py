"""Continuous aggregate (hypertable-rollup analog): a downsampled
materialization maintained incrementally as data streams in.

The reference stores raw points only and leaves all aggregation to the
client; at 100 TB the standard fix is a continuous aggregate — each
micro-batch contributes MERGEABLE partials (sum/count/min/max per
(series, bucket)), and reads re-merge them. Appending partials is
O(batch), independent of table history; re-aggregation on read touches
only the rollup table (orders of magnitude smaller than samples).

Correctness properties:
- partials are decomposable aggregates, so append order and batch
  boundaries never change the merged result;
- replays are idempotent via the same epoch-ledger trick as the ingest
  sink (a replayed epoch is skipped, not re-appended);
- avg is derived at read time (sum/count) — never averaged partials.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from monolith_spark.engine import MonolithDB
from monolith_spark.labels import series_id_expr
from monolith_spark.streaming.ledger import EpochSink, read_epochs, write_epoch


@dataclass
class ContinuousRollup(EpochSink):
    """foreachBatch sink maintaining the rollup table beside a
    MonolithDB (path: <db>/rollup_<step_ms>). Each epoch stages the
    engine's own tiering aggregate (MonolithDB._rollup) over the
    batch, so streamed and batch rollups share one construction."""

    db: MonolithDB
    step_ms: int

    def __post_init__(self) -> None:
        self.path = os.path.join(self.db.path, f"rollup_{self.step_ms}")
        super().__post_init__()

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        keyed = batch_df.withColumn("series_id", series_id_expr("labels"))
        write_epoch(self.db._rollup(keyed, self.step_ms), self.path, epoch_id)

    def read(self) -> DataFrame:
        """Merged rollup: [series_id, bucket_ms, sum_value, n_points,
        min_value, max_value, avg_value]."""
        p = read_epochs(
            self.db.spark,
            self.path,
            "series_id long, bucket_ms long, n_points long, "
            "sum_value decimal(28,6), min_value double, max_value double",
        )
        return (
            p.groupBy("series_id", "bucket_ms")
            .agg(
                F.sum("sum_value").alias("dsum"),
                F.sum("n_points").alias("n_points"),
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
            .select(
                "series_id",
                "bucket_ms",
                F.col("dsum").cast("double").alias("sum_value"),
                "n_points",
                "min_value",
                "max_value",
                (F.col("dsum") / F.col("n_points")).cast("double").alias("avg_value"),
            )
        )
