"""Continuous K-minimum-values sketch: streaming distinct-count state.

KMV's merge (union partials, re-take the k smallest per group —
operators/sketches.py:kmv_merge) makes it a perfect continuous
aggregate, like the CMS twin: each micro-batch writes its own
per-group k-row partial — O(batch) work, ≤ k rows per group out,
independent of stream history — and reads re-merge by ranking the
union. Same epoch-dir + marker idempotency as ContinuousCMS: a
replayed epoch overwrites its own partition instead of re-unioning.

This is the streaming path for "how many distinct users/keys so far"
at 100 TB/day ingest with an EXACTLY reproducible estimator (contrast
HLL++'s engine-specific registers): bounded state where a streaming
countDistinct would hold every key in the state store.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.operators.sketches import kmv_estimate, kmv_sketch
from monolith_spark.streaming.ledger import EpochSink, read_epochs, write_epoch


@dataclass
class ContinuousKMV(EpochSink):
    """foreachBatch sink maintaining per-group KMV sketches of
    ``key_col`` under ``path`` (epoch-partitioned parquet of k-row
    partials)."""

    spark: SparkSession
    path: str
    key_col: str = "key"
    group_cols: list[str] = field(default_factory=lambda: ["grp"])
    k: int = 64

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        write_epoch(
            kmv_sketch(batch_df, self.key_col, self.group_cols, self.k),
            self.path,
            epoch_id,
        )

    def sketch(self) -> DataFrame:
        """The merged whole-stream sketch [*group_cols, h] — the k
        smallest distinct hashes per group across every epoch."""
        from pyspark.sql import Window

        schema = ", ".join(f"{c} string" for c in self.group_cols) + ", h long"
        u = (
            read_epochs(self.spark, self.path, schema)
            .select(*self.group_cols, "h")
            .distinct()
        )
        w = Window.partitionBy(*self.group_cols).orderBy("h")
        return (
            u.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= self.k)
            .drop("__rn")
        )

    def estimate(self) -> DataFrame:
        """Per-group distinct estimates over everything streamed so
        far — exact below k, (k−1)/U_(k) above."""
        return kmv_estimate(self.sketch(), self.group_cols, self.k)
