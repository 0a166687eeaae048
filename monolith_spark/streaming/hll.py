"""Continuous distinct-count state via DataSketches HLL.

`approx_count_distinct` gives a per-query estimate but no reusable
state: every read rescans raw data, and at 100 TB a "daily active
users over all history" query re-shuffles the full (day, user) stream.
DataSketches HLL sketches (Spark 3.5+: hll_sketch_agg / hll_union_agg /
hll_sketch_estimate) are MERGEABLE binary state: each micro-batch
appends one small sketch per group, reads union the partials — the
same continuous-aggregate shape as ContinuousRollup (sums) and
ContinuousCMS (frequencies), completing the mergeable-state trio for
distinct counts.

Properties: partial unions are order- and batching-insensitive; a
replayed epoch overwrites its own partition (idempotent); per-group
state is ~KB regardless of cardinality. For small cardinalities the
sketch is in exact (coupon) mode, so tests can assert estimate ==
exact count rather than a tolerance.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from monolith_spark.streaming.ledger import EpochSink, read_epochs, write_epoch


@dataclass
class ContinuousHLL(EpochSink):
    """foreachBatch sink maintaining per-group HLL sketches of
    ``value_col`` under ``path`` (epoch-partitioned parquet)."""

    spark: SparkSession
    path: str
    value_col: str
    group_cols: list[str] = field(default_factory=list)
    lgk: int = 12  # DataSketches lgConfigK; 12 → ~1.6% rsd, 4 KB max

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        partial = batch_df.groupBy(*self.group_cols).agg(
            F.hll_sketch_agg(self.value_col, self.lgk).alias("sketch")
        )
        write_epoch(partial, self.path, epoch_id)

    def read(self) -> DataFrame:
        """Merged estimates: [*group_cols, n_distinct]. Before the
        first epoch lands, group columns default to string in the
        empty frame (their true types are only known from data)."""
        schema = ", ".join(
            [f"`{c}` string" for c in self.group_cols] + ["sketch binary"]
        )
        # a literal key keeps "no epochs → no rows" when ungrouped (a
        # global aggregate would emit one zero-estimate row); a boolean,
        # since an integer literal would be read as a GROUP BY ordinal
        return (
            read_epochs(self.spark, self.path, schema)
            .groupBy(*(self.group_cols or [F.lit(True)]))
            .agg(F.hll_union_agg("sketch").alias("merged"))
            .select(
                *self.group_cols,
                F.hll_sketch_estimate("merged").alias("n_distinct"),
            )
        )
