"""The epoch ledger every foreachBatch sink in this package shares —
the epoch-id idempotent sink of Structured Streaming (SIGMOD 2018) and
the streaming analog of the reference's unwired WAL (S8, its
doc/wal.md).

foreachBatch may replay an epoch after recovery. A sink makes that
replay exactly-once in two steps:

- every write of epoch ``n`` goes to its own ``epoch_id=<n>``
  partition with mode=overwrite (``write_epoch``), so a crash between
  the write and the marker rewrites the same directory instead of
  appending a second copy;
- ``<path>/_epochs/<n>.done`` marks epoch ``n`` complete, so a replay
  of a finished epoch is a cheap skip.

The ledger sits inside the sink's data path: Spark's file listing
skips ``_``-prefixed directories, so readers never see it. That is
also why merged reads (``read_epochs``) decide "empty" from the epoch
partitions, never from whether ``path`` exists — the ledger creates
``path`` before the first epoch lands.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def write_epoch(df: DataFrame, path: str, epoch_id: int, *partition_by: str) -> None:
    """Write one epoch's rows to ``path/epoch_id=<n>`` (overwrite —
    replay-safe), optionally sub-partitioned by ``partition_by``."""
    df.write.partitionBy(*partition_by).mode("overwrite").parquet(
        os.path.join(path, f"epoch_id={int(epoch_id)}")
    )


def _has_epochs(path: str) -> bool:
    return os.path.isdir(path) and any(
        d.startswith("epoch_id=") for d in os.listdir(path)
    )


def read_epochs(spark: SparkSession, path: str, empty_schema: str) -> DataFrame:
    """Every epoch written under ``path`` (with an ``epoch_id``
    partition column), or an empty ``empty_schema`` frame before the
    first epoch lands."""
    if not _has_epochs(path):
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(path)


def prior_epochs(spark: SparkSession, path: str, epoch_id: int) -> DataFrame | None:
    """Every epoch under ``path`` except ``epoch_id`` (None before the
    first write). Excluding the current epoch makes a replay after a
    partial write safe: the batch never probes its own half-persisted
    rows."""
    if not _has_epochs(path):
        return None
    return (
        spark.read.parquet(path)
        .filter(F.col("epoch_id") != epoch_id)
        .drop("epoch_id")
    )


class EpochSink:
    """Base of the foreachBatch sinks: owns the ledger decision and the
    stream wiring. A subclass has a ``path`` attribute (its data root;
    the ledger lives at ``path/_epochs``) and implements
    ``_apply(batch_df, epoch_id)`` — its state math for one epoch,
    written through ``write_epoch``."""

    def __post_init__(self) -> None:
        self._epochs_dir = os.path.join(self.path, "_epochs")
        os.makedirs(self._epochs_dir, exist_ok=True)

    def _apply(self, batch_df: DataFrame, epoch_id: int) -> None:
        raise NotImplementedError

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        marker = os.path.join(self._epochs_dir, f"{epoch_id}.done")
        if os.path.exists(marker):
            return
        self._apply(batch_df, epoch_id)
        with open(marker, "w"):
            pass

    def start(
        self,
        stream_df: DataFrame,
        checkpoint_dir: str,
        trigger_seconds: float | None = None,
    ) -> StreamingQuery:
        """Attach the sink to ``stream_df``. ``trigger_seconds`` is the
        processing-time trigger (ST1's chunk-swap cadence); None
        processes available data immediately."""
        writer = (
            stream_df.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(self.process_batch)
        )
        if trigger_seconds is not None:
            writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
        return writer.start()
