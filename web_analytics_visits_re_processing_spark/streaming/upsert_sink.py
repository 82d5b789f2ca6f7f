"""Streaming → serving-table upsert via ``foreachBatch``: the
production pattern for maintaining latest-state tables from a stream
when no transactional table format (Delta/Iceberg MERGE) is in play.

Each micro-batch merges into a versioned parquet snapshot:
``state_dir/v{N}`` plus a ``_LATEST`` pointer file. A batch reads the
current snapshot, unions the new rows, keeps the latest row per key
(max order columns), writes ``v{N+1}``, then flips the pointer —
readers never observe a half-written snapshot, and a crashed batch
leaves the pointer on the previous consistent version (the replayed
batch simply rebuilds v{N+1}; the merge is idempotent because
latest-per-key is).

Scale notes: the merge is one window top-1 over the key exchange —
state-table-sized, not stream-history-sized. At serving scale the
snapshot rewrite is the cost you pay for format-free atomicity;
key-partitioned snapshot dirs (rewrite only partitions a batch
touches) is the standard next step, and a real table format replaces
the whole file with one MERGE INTO.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from web_analytics_visits_re_processing_spark.session import scoped_conf


def _latest_version(state_dir: str) -> int:
    ptr = os.path.join(state_dir, "_LATEST")
    if not os.path.exists(ptr):
        return -1
    with open(ptr) as f:
        return int(f.read().strip())


def read_state(spark, state_dir: str) -> DataFrame | None:
    """Current snapshot, or None before the first merge."""
    v = _latest_version(state_dir)
    if v < 0:
        return None
    return spark.read.parquet(os.path.join(state_dir, f"v{v}"))


def upsert_batch(
    batch_df: DataFrame,
    state_dir: str,
    key_cols: list[str],
    order_cols: list[str],
) -> None:
    """Merge one micro-batch into the snapshot (latest row per key)."""
    spark = batch_df.sparkSession
    current = read_state(spark, state_dir)
    merged = batch_df if current is None else current.unionByName(batch_df)
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    latest = (
        merged.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    v = _latest_version(state_dir) + 1
    latest.write.mode("overwrite").parquet(os.path.join(state_dir, f"v{v}"))
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, "_LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(str(v))
    os.replace(tmp, os.path.join(state_dir, "_LATEST"))


def run_upsert_stream(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    order_cols: list[str],
    timeout_s: int = 300,
    output_mode: str | None = None,
) -> None:
    """Drive a stream into the upsert sink with ``foreachBatch``
    (availableNow: drain everything pending, then stop).

    ``output_mode='update'`` is required when ``stream_df`` is itself a
    streaming aggregation (each micro-batch then delivers the changed
    keys' new cumulative values, and latest-per-key merge keeps the
    most recent one)."""
    from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
        REPLAY_SHUFFLE_PARTITIONS,
    )

    writer = stream_df.writeStream.foreachBatch(
        lambda df, _epoch: upsert_batch(df, state_dir, key_cols, order_cols)
    )
    if output_mode is not None:
        writer = writer.outputMode(output_mode)
    # same scoped stateful-stage width as _run_append_to_files: the
    # replay starts a fresh checkpoint, so the state partitioning is
    # free to size to the stream instead of the session-wide 32
    with scoped_conf(
        stream_df.sparkSession,
        {"spark.sql.shuffle.partitions": REPLAY_SHUFFLE_PARTITIONS},
    ):
        q = (
            writer.option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(timeout_s):
            q.stop()
            raise TimeoutError(f"upsert stream did not finish within {timeout_s}s")
        q.stop()
