"""SparkSession construction with scale-aware defaults.

The knobs below are chosen for correctness-at-scale first:

- **AQE on** (coalesce post-shuffle partitions, skew-join splitting,
  runtime broadcast demotion/promotion). At 100 TB the static plan is
  always wrong somewhere; AQE fixes it at runtime.
- **UTC session timezone** so epoch math is deterministic regardless of
  the host's zone (parquet naive timestamps compare identically in
  Spark and DuckDB oracles).
- **Arrow enabled** so the few Pandas-UDF operators (similarity
  fallbacks, multimodal decode) move data in columnar batches, not
  pickled rows.
- ``spark.sql.shuffle.partitions`` is a fixed 32 whatever the core
  count (``shuffle_partitions`` overrides it); on a real cluster you
  would size it so each post-shuffle partition is ~128-512 MB (e.g.
  100 TB input with heavy reduction → tens of thousands of
  partitions), or simply let AQE coalesce from a high initial number.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "web-analytics-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` keeps whatever the environment provides (cluster
    submit, or an already-running session); tests pass ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None and cpus:
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)

    conf = {
        "spark.sql.session.timeZone": "UTC",
        # The events fixture stores TIMESTAMP(NANOS), which Spark 4
        # rejects outright; read nanos as int64 (rebuilt to micros in
        # sources.tables.load_table). Set once here — library code only
        # falls back to an idempotent runtime set for driver-provided
        # vanilla sessions.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
        ),
        # Parquet scans: keep row groups parallel but bounded.
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Broadcast any dimension <64 MB — region/nation/customer/part
        # class tables stay broadcast even at large SF.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, conf: dict[str, str]) -> Iterator[None]:
    """Set runtime ``conf`` for the ``with`` body, then restore it, on
    error too: a key that was set gets its old value back, a key that
    was unset is unset again (not pinned to its default)."""
    prev = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
