"""Physical-layout helpers: bucketing (co-located joins) and
partitioned writes (partition pruning).

At 100 TB the shuffle for a fact×fact join dominates; pre-bucketing
both sides on the join key at write time removes it entirely — Spark
reads co-located buckets and plans SortMergeJoin with NO exchange.
Likewise a date/key-partitioned layout turns time-range predicates
into directory pruning (``PartitionFilters`` in the scan, zero IO for
excluded partitions). Both are write-once/read-many trades, the right
default for fact tables a fleet of queries will join or slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and bucket-sorted) managed table.

    ``sortBy`` on the bucket key lets SortMergeJoin skip its sort as
    well — the join becomes a pure zip of co-located streams.
    """
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Directory-partitioned parquet layout (hive-style ``col=value``
    paths); predicates on partition columns prune at planning time."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def ensure_bucketed_tables(
    spark: SparkSession,
    sf_dir: str,
    specs,
) -> tuple:
    """Write-once/read-many staging for bucketed managed tables.

    ``specs`` is an iterable of ``(table, build_fn, bucket_col,
    n_buckets)`` where ``build_fn(spark, sf_dir)`` returns the
    DataFrame to persist. Each table is repartitioned on its bucket
    column into ``n_buckets`` partitions first (same murmur3 pmod as
    the bucket spec → exactly ONE file per bucket, the precondition
    for trusting bucket sort on read) and written via
    ``write_bucketed``. Returns the fully-qualified table names.

    Keying, freshness and clean-up are ``sources.staging``'s: the
    tables are a ``memo`` entry named after a digest of the requested
    specs (table names, bucket cols, bucket counts), so two callers
    with DIFFERENT spec sets stage into different databases instead
    of the second silently receiving the first's tables. The database
    name adds the fixture basename and a hash of its absolute path,
    and its location lies under the process's stage root. A rebuild
    drops the previous tables and their directories first
    (managed-table locations outlive the in-memory catalog and would
    raise LOCATION_ALREADY_EXISTS)."""
    import hashlib
    import os
    import shutil

    from web_analytics_visits_re_processing_spark.sources.staging import (
        memo,
        stage_root,
    )

    specs = list(specs)
    specs_digest = hashlib.md5(
        repr([(t, c, n) for t, _fn, c, n in specs]).encode()
    ).hexdigest()[:8]
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    path_digest = hashlib.md5(
        (os.path.abspath(sf_dir) + "\x00" + specs_digest).encode()
    ).hexdigest()[:8]
    db = "spark_graft_bucketed_{}_{}".format(
        base.replace(".", "_").replace("-", "_"), path_digest
    )

    def build() -> tuple:
        loc = os.path.join(stage_root(), db)
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{loc}'")
        names = []
        for table, build_fn, bucket_col, n_buckets in specs:
            spark.sql(f"DROP TABLE IF EXISTS {db}.{table}")
            shutil.rmtree(os.path.join(loc, table), ignore_errors=True)
            df = build_fn(spark, sf_dir).repartition(n_buckets, bucket_col)
            write_bucketed(df, f"{db}.{table}", bucket_col, n_buckets=n_buckets)
            names.append(f"{db}.{table}")
        return tuple(names)

    return memo(spark, sf_dir, f"bucketed_{specs_digest}", build)
