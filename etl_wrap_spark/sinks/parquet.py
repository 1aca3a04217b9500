"""Lake-format sinks: partitioned parquet and bucketed tables — the
100-TB landing path (SURVEY §7.1 M5 scale stance).

Partitioning drives partition PRUNING on read (a filter on the
partition column skips whole directories); bucketing drives co-located,
shuffle-free joins between tables bucketed on the same keys.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str],
    mode: str = "overwrite",
    max_records_per_file: int | None = None,
) -> None:
    """Hive-style partitioned parquet. `max_records_per_file` bounds
    output file size (small-file storms are the classic failure here —
    callers should derive partition columns with bounded cardinality,
    e.g. dates, not raw keys)."""
    writer = df.write.mode(mode)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.partitionBy(*partition_by).parquet(path)


def overwrite_partitions(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """Dynamic partition overwrite: only partitions present in `df` are
    replaced — the idiomatic delete-before-insert (reference K4,
    Wrap/DB.pm:337-347) for lake targets. The mode is a writer option,
    so the session's partitionOverwriteMode conf is never touched."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: Sequence[str],
    num_buckets: int,
    sort_by: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table: joins/aggregations between tables bucketed
    on the same keys and bucket count skip the shuffle entirely."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def read_pruned(spark: SparkSession, path: str) -> DataFrame:
    """Plain read of a partitioned dataset; filters on partition columns
    prune directories (verify via explain: PartitionFilters)."""
    return spark.read.parquet(path)


def dataset_size_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes of a dataset directory (Hadoop FileSystem
    content summary — works for any fs the session can read)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    return fs.getContentSummary(p).getLength()


def compact(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_file_mb: int = 512,
    partition_by: Sequence[str] | None = None,
) -> int:
    """Small-file compaction: rewrite a dataset into ~`target_file_mb`
    files, returning the output file count.

    Streaming sinks and incremental appends (e.g. the signature index)
    accumulate micro-batch-sized files; at cluster scale the resulting
    task storm dominates scan cost, so periodic compaction is part of
    the table's lifecycle. The target count derives from actual
    on-disk bytes; a partitioned rewrite repartitions by the partition
    columns so each output partition gets coherent files. Writes to
    `out_path` (never in place — readers of `path` are unaffected until
    the caller swaps directories)."""
    size = dataset_size_bytes(spark, path)
    n_files = max(1, -(-size // (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if partition_by:
        df.repartition(int(n_files), *partition_by).write.mode("overwrite").partitionBy(
            *partition_by
        ).parquet(out_path)
    else:
        df.repartition(int(n_files)).write.mode("overwrite").parquet(out_path)
    return int(n_files)


def zorder_key(cols: Sequence[str], bits: int = 14) -> "Column":  # noqa: F821
    """Morton (Z-order) interleaved key from 2-4 non-negative integer
    columns, `bits` bits each → one bigint.

    Interleaving makes rows close in EVERY dimension also close in the
    sort order, so parquet min/max column statistics stay narrow for
    all participating columns at once — a range filter on any of them
    skips most files (single-column sort only achieves this for the
    leading column). Callers pre-normalize values to [0, 2^bits)
    (dates → day numbers, prices → buckets); values are clamped, and
    2-4 cols x 14 bits keeps the key in exact bigint range."""
    from pyspark.sql import functions as F

    if not 2 <= len(cols) <= 4:
        raise ValueError("zorder_key interleaves 2-4 columns")
    n = len(cols)
    if n * bits > 62:
        raise ValueError("cols*bits must be <= 62 to stay in int64")
    mask = (1 << bits) - 1
    key = F.lit(0).cast("bigint")
    for i, c in enumerate(cols):
        c = F.col(c) if isinstance(c, str) else c
        v = F.least(F.greatest(c.cast("bigint"), F.lit(0)), F.lit(mask))
        for j in range(bits):
            key = key + (F.shiftright(v, j).bitwiseAND(F.lit(1)) * F.lit(1 << (j * n + i))).cast(
                "bigint"
            )
    return key


def zorder_write(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    bits: int = 14,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Cluster-and-write: global range partition + in-partition sort on
    the Morton key, then drop it — each output file covers a compact
    hyper-rectangle of the column space, so filters on any zorder
    column prune files via parquet statistics. The layout-maintenance
    companion of compact(): run on cold data where multi-dimension
    point/range lookups dominate."""
    keyed = df.withColumn("__z", zorder_key(cols, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )
